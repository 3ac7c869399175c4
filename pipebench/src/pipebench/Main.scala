package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PipebenchBus
import org.apache.spark.sql.SparkSession

/** Runs one workload: several timed set-ups, a timed phase of whole
  * rounds, then (with --trace 1) a second, traced phase, then checks
  * every op's output. The last stdout line is the JSON result. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, traces: String)

  val Setups = 3

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), need("--traces"))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Workload.Parallelism}]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", Workload.Parallelism.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  /** Bytes written through Hadoop's local file system: every parquet
    * file, copied file and checksum the pipelines write. */
  def fsBytesWritten(): Long = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  /** Peak resident set size of this process, in MB (Linux VmHWM). */
  def peakRssMb(): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .get).getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  /** What one timed phase measured; `roundWallNs` and `roundCpuNs` hold
    * one entry per round. */
  final case class Phase(first: Int, rounds: Int, roundWallNs: Seq[Long],
                         roundCpuNs: Seq[Long], gcMs: Long, fsBytes: Long,
                         delivered: Long, incoming: Long, pages: Long,
                         appendFailed: Long, startNs: Long) {
    /** Median wall and CPU seconds of a round: one round that a retry
      * cascade, a collection or a neighbour's load stretched does not
      * move it. */
    def runS: Double = Stats.median(roundWallNs.map(_ / 1e9))
    def cpuS: Double = Stats.median(roundCpuNs.map(_ / 1e9))
    def ops(ctx: Ctx): Map[Long, Seq[Attempt]] = ctx.ops.filter { case (o, _) =>
      val r = Workload.roundOf(o); r >= first && r < first + rounds
    }
  }

  def runPhase(spark: SparkSession, w: Workload, ctx: Ctx, first: Int,
               seconds: Double): Phase = {
    val d0 = ctx.deliveredBytes.sum; val i0 = ctx.incomingRows.sum
    val p0 = ctx.pagesServed.sum; val a0 = ctx.appendFailures
    val (g0, f0, s0) = (gcMs(), fsBytesWritten(), Tracer.nowNs())
    val t0 = System.nanoTime()
    val walls = Seq.newBuilder[Long]
    val cpus = Seq.newBuilder[Long]
    var r = first
    do {
      val (w0, c0) = (System.nanoTime(), cpuNs())
      w.round(spark, r, ctx)
      walls += System.nanoTime() - w0
      cpus += cpuNs() - c0
      r += 1
    } while ((System.nanoTime() - t0) / 1e9 < seconds && r < first + w.maxRounds / 2)
    Phase(first, r - first, walls.result(), cpus.result(), gcMs() - g0, fsBytesWritten() - f0,
      ctx.deliveredBytes.sum - d0, ctx.incomingRows.sum - i0, ctx.pagesServed.sum - p0,
      ctx.appendFailures - a0, s0)
  }

  /** Seconds an op took: all its attempts. */
  def latency(as: Seq[Attempt]): Double = as.map(a => a.end - a.start).sum / 1e9

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val w = Workload(a.workload, a.seed)
    val ctx = new Ctx(new Tracer)
    var spark: SparkSession = null

    val setupS = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a.work)
      ctx.reset()
      w.setup(spark, s"${a.work}/setup$i", ctx)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.reset()

    val plain = runPhase(spark, w, ctx, 1, a.seconds)
    val traced = if (!a.trace) None else {
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      ctx.tracer.enabled = true
      val p = runPhase(spark, w, ctx, 1 + plain.rounds, a.seconds)
      ctx.tracer.enabled = false
      PipebenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      Some((p, listener.snapshot()))
    }
    val rounds = plain.rounds + traced.map(_._1.rounds).getOrElse(0)
    val check = w.check(spark, rounds, ctx)
    val allOps = ctx.ops
    val failed = check.failedOps.count(allOps.contains)

    val lat = plain.ops(ctx).values.map(latency).toSeq
    val sum = Stats.summarize(lat)
    val runS = plain.runS
    val e2e = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("run_s", runS, "s"),
      ("op_p50_s", sum.p50, "s"),
      ("cpu_s", plain.cpuS, "s"),
      ("peak_rss_mb", peakRssMb(), "MB"))

    val out = Console.out
    out.println(s"[pipebench] ${w.name} seed ${a.seed}: ${plain.rounds} rounds " +
      s"untraced, ${allOps.size} ops, $failed failed " +
      s"(${check.explainedByRace} by the shared run-log race)")
    out.println(f"[pipebench] setups: ${setupS.map(x => f"$x%.3f").mkString(" ")} s; ops: ${sum.label}")
    e2e.foreach { case (n, v, u) => out.println(f"[pipebench]   $n%-12s $v%12.4f $u") }
    out.println(f"[pipebench]   op_tail_s    ${sum.tail}%12.4f s (p${sum.tailPct}%.1f of ${sum.n} ops)")
    out.println(f"[pipebench]   fail_ratio   ${failed.toDouble / allOps.size}%12.4f ratio")
    out.println(f"[pipebench]   write_amp    ${Stats.writeAmp(plain.fsBytes, plain.delivered)}%12.4f ratio")
    check.unexplained.take(10).foreach(u => out.println(s"[pipebench] MISMATCH $u"))

    val metrics = traced match {
      case None => e2e
      case Some((tp, counters)) =>
        val layers = Layers(ctx, tp, counters, failed.toDouble / allOps.size,
          sum.tail, tp.runS - runS)
        layers.printTable(out)
        val dir = Paths.get(a.traces)
        Files.createDirectories(dir)
        ctx.tracer.writeTo(dir.resolve(s"${w.name}-seed${a.seed}.tsv"))
        layers.metrics
    }
    spark.stop()
    out.println(Json.result(check.unexplained.isEmpty, allOps.size, failed, metrics))
    out.flush()
  }
}

/** Runs one set-up of every workload, so a JVM started with
  * -XX:ArchiveClassesAtExit archives the classes the benchmark loads;
  * later runs map that archive instead of loading them one by one. */
object Train {
  def main(args: Array[String]): Unit = {
    val work = args.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("missing --work"))
    Workload.names.foreach { name =>
      val spark = Main.session(work)
      val w = Workload(name, 1L)
      val ctx = new Ctx(new Tracer)
      w.setup(spark, s"$work/$name", ctx)
      spark.stop()
    }
  }
}

/** The one JSON line the benchmark ends with. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"
}
