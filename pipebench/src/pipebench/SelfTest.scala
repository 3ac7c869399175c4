package pipebench

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.PipebenchBus

/** Checks the benchmark's own measurement code: the percentile rule,
  * the write-amplification arithmetic, span self time, and that two
  * concurrent traced calls never mix their Spark jobs. Exits non-zero
  * on the first failed check. */
object SelfTest {
  private val failures = mutable.ArrayBuffer[String]()

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += name
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    val work = args.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("missing --work"))

    // percentile with sample count and the >=10-beyond rule
    val s30 = Stats.summarize((1 to 30).map(_.toDouble).reverse)
    check("tail of 30 samples is the 20th, with 10 beyond",
      s30.n == 30 && near(s30.tail, 20) && near(s30.p50, 15.5) &&
        near(s30.tailPct, 100.0 * 20 / 30), s30.toString)
    val xs = (1 to 100).map(_.toDouble)
    val s100 = Stats.summarize(xs)
    check("tail of 100 samples is p90 with exactly 10 beyond",
      near(s100.tail, 90) && xs.count(_ > s100.tail) == 10, s100.toString)
    val s15 = Stats.summarize((1 to 15).map(_.toDouble))
    check("too few samples: the tail falls back to the median",
      near(s15.tail, 8) && near(s15.tailPct, 50), s15.toString)
    val s1 = Stats.summarize(Seq(2.5))
    check("one sample", s1.n == 1 && near(s1.p50, 2.5) && near(s1.tail, 2.5), s1.toString)

    // write amplification
    check("write_amp is bytes written over bytes delivered",
      near(Stats.writeAmp(3000, 1000), 3.0) && near(Stats.writeAmp(1000, 4000), 0.25))
    check("write_amp with nothing delivered is 0", Stats.writeAmp(500, 0) == 0.0)

    // span self time: overlapping children count once, and are clipped
    check("self time subtracts the union of children",
      Stats.selfTime(0, 100, Seq((10, 30), (20, 40), (90, 120))) == 60)
    check("self time with nested and disjoint children",
      Stats.selfTime(0, 50, Seq((5, 45), (10, 20), (60, 70))) == 10)
    check("self time without children is the duration", Stats.selfTime(7, 19, Nil) == 12)

    // call-site layers
    check("run-log writes are control",
      LayerListener.layerOf("parquet at Control.scala:50",
        "org.apache.spark.sql.classic.DataFrameWriter.parquet(DataFrameWriter.scala:1)") == "control")
    check("other writes are sinks",
      LayerListener.layerOf("parquet at Pipelines.scala:80",
        "org.apache.spark.sql.classic.DataFrameWriter.parquet(DataFrameWriter.scala:1)") == "sinks")
    check("paged-source jobs are sources",
      LayerListener.layerOf("json at PagedSource.scala:118", "x.DataFrameReader.json") == "sources")
    check("checkpoints are operators",
      LayerListener.layerOf("localCheckpoint at Converge.scala:43", "x.Dataset.localCheckpoint") == "operators")

    // two concurrent calls under fan-out never mix their jobs
    val spark = Main.session(work)
    try {
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      val tracer = new Tracer
      tracer.enabled = true
      val jobsPer = Seq(3, 5)
      val ids = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      jobsPer.zipWithIndex.foreach { case (n, i) =>
        pool.submit(new Runnable {
          def run(): Unit = tracer.span(s"call$i", "run", op = i.toLong) {
            ids.put(i, tracer.currentSpan._1)
            start.await()
            (1 to n).foreach(k => spark.range(0, 20000L * k, 1, 4).selectExpr("sum(id)").collect())
          }
        })
      }
      start.countDown()
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
      PipebenchBus.drain(spark.sparkContext)
      val snap = listener.snapshot()
      def jobsOf(span: Long) = snap.collect { case ((s, _), c) if s == span => c.jobs }.sum
      val a = jobsOf(ids.get(0))
      val b = jobsOf(ids.get(1))
      // AQE may split one action into several jobs, so compare the
      // split with a solo run of the same actions on an untraced thread
      val solo = new LayerListener
      spark.sparkContext.addSparkListener(solo)
      (1 to 3).foreach(k => spark.range(0, 20000L * k, 1, 4).selectExpr("sum(id)").collect())
      PipebenchBus.drain(spark.sparkContext)
      val perThree = solo.snapshot().values.map(_.jobs).sum
      check("concurrent calls keep their own jobs",
        a == perThree && b * 3 == perThree * 5 && jobsOf(0L) == 0,
        s"call0 $a jobs, call1 $b jobs, unattributed ${jobsOf(0L)}, solo 3 actions $perThree jobs")
      check("span ids ride on job properties, not on the pool thread",
        tracer.all.map(_.name).sorted == Seq("call0", "call1"))
    } finally spark.stop()

    if (failures.nonEmpty) {
      println(s"[selftest] ${failures.size} failed: ${failures.mkString("; ")}")
      sys.exit(1)
    }
    println("[selftest] all checks passed")
  }
}
