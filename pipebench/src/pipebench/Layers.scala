package pipebench

import scala.collection.mutable

/** Per-layer metrics of one traced phase, from the spans the benchmark
  * recorded and the Spark work the listener attributed to them. Counts
  * and times are per round of the workload; ratios are plain ratios. */
final case class Layers(ctx: Ctx, phase: Main.Phase,
                        counters: Map[(Long, String), LayerCounters],
                        failRatio: Double, opTailS: Double, overheadS: Double) {

  private val spans = ctx.tracer.all.filter(_.start >= phase.startNs)
  private val byId = spans.map(s => s.id -> s).toMap
  private val children = spans.groupBy(_.parent)
  private val rounds = phase.rounds.toDouble

  private def subtree(s: Span): Set[Long] = {
    val out = mutable.Set[Long]()
    val todo = mutable.Stack(s.id)
    while (todo.nonEmpty) {
      val id = todo.pop()
      if (out.add(id)) children.getOrElse(id, Nil).foreach(c => todo.push(c.id))
    }
    out.toSet
  }

  /** A job's layer, with the benchmark's own calls ("other") folded
    * into the layer of the span that made them. */
  private def resolved(span: Long, layer: String): String =
    if (layer != "other") layer else byId.get(span).map(_.layer).getOrElse("other")

  private val byLayer: Map[String, Seq[LayerCounters]] =
    counters.toSeq.groupBy { case ((s, l), _) => resolved(s, l) }
      .map { case (l, v) => l -> v.map(_._2) }

  private def under(ss: Seq[Span]): Seq[((Long, String), LayerCounters)] = {
    val ids = ss.flatMap(subtree).toSet
    counters.toSeq.filter { case ((s, _), _) => ids(s) }
  }

  private def named(n: String) = spans.filter(_.name == n)
  private def durS(ss: Seq[Span]) = ss.map(s => s.end - s.start).sum / 1e9

  /** Part of each span covered by no Spark job of its subtree. */
  private def gapS(ss: Seq[Span]): Double = ss.map { s =>
    val jobs = under(Seq(s)).flatMap(_._2.jobIntervals)
    (s.end - s.start) - Stats.covered(jobs.map { case (a, b) =>
      (math.max(a, s.start), math.min(b, s.end)) })
  }.sum / 1e9

  private def sumOf(cs: Seq[LayerCounters])(f: LayerCounters => Long): Double =
    cs.map(f).sum.toDouble

  private val all = counters.values.toSeq
  private def layer(l: String) = byLayer.getOrElse(l, Nil)
  private val runSpans = spans.filter(_.layer == "run")
  private val graphSpans = spans.filter(_.layer == "graph")
  private val ops = phase.ops(ctx)

  private def queueWaitS: Double = {
    val byRound = ops.groupBy { case (o, _) => Workload.roundOf(o) }
    byRound.values.map { roundOps =>
      roundOps.toSeq.map { case (o, as) =>
        as.indices.map { k =>
          val passStart =
            if (k == 0) ctx.released.getOrDefault(o, as.head.start)
            else roundOps.values.filter(_.size >= k).map(_(k - 1).end).max
          math.max(0L, as(k).start - passStart)
        }.sum
      }.sum
    }.sum / 1e9
  }

  private def ratio(a: Double, b: Double) = if (b <= 0) 0.0 else a / b

  val metrics: Seq[(String, Double, String)] = {
    val attempts = ops.values.map(_.size).sum.toDouble
    val pagedSpans = named("Pipelines.apiIngestPaged")
    val fileSpans = named("Pipelines.fileIngest")
    val sinkRecords = under(runSpans).collect { case ((s, l), c)
      if resolved(s, l) == "sinks" => c.outputRecords }.sum.toDouble
    val sinkJobS = layer("sinks").flatMap(_.jobIntervals).map { case (a, b) => b - a }.sum / 1e9
    Seq(
      ("sources.jobs_per_page", ratio(under(pagedSpans).map(_._2.jobs).sum, phase.pages), "jobs/page"),
      ("sources.fetch_s", durS(named("fetch")) / rounds, "s"),
      ("sources.listing_passes", ratio(under(fileSpans).map(_._2.listingStages).sum, fileSpans.size), "passes/call"),
      ("sources.task_cpu_s", sumOf(layer("sources"))(_.taskCpuNs) / 1e9 / rounds, "s"),
      ("run.driver_gap_s", gapS(runSpans) / rounds, "s"),
      ("operators.rows_rewritten_per_incoming", ratio(sinkRecords, phase.incoming), "rows/row"),
      ("operators.merge_shuffle_bytes", sumOf(layer("sinks"))(_.shuffleWriteBytes) / rounds, "bytes"),
      ("operators.checkpoints", sumOf(layer("operators"))(_.jobs) / rounds, "count"),
      ("sinks.bytes_written", sumOf(layer("sinks"))(_.outputBytes) / rounds, "bytes"),
      ("sinks.files_written", sumOf(layer("sinks"))(_.outputTasks) / rounds, "count"),
      ("sinks.write_s", sinkJobS / rounds, "s"),
      ("control.attempts", attempts / rounds, "count"),
      ("control.retries", (attempts - ops.size) / rounds, "count"),
      ("control.queue_wait_s", queueWaitS / rounds, "s"),
      ("control.runlog_append_s", durS(named("RunLog.append")) / rounds, "s"),
      ("control.runlog_append_failed", phase.appendFailed / rounds, "count"),
      ("control.fail_ratio", failRatio, "ratio"),
      ("op_tail_s", opTailS, "s"),
      ("graph.build_s", durS(named("graph.build")) / rounds, "s"),
      ("graph.execute_s", durS(named("graph.execute")) / rounds, "s"),
      ("graph.jobs", under(graphSpans).map(_._2.jobs).sum / rounds, "count"),
      ("graph.driver_gap_s", gapS(graphSpans) / rounds, "s"),
      ("graph.task_cpu_s", under(graphSpans).map(_._2.taskCpuNs).sum / 1e9 / rounds, "s"),
      ("spark.jobs", sumOf(all)(_.jobs) / rounds, "count"),
      ("spark.stages", sumOf(all)(_.stages) / rounds, "count"),
      ("spark.tasks", sumOf(all)(_.tasks) / rounds, "count"),
      ("spark.task_cpu_s", sumOf(all)(_.taskCpuNs) / 1e9 / rounds, "s"),
      ("spark.shuffle_write_bytes", sumOf(all)(_.shuffleWriteBytes) / rounds, "bytes"),
      ("spark.spill_bytes", sumOf(all)(_.spillBytes) / rounds, "bytes"),
      ("jvm.gc_s", phase.gcMs / 1000.0 / rounds, "s"),
      ("write_amp", Stats.writeAmp(phase.fsBytes, phase.delivered), "ratio"),
      ("trace.overhead_s", overheadS, "s"))
  }

  def printTable(out: java.io.PrintStream): Unit = {
    val names = Seq("control", "run", "sources", "operators", "classify", "sinks", "graph", "other")
    out.println(f"[pipebench] per layer, per round of ${phase.rounds} traced rounds:")
    out.println(f"[pipebench]   ${"layer"}%-10s ${"self_s"}%9s ${"jobs"}%8s ${"stages"}%8s ${"tasks"}%8s ${"task_cpu_s"}%10s ${"shuffle_B"}%11s ${"spill_B"}%9s")
    names.foreach { l =>
      val self = spans.filter(_.layer == l).map(s => Stats.selfTime(s.start, s.end,
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))).sum / 1e9 / rounds
      val cs = layer(l)
      def per(f: LayerCounters => Long) = sumOf(cs)(f) / rounds
      out.println(f"[pipebench]   $l%-10s $self%9.3f ${per(_.jobs)}%8.1f ${per(_.stages)}%8.1f ${per(_.tasks)}%8.1f ${per(_.taskCpuNs) / 1e9}%10.3f ${per(_.shuffleWriteBytes)}%11.0f ${per(_.spillBytes)}%9.0f")
    }
    metrics.foreach { case (n, v, u) => out.println(f"[pipebench]   $n%-40s $v%14.4f $u") }
    out.println(f"[pipebench] tracing overhead: $overheadS%.4f s per round (traced run_s - untraced run_s)")
  }
}
