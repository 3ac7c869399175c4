package pipebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.control.Control.{RunLog, RunLogEntry}

/** One timed call the benchmark made into a layer. Times are
  * epoch-aligned nanoseconds so they compare with Spark's
  * millisecond event times. */
final case class Span(id: Long, name: String, layer: String, op: Long,
                      parent: Long, start: Long, end: Long)

/** Records spans around the benchmark's calls into the program and
  * tags every Spark job a call submits with the span's id, through a
  * thread-local Spark property, so concurrent calls under fan-out keep
  * their jobs apart. When disabled it only runs the body. */
final class Tracer {
  @volatile var enabled = false
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, -1L)
  }

  /** The innermost open span on this thread and its op id. */
  def currentSpan: (Long, Long) = current.get

  /** Run `body` as a span. `parent` defaults to the innermost open span
    * on this thread; a callback on a pool thread passes its fan-out
    * span explicitly. `op` defaults to the parent's op. */
  def span[T](name: String, layer: String, op: Long = -1L,
              parent: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val sc = org.apache.spark.PipebenchBus.active
      val (outer, outerOp) = current.get
      val p = if (parent >= 0) parent else outer
      val o = if (op >= 0) op else outerOp
      val id = ids.incrementAndGet()
      val prevProp = sc.map(_.getLocalProperty(SpanKey)).orNull
      current.set((id, o))
      sc.foreach(_.setLocalProperty(SpanKey, id.toString))
      val t0 = nowNs()
      try body
      finally {
        spans.add(Span(id, name, layer, o, p, t0, nowNs()))
        current.set((outer, outerOp))
        sc.foreach(_.setLocalProperty(SpanKey, prevProp))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Writes every span as one tab-separated line. */
  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      Seq(s.id, s.name, s.layer, s.op, s.parent, s.start, s.end).mkString("\t"))
    java.nio.file.Files.write(path,
      ("id\tname\tlayer\top\tparent\tstart_ns\tend_ns" +: lines).asJava)
  }
}

object Tracer {
  val SpanKey = "pipebench.span"
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Monotonic clock shifted onto the epoch. */
  def nowNs(): Long = System.nanoTime() + offsetNs
}

/** Spark work attributed to one (span, layer) pair. */
final class LayerCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var outputTasks = 0L
  var listingStages = 0L
  /** (start, end) epoch ns of every job. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** Attributes jobs, stages and tasks to the span whose id rode on the
  * submitting thread, and within a span to a layer picked from the
  * call site of the job's stages. */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val stageKey = mutable.Map[Int, (Long, String)]()
  private val jobKey = mutable.Map[Int, (Long, String, Long)]()
  private val counters = mutable.Map[(Long, String), LayerCounters]()

  private def at(k: (Long, String)) = counters.getOrElseUpdate(k, new LayerCounters)

  /** SQL execution id -> (short, long) call site of the action that
    * started it. AQE submits most stages from its own thread pool, so
    * only the execution carries the program frame that asked. */
  private val execSite = mutable.Map[Long, (String, String)]()
  /** Shuffle-map stages that scan a local collection (a listing's
    * directory list, an api batch). */
  private val localScans = mutable.Set[Int]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(execSite(x.executionId) = (x.description, x.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(s => (s.name, s.details)))
    val layer = site.map { case (short, long) => layerOf(short, long) }.getOrElse("other")
    jobKey(e.jobId) = (span, layer, e.time)
    at((span, layer)).jobs += 1
    e.stageInfos.foreach { s =>
      if (s.rddInfos.exists(r => r.name == "ParallelCollectionRDD" &&
          r.scope.exists(_.name == "LocalTableScan"))) localScans += s.stageId
    }
    e.stageInfos.foreach { s =>
      stageKey(s.stageId) = (span, if (isListingWalk(s)) "sources" else layer)
    }
  }

  /** A stage that walks the source tree: `Sources.listFiles` spreads the
    * directory list one directory per partition through a round-robin
    * exchange and walks each in a MapPartitions over it, so the walk is
    * a MapPartitions stage whose parent scans a local collection. */
  private def isListingWalk(s: StageInfo): Boolean =
    s.parentIds.exists(localScans) && s.rddInfos.exists(_.scope.exists(_.name == "MapPartitions"))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { case (span, layer, t0) =>
      at((span, layer)).jobIntervals += ((t0 * 1000000L, e.time * 1000000L))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach { k =>
      val c = at(k)
      c.stages += 1
      if (k._2 == "sources" && isListingWalk(e.stageInfo)) c.listingStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageKey.get(e.stageId).foreach { k =>
      val c = at(k)
      c.tasks += 1
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
        if (m.outputMetrics.bytesWritten > 0) c.outputTasks += 1
      }
    }
  }

  /** A copy of the counters, keyed by (span id, layer). */
  def snapshot(): Map[(Long, String), LayerCounters] = synchronized(counters.toMap)
}

object LayerListener {
  private val sourceFiles = Set("Sources.scala", "PagedSource.scala")
  private val operatorFiles =
    Set("Converge.scala", "Flatten.scala", "SchemaOps.scala", "Merge.scala")

  /** The file named in a short call site ("count at Pipelines.scala:36"). */
  def callSiteFile(short: String): String = {
    val i = short.lastIndexOf(" at ")
    val rest = if (i < 0) short else short.substring(i + 4)
    rest.takeWhile(_ != ':')
  }

  /** Layer of a job from its call site: the run log's writes are the
    * control layer's; any other write command is the sinks layer's;
    * otherwise the file of the first program frame picks the layer, and
    * anything else (the benchmark's own calls) is "other", which the
    * report folds into the enclosing span's layer. */
  def layerOf(short: String, long: String): String = {
    val file = callSiteFile(short)
    val lastSparkFrame = long.linesIterator.take(1).mkString
    if (file == "Control.scala") "control"
    else if (lastSparkFrame.contains("DataFrameWriter")) "sinks"
    else if (sourceFiles(file)) "sources"
    else if (operatorFiles(file)) "operators"
    else if (file == "Classifier.scala") "classify"
    else if (file == "Pipelines.scala") "run"
    else if (graphFile(file)) "graph"
    else "other"
  }

  private def graphFile(f: String): Boolean =
    Set("Scc.scala", "KCore.scala", "Sssp.scala")(f)
}

/** The run log the api and file jobs share, timed per append. A failed
  * append is counted and rethrown unchanged. */
final class TracedRunLog(spark: SparkSession, path: String, tracer: Tracer)
    extends RunLog(spark, path) {
  val failedAppends = new LongAdder
  override def append(e: RunLogEntry): Unit =
    tracer.span("RunLog.append", "control") {
      try super.append(e)
      catch {
        case t: Throwable =>
          failedAppends.increment()
          throw t
      }
    }
}
