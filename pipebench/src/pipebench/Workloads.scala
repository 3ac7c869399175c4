package pipebench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.classify.Classifier
import graft.control.Control
import graft.control.Control.{JobResult, JobSpec}
import graft.graph.{KCore, Scc, Sssp}
import graft.run.Pipelines
import graft.sources.PagedSource.{PageAuthExpired, PageResponse, PageTransport}

/** One attempt of an op: epoch-ns start/end, and whether it ended in
  * status "S". */
final case class Attempt(start: Long, end: Long, ok: Boolean, message: String)

/** Per-run bookkeeping the workloads fill in and the report reads. */
final class Ctx(val tracer: Tracer) {
  /** op id -> its attempts, in start order. */
  val attempts = new ConcurrentHashMap[Long, ConcurrentLinkedQueue[Attempt]]()
  /** op id -> epoch ns at which the op became runnable. */
  val released = new ConcurrentHashMap[Long, Long]()
  val pagesServed = new LongAdder
  val authRefreshes = new ConcurrentHashMap[Long, LongAdder]()
  /** Rows (api) or listed files (file) the pipelines took in. */
  val incomingRows = new LongAdder
  /** Bytes of new user data delivered to the pipelines. */
  val deliveredBytes = new LongAdder
  var runLog: TracedRunLog = _
  def appendFailures: Long = Option(runLog).map(_.failedAppends.sum).getOrElse(0L)

  /** Time one attempt of `op`; the outcome is the JobResult status, or
    * failure when the attempt throws (the throw is passed on). */
  def attempt(op: Long)(body: => JobResult): JobResult = {
    val t0 = Tracer.nowNs()
    var res: JobResult = null
    var msg = ""
    try {
      res = body
      msg = res.message
      res
    } catch {
      case t: Throwable => msg = String.valueOf(t.getMessage); throw t
    } finally {
      attempts.computeIfAbsent(op, _ => new ConcurrentLinkedQueue[Attempt]())
        .add(Attempt(t0, Tracer.nowNs(), res != null && res.status == "S", msg))
    }
  }

  /** Time one op that is not retried (file and graph calls); `body`
    * says whether it succeeded, and an exception is its failure. */
  def single(op: Long)(body: => Boolean): Unit = {
    val t0 = Tracer.nowNs()
    released.put(op, t0)
    var ok = false
    var msg = ""
    try ok = body
    catch { case scala.util.control.NonFatal(t) => msg = String.valueOf(t.getMessage) }
    attempts.computeIfAbsent(op, _ => new ConcurrentLinkedQueue[Attempt]())
      .add(Attempt(t0, Tracer.nowNs(), ok, msg))
  }

  def reset(): Unit = {
    attempts.clear(); released.clear(); authRefreshes.clear()
    pagesServed.reset(); incomingRows.reset(); deliveredBytes.reset()
  }

  def ops: Map[Long, Seq[Attempt]] =
    attempts.asScala.map { case (k, v) => k -> v.asScala.toSeq.sortBy(_.start) }.toMap
}

/** Result of checking every op's output after the timed phases. */
final case class Check(failedOps: Set[Long], unexplained: Seq[String],
                       explainedByRace: Int)

/** One benchmark workload: seeded inputs, a pre-seeded state, and
  * rounds of ops. Ops are numbered round * 1000 + position. */
abstract class Workload(val seed: Long) {
  def name: String
  def setup(spark: SparkSession, dir: String, ctx: Ctx): Unit
  def round(spark: SparkSession, r: Int, ctx: Ctx): Unit
  def check(spark: SparkSession, rounds: Int, ctx: Ctx): Check
  /** Rounds the generators prepare inputs for; a timed phase runs at
    * most half of them, so the traced phase after it still has inputs. */
  def maxRounds: Int = 40
}

object Workload {
  val Parallelism = 4
  def op(r: Int, pos: Int): Long = r * 1000L + pos
  def roundOf(op: Long): Int = (op / 1000).toInt
  def posOf(op: Long): Int = (op % 1000).toInt

  def apply(name: String, seed: Long): Workload = name match {
    case "api_nested_inc" => new ApiNestedInc(seed)
    case "api_paged" => new ApiPaged(seed)
    case "file_ingest" => new FileIngest(seed)
    case "graph_loops" => new GraphLoops(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names = Seq("api_nested_inc", "api_paged", "file_ingest", "graph_loops")

  /** A queue of jobs fanned out through Control.runWithRetries; each
    * attempt is one traced job callback. */
  def fanOut(ctx: Ctx, r: Int, specs: Seq[JobSpec])
            (run: JobSpec => JobResult): Unit =
    ctx.tracer.span("runWithRetries", "control", op = op(r, 999)) {
      val fan = ctx.tracer.currentSpan._1
      val t0 = Tracer.nowNs()
      specs.foreach(s => ctx.released.put(op(r, s.jobOrder), t0))
      Control.runWithRetries(specs, Parallelism, maxRetries = 3) { spec =>
        val o = op(r, spec.jobOrder)
        ctx.attempt(o) {
          ctx.tracer.span("job", "control", op = o, parent = fan)(run(spec))
        }
      }
    }

  /** Latest attempt outcome per op, as failures the checker reports. */
  def statusFailures(ctx: Ctx, runLogPath: String): (Set[Long], Seq[String], Int) = {
    val bad = ctx.ops.collect { case (o, as) if !as.last.ok => o -> as.last }
    val unexplained = bad.collect {
      case (o, a) if !isRunLogError(a.message, runLogPath) =>
        s"op $o ended ${a.message.take(200)}"
    }.toSeq
    (bad.keySet, unexplained, bad.size - unexplained.size)
  }

  /** An error raised by the shared run log's concurrent appends. */
  def isRunLogError(msg: String, runLogPath: String): Boolean =
    msg != null && (msg.contains(runLogPath) || msg.contains("_temporary"))

  /** Writes the pre-seeded targets 4-wide; they are generated inputs,
    * not ops. */
  def preseed(writes: Seq[() => Unit]): Unit =
    Control.runParallel(writes, Parallelism) { w => w(); JobResult(0L, "S", 0L, "") }
      .find(_.status != "S").foreach(r => throw new IllegalStateException(r.message))

  def rows(df: DataFrame): Seq[org.apache.spark.sql.Row] = df.collect().toSeq
  def long(r: org.apache.spark.sql.Row, i: Int): Long =
    r.get(i).asInstanceOf[Number].longValue
}

import Workload._

// ======================================================= api_nested_inc

/** 8 jobs 4-wide: six INC jobs upsert ~10% updates+inserts of nested
  * documents into targets 10x the increment; two APPEND feed jobs add
  * a batch each round. All share one run log. */
final class ApiNestedInc(seed: Long) extends Workload(seed) {
  val name = "api_nested_inc"
  val incJobs = 6
  val appendJobs = 2
  val baseDocs = 600
  val items = 2
  val deltaDocs = 60
  val appendDocs = 60
  val castSpecs = Seq("id:bigint", "ver:int", "meta_score:double",
    "items_sku:bigint", "items_qty:int")
  private val jobs = incJobs + appendJobs

  private var dir: String = _
  /** (round, job) -> (json docs, the rows they flatten to). */
  private val batches = mutable.Map[(Int, Int), (Seq[String], Seq[Gen.NestedRow])]()

  private def target(j: Int) = s"$dir/t$j"
  private def spec(j: Int, load: String) =
    JobSpec(j.toLong, 1, j, "api", "generated", s"t$j", load, keyCols = "id;items_sku")

  /** Inputs for every round up front: round 0 is the SNP state the
    * targets start from. */
  private def generate(): Unit = {
    batches.clear()
    (0 until jobs).foreach { j =>
      val src = s"s$j"
      val base = j * 10000000L
      var ids = (1L to baseDocs).map(base + _).toIndexedSeq
      var nextId = base + baseDocs + 1
      (0 to maxRounds).foreach { r =>
        val rr = Gen.rng(seed, 1, j, r)
        val docIds =
          if (r == 0) ids
          else if (j >= incJobs) (0 until appendDocs).map(i => base + 5000000L + r * 10000L + i)
          else {
            val upd = Gen.pick(ids, deltaDocs / 2, rr)
            val ins = (0 until deltaDocs - upd.size).map(_ => { nextId += 1; nextId - 1 })
            ids = ids ++ ins
            upd ++ ins
          }
        val docs = docIds.map(id => Gen.nestedDoc(id, r, src, items, rr))
        batches((r, j)) = (docs.map(_._1), docs.flatMap(_._2))
      }
    }
  }

  private def ingest(spark: SparkSession, ctx: Ctx, s: JobSpec, r: Int,
                     path: String): JobResult = {
    val (docs, rows) = batches((r, s.jobOrder))
    ctx.incomingRows.add(rows.size)
    ctx.deliveredBytes.add(docs.map(_.length.toLong).sum)
    import spark.implicits._
    val ds = docs.toDS()
    ctx.tracer.span("Pipelines.apiIngest", "run") {
      Pipelines.apiIngest(spark, s, ds, castSpecs, path, ctx.runLog)
    }
  }

  private def load(spark: SparkSession, ctx: Ctx, r: Int): Unit = {
    val specs = (0 until jobs).map(j => spec(j, if (j >= incJobs) "APPEND" else "INC"))
    fanOut(ctx, r, specs)(s => ingest(spark, ctx, s, r, target(s.jobOrder)))
  }

  /** Writes round 0 (the SNP state) in the schema the pipeline itself
    * gives the documents, found by its own flatten and cast. */
  private def writeSnapshot(spark: SparkSession, paths: Seq[(Int, String)]): Unit = {
    import spark.implicits._
    val schema = graft.operators.SchemaOps.castBySpec(graft.operators.Flatten.flatten(
      spark.read.json(Seq(batches((0, 0))._1.head).toDS())), castSpecs).schema
    preseed(paths.map { case (j, path) => () =>
      val rs = batches((0, j))._2.map { x =>
        val byName = Map[String, Any]("id" -> x.id, "ver" -> x.ver, "meta_src" -> x.src,
          "meta_score" -> x.score, "items_sku" -> x.sku, "items_qty" -> x.qty)
        org.apache.spark.sql.Row.fromSeq(schema.fieldNames.toSeq.map(byName))
      }
      spark.createDataFrame(rs.asJava, schema).coalesce(1).write.parquet(path)
    })
  }

  def setup(spark: SparkSession, d: String, ctx: Ctx): Unit = {
    dir = d
    generate()
    ctx.runLog = new TracedRunLog(spark, s"$dir/runlog", ctx.tracer)
    writeSnapshot(spark, (0 until jobs).map(j => j -> target(j)) :+ (0 -> s"$dir/warm"))
    // warm-up: one INC op of the timed kind, on a scratch copy of job 0
    ingest(spark, ctx, spec(0, "INC"), 1, s"$dir/warm")
  }

  def round(spark: SparkSession, r: Int, ctx: Ctx): Unit = load(spark, ctx, r)

  def check(spark: SparkSession, rounds: Int, ctx: Ctx): Check = {
    val (statusBad, unexplained0, raceStatus) =
      statusFailures(ctx, s"$dir/runlog")
    val failed = mutable.Set[Long]() ++ statusBad
    val unexplained = mutable.ArrayBuffer[String]() ++ unexplained0
    var raceRows = 0
    val ops = ctx.ops
    (0 until jobs).foreach { j =>
      val got = rows(spark.read.parquet(target(j)).select("id", "items_sku",
        "ver", "meta_src", "meta_score", "items_qty"))
        .map(r => Gen.NestedRow(long(r, 0), long(r, 1), r.getInt(2),
          r.getString(3), r.getDouble(4), r.getInt(5)))
      if (j < incJobs) {
        // latest version per key, and the round that wrote it
        val want = mutable.Map[(Long, Long), (Gen.NestedRow, Int)]()
        (0 to rounds).foreach(r => batches((r, j))._2.foreach(x =>
          want((x.id, x.sku)) = (x, r)))
        val gotBy = got.groupBy(x => (x.id, x.sku))
        want.foreach { case (k, (x, r)) =>
          if (gotBy.get(k).forall(_ != Seq(x))) {
            if (r == 0) unexplained += s"$name t$j: pre-seeded key $k wrong"
            else {
              failed += op(r, j)
              unexplained += s"$name t$j: key $k from round $r reads ${gotBy.get(k)}"
            }
          }
        }
        gotBy.keys.filterNot(want.contains).foreach { k =>
          failed += op(rounds, j)
          unexplained += s"$name t$j: unexpected key $k"
        }
      } else {
        // exact multiset per batch; a batch loaded twice by a retried
        // job is the run-log race, anything else is not
        val gotCount = got.groupBy(identity).map { case (k, v) => k -> v.size }
        val wantRows = (0 to rounds).flatMap(r => batches((r, j))._2.map(_ -> r))
        val wantSet = wantRows.map(_._1).toSet
        wantRows.groupBy(_._2).foreach { case (r, xs) =>
          val ms = xs.map(x => gotCount.getOrElse(x._1, 0)).distinct
          if (ms != Seq(1)) {
            val o = op(r, j)
            failed += o
            val attempts = ops.get(o).map(_.size).getOrElse(1)
            if (r > 0 && ms.size == 1 && ms.head > 1 && ms.head <= attempts)
              raceRows += 1
            else unexplained += s"$name t$j: batch $r multiplicities $ms"
          }
        }
        gotCount.keys.filterNot(wantSet).foreach { x =>
          failed += op(rounds, j)
          unexplained += s"$name t$j: unexpected row $x"
        }
      }
    }
    Check(failed.toSet, unexplained.toSeq, raceStatus + raceRows)
  }
}

// ============================================================ api_paged

/** 8 jobs 4-wide, each crawling many small pages through
  * Pipelines.apiIngestPaged and upserting into a small target. Some
  * ops meet one schema-drifted page, and every op meets one expired
  * credential. */
final class ApiPaged(seed: Long) extends Workload(seed) {
  val name = "api_paged"
  val jobs = 8
  val basePages = 4
  val pages = 4
  val docsPerPage = 10
  val target = StructType(Seq(StructField("id", LongType), StructField("ver", IntegerType),
    StructField("name", StringType), StructField("score", DoubleType)))

  private var dir: String = _
  /** (round, job) -> pages of (json, row, drifted). */
  private val crawls = mutable.Map[(Int, Int), Seq[Seq[(String, Gen.FlatRow, Boolean)]]]()
  private val authPage = mutable.Map[(Int, Int), Int]()

  private def tgt(j: Int) = s"$dir/t$j"
  private def failures(r: Int, j: Int) = s"$dir/failures_${r}_$j"

  private def generate(): Unit = {
    crawls.clear(); authPage.clear()
    (0 until jobs).foreach { j =>
      val base = j * 10000000L
      var ids = IndexedSeq[Long]()
      var nextId = base + 1
      (0 to maxRounds).foreach { r =>
        val rr = Gen.rng(seed, 2, j, r)
        val n = if (r == 0) basePages else pages
        val drift = if (r > 0 && (r + j) % 3 == 0) 1 + rr.nextInt(n - 1) else -1
        if (r > 0) authPage((r, j)) = rr.nextInt(n)
        // ids in this crawl are distinct: updates of old ids, then inserts
        val upd = if (r == 0) Nil else Gen.pick(ids, n * docsPerPage * 6 / 10, rr)
        val ins = (0 until n * docsPerPage - upd.size).map(_ => { nextId += 1; nextId - 1 })
        val all = rr.shuffle(upd ++ ins)
        val pg = all.grouped(docsPerPage).zipWithIndex.map { case (idsOnPage, p) =>
          idsOnPage.map { id =>
            val (json, row) = Gen.flatDoc(id, r, rr, p == drift)
            (json, row, p == drift)
          }
        }.toSeq
        // ids on a drifted page never reach the target
        ids = ids ++ pg.filterNot(_.exists(_._3)).flatten.map(_._2.id).filterNot(ids.toSet)
        crawls((r, j)) = pg
      }
    }
  }

  private def spec(j: Int) = JobSpec(j.toLong, 2, j, "api", "paged", s"t$j", "INC", keyCols = "id")

  private def crawl(spark: SparkSession, ctx: Ctx, s: JobSpec, r: Int, path: String,
                    failPath: String): JobResult = {
    val j = s.jobOrder
    val o = op(r, j)
    val pagesOf = crawls((r, j))
    val good = pagesOf.filterNot(_.exists(_._3)).flatten
    ctx.incomingRows.add(good.size)
    ctx.deliveredBytes.add(good.map(_._1.length.toLong).sum)
    val fromPages = PageTransport.fromPages(spark, pagesOf.map(_.map(_._1)))
    var expired = authPage.get((r, j))
    val refreshes = ctx.authRefreshes.computeIfAbsent(o, _ => new LongAdder)
    def fetch(i: Int, token: Option[String]): PageResponse =
      ctx.tracer.span("fetch", "sources") {
        if (expired.contains(i)) PageAuthExpired
        else {
          if (i < pagesOf.size) ctx.pagesServed.increment()
          fromPages.fetchPage(i, token)
        }
      }
    def refresh(): Unit = { refreshes.increment(); expired = None }
    ctx.tracer.span("Pipelines.apiIngestPaged", "run") {
      Pipelines.apiIngestPaged(spark, s, target, fetch _, () => refresh(), Nil,
        path, failPath, ctx.runLog)
    }
  }

  private def load(spark: SparkSession, ctx: Ctx, r: Int): Unit =
    fanOut(ctx, r, (0 until jobs).map(spec))(s =>
      crawl(spark, ctx, s, r, tgt(s.jobOrder), failures(r, s.jobOrder)))

  def setup(spark: SparkSession, d: String, ctx: Ctx): Unit = {
    dir = d
    generate()
    ctx.runLog = new TracedRunLog(spark, s"$dir/runlog", ctx.tracer)
    val warmJob = 2 // meets a drifted page in round 1
    preseed(((0 until jobs).map(j => j -> tgt(j)) :+ (warmJob -> s"$dir/warm")).map {
      case (j, path) => () =>
        val rs = crawls((0, j)).flatten.map(_._2).map(x =>
          org.apache.spark.sql.Row(x.id, x.ver, x.name, x.score))
        spark.createDataFrame(rs.asJava, target).coalesce(1).write.parquet(path)
    })
    // warm-up: one INC crawl of the timed kind, on a scratch target
    crawl(spark, ctx, spec(warmJob), 1, s"$dir/warm", s"$dir/warm_failures")
  }

  def round(spark: SparkSession, r: Int, ctx: Ctx): Unit = load(spark, ctx, r)

  def check(spark: SparkSession, rounds: Int, ctx: Ctx): Check = {
    val (statusBad, unexplained0, raceStatus) = statusFailures(ctx, s"$dir/runlog")
    val failed = mutable.Set[Long]() ++ statusBad
    val unexplained = mutable.ArrayBuffer[String]() ++ unexplained0
    (0 until jobs).foreach { j =>
      val want = mutable.Map[Long, (Gen.FlatRow, Int)]()
      (0 to rounds).foreach(r => crawls((r, j)).filterNot(_.exists(_._3)).flatten
        .foreach(x => want(x._2.id) = (x._2, r)))
      val got = rows(spark.read.parquet(tgt(j)).select("id", "ver", "name", "score"))
        .map(r => Gen.FlatRow(long(r, 0), r.getInt(1), r.getString(2), r.getDouble(3)))
        .groupBy(_.id)
      want.foreach { case (id, (x, r)) =>
        if (got.get(id).forall(_ != Seq(x))) {
          if (r == 0) unexplained += s"$name t$j: pre-seeded id $id wrong"
          else { failed += op(r, j); unexplained += s"$name t$j: id $id from round $r reads ${got.get(id)}" }
        }
      }
      got.keys.filterNot(want.contains).foreach { id =>
        failed += op(rounds, j); unexplained += s"$name t$j: unexpected id $id"
      }
      (1 to rounds).foreach { r =>
        val o = op(r, j)
        val drifted = crawls((r, j)).zipWithIndex.collect { case (p, i) if p.exists(_._3) => i }
        val quarantined = rows(spark.read.parquet(failures(r, j)).select("page", "reason"))
          .map(x => (x.getInt(0), x.getString(1))).sorted
        if (quarantined != drifted.map(i => (i, "unexpected: extra"))) {
          failed += o; unexplained += s"$name op $o quarantined $quarantined, drifted $drifted"
        }
        val n = Option(ctx.authRefreshes.get(o)).map(_.sum).getOrElse(0L)
        val attempts = ctx.ops.get(o).map(_.size).getOrElse(1)
        if (n < 1 || n > attempts) {
          failed += o; unexplained += s"$name op $o refreshed auth $n times"
        }
      }
    }
    Check(failed.toSet, unexplained.toSeq, raceStatus)
  }
}

// ========================================================== file_ingest

/** One file job over a seeded tree: an initial copy, a no-op INC, and
  * an INC after ~10% of the files are rewritten with newer mtimes;
  * every round starts a fresh target and control table. */
final class FileIngest(seed: Long) extends Workload(seed) {
  val name = "file_ingest"
  val topDirs = 4
  val files = 48
  val touchShare = 0.1
  private val T0 = 1700000000000L
  private val rules = Classifier.Rules(excludedExtensions = Gen.excludedExtensions,
    excludedNameTerms = Gen.excludedNameTerms)
  private val spec = JobSpec(1L, 3, 1, "file", "generated", "files", "INC")

  private var dir: String = _
  private var tree: IndexedSeq[Gen.FileSpec] = _
  /** file index -> rounds in which it was rewritten. */
  private val touched = mutable.Map[Int, mutable.ArrayBuffer[Int]]()
  private val copied = mutable.Map[Long, Long]()

  private def src = s"$dir/src"
  private def tgt(r: Int) = s"$dir/tgt_$r"
  private def ctl(r: Int) = s"$dir/ctl_$r"
  private def now(r: Int, k: Int) = T0 + r * 100L + k * 10L
  private def path(i: Int) = Paths.get(src, tree(i).dir, tree(i).name)
  private def version(i: Int, r: Int) =
    touched.get(i).flatMap(_.filter(_ <= r).lastOption).getOrElse(0)
  /** ~10% of the files, always one of them excluded, so every round's
    * INC copies the same number of files. */
  private def touchSet(r: Int): Seq[Int] = {
    val (ex, kept) = tree.indices.partition(tree(_).excluded)
    val rr = Gen.rng(seed, 3, r)
    Gen.pick(ex, 1, rr) ++ Gen.pick(kept, (files * touchShare).round.toInt - 1, rr)
  }

  private def ingest(spark: SparkSession, ctx: Ctx, o: Long, target: String,
                     control: String, nowMs: Long): Unit = {
    ctx.incomingRows.add(files)
    ctx.single(o) {
      val res = ctx.tracer.span("Pipelines.fileIngest", "run", op = o) {
        Pipelines.fileIngest(spark, spec, src, target, control, rules, ctx.runLog, nowMs)
      }
      copied(o) = res.records
      res.status == "S"
    }
  }

  def setup(spark: SparkSession, d: String, ctx: Ctx): Unit = {
    dir = d
    tree = Gen.fileTree(seed, topDirs, files).toIndexedSeq
    touched.clear(); copied.clear()
    tree.indices.foreach { i =>
      val p = path(i)
      Files.createDirectories(p.getParent)
      Files.write(p, Gen.fileBody(seed, i, 0))
      p.toFile.setLastModified(T0 - 1000L)
    }
    ctx.runLog = new TracedRunLog(spark, s"$dir/runlog", ctx.tracer)
    ingest(spark, ctx, op(0, 0), s"$dir/warm_tgt", s"$dir/warm_ctl", T0)
  }

  def round(spark: SparkSession, r: Int, ctx: Ctx): Unit = {
    def bytes(is: Seq[Int]) = is.filterNot(tree(_).excluded)
      .map(i => Gen.fileBody(seed, i, version(i, r)).length.toLong).sum
    ctx.deliveredBytes.add(bytes(tree.indices))
    ingest(spark, ctx, op(r, 0), tgt(r), ctl(r), now(r, 1))
    ingest(spark, ctx, op(r, 1), tgt(r), ctl(r), now(r, 2))
    val ts = touchSet(r)
    ts.foreach { i =>
      touched.getOrElseUpdate(i, mutable.ArrayBuffer()) += r
      Files.write(path(i), Gen.fileBody(seed, i, r))
      path(i).toFile.setLastModified(now(r, 3))
    }
    ctx.deliveredBytes.add(bytes(ts))
    ingest(spark, ctx, op(r, 2), tgt(r), ctl(r), now(r, 4))
  }

  def check(spark: SparkSession, rounds: Int, ctx: Ctx): Check = {
    val failed = mutable.Set[Long]()
    val unexplained = mutable.ArrayBuffer[String]()
    def bad(o: Long, why: String): Unit = { failed += o; unexplained += s"$name op $o: $why" }
    ctx.ops.foreach { case (o, as) => if (!as.last.ok) bad(o, s"ended F or threw ${as.last.message}") }
    val kept = tree.indices.filterNot(tree(_).excluded)
    (1 to rounds).foreach { r =>
      val ts = touchSet(r).toSet
      val wantCopied = Seq(kept.size.toLong, 0L, kept.count(ts).toLong)
      (0 to 2).foreach { k =>
        val o = op(r, k)
        if (copied.get(o).exists(_ != wantCopied(k)))
          bad(o, s"copied ${copied(o)}, expected ${wantCopied(k)}")
      }
      val out = new java.io.File(tgt(r)).listFiles().filterNot(_.getName.endsWith(".crc"))
        .map(f => f.getName -> f).toMap
      if (out.keySet != kept.map(tree(_).name).toSet)
        bad(op(r, 0), s"target holds ${out.size} files, expected ${kept.size}")
      kept.foreach { i =>
        out.get(tree(i).name).foreach { f =>
          if (!java.util.Arrays.equals(Files.readAllBytes(f.toPath),
              Gen.fileBody(seed, i, version(i, r))))
            bad(op(r, if (ts(i)) 2 else 0), s"${tree(i).name} has stale content")
        }
      }
      val ctlRows = rows(spark.read.parquet(ctl(r)).select("name", "isExcluded",
        "copyStatus", "copyStatusMs", "isAtSource"))
        .map(x => x.getString(0) -> (x.getBoolean(1), Option(x.getString(2)),
          Option(x.get(3)).map(_.asInstanceOf[Number].longValue), x.getString(4))).toMap
      val wantCtl = tree.indices.map { i =>
        val f = tree(i)
        val st = if (f.excluded) (true, None, None, "Y")
          else (false, Some("C"), Some(if (ts(i)) now(r, 4) else now(r, 1)), "Y")
        f.name -> st
      }.toMap
      if (ctlRows != wantCtl) {
        val diff = wantCtl.filter { case (k, v) => !ctlRows.get(k).contains(v) }.take(3)
        bad(op(r, 2), s"control table differs at $diff")
      }
    }
    Check(failed.toSet, unexplained.toSeq, 0)
  }
}

// ========================================================== graph_loops

/** SCC (distributed peel forced by small finish thresholds), iterated
  * h-index coreness, and multi-source BFS over one seeded directed
  * graph; each call is timed as build (the call) and execute. */
final class GraphLoops(seed: Long) extends Workload(seed) {
  val name = "graph_loops"
  val nodes = 280
  val coreRounds = 10
  val maxHops = 6
  val sourcesPerRound = 3

  private var edges: Seq[(Long, Long)] = _
  private var giant: IndexedSeq[Long] = _
  private var edgeDf: DataFrame = _
  private val outputs = mutable.Map[Long, DataFrame]()

  private def sources(r: Int): Seq[Long] =
    Gen.pick(giant, sourcesPerRound, Gen.rng(seed, 4, r))

  private def call(ctx: Ctx, o: Long)(build: => DataFrame): Unit =
    ctx.single(o) {
      val df = ctx.tracer.span("graph.build", "graph", op = o)(build)
      ctx.tracer.span("graph.execute", "graph", op = o)(df.queryExecution.toRdd.count())
      outputs(o) = df
      true
    }

  private def ops(spark: SparkSession, ctx: Ctx, r: Int, kinds: Seq[Int]): Unit = {
    import spark.implicits._
    kinds.foreach {
      case 0 => call(ctx, op(r, 0))(Scc.scc(edgeDf, "src", "dst",
        finishNodes = 256L, finishEdges = 2048L))
      case 1 => call(ctx, op(r, 1))(KCore.corenessHIndex(edgeDf, "src", "dst", coreRounds))
      case 2 => call(ctx, op(r, 2))(Sssp.bfsDistances(edgeDf, "src", "dst",
        sources(r).toDF("node"), "node", maxHops))
    }
  }

  def setup(spark: SparkSession, d: String, ctx: Ctx): Unit = {
    import spark.implicits._
    outputs.clear()
    ctx.runLog = null
    val g = Gen.graph(seed, nodes)
    edges = g.edges
    giant = g.giant.sorted.toIndexedSeq
    edgeDf = edges.toDF("src", "dst")
    // warm-up: the cheapest call; it runs the join, aggregate and
    // checkpoint paths all three loops share
    ops(spark, ctx, 0, Seq(2))
    outputs.clear()
  }

  def round(spark: SparkSession, r: Int, ctx: Ctx): Unit = ops(spark, ctx, r, 0 to 2)

  def check(spark: SparkSession, rounds: Int, ctx: Ctx): Check = {
    val failed = mutable.Set[Long]()
    val unexplained = mutable.ArrayBuffer[String]()
    lazy val scc = Gen.sccRef(edges)
    lazy val core = Gen.hIndexRef(edges, coreRounds)
    outputs.toSeq.sortBy(_._1).foreach { case (o, df) =>
      val got = rows(df).map(x => long(x, 0) -> long(x, 1)).toMap
      val want = posOf(o) match {
        case 0 => scc
        case 1 => core
        case _ => Gen.bfsRef(edges, sources(roundOf(o)), maxHops)
      }
      if (got != want) {
        failed += o
        val diff = want.filter { case (k, v) => !got.get(k).contains(v) }.take(3)
        unexplained += s"$name op $o: ${got.size} rows vs ${want.size} expected, e.g. $diff"
      }
    }
    ctx.ops.foreach { case (o, as) =>
      if (!as.last.ok) { failed += o; unexplained += s"$name op $o threw ${as.last.message}" }
    }
    Check(failed.toSet, unexplained.toSeq, 0)
  }
}
