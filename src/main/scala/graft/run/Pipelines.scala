package graft.run

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.classify.Classifier
import graft.control.Control.{JobResult, JobSpec, RunLog, RunLogEntry}
import graft.operators.{Flatten, Merge, SchemaOps}
import graft.sources.{PagedSource, Sources}
import graft.operators.Converge.SanitizedCheckpoint

/** End-to-end pipelines (SURVEY §3): the reference's flagship
  * metadata-driven API ingestion (§3.1), re-expressed as in-process
  * functions over fixtures — config row → extract → flatten → cast →
  * load (SNP/APPEND/INC) → run log.
  */
object Pipelines {

  /** §7.3 minimum slice: JSON documents → flatten → cast → load to a
    * parquet path per `spec.loadType`, with run-log + count
    * reconciliation. INC upserts via Merge.upsert on spec.keyCols. */
  def apiIngest(spark: SparkSession, spec: JobSpec, docs: Dataset[String],
                castSpecs: Seq[String], targetPath: String,
                runLog: RunLog): JobResult = {
    val runId = java.util.UUID.randomUUID().toString
    def log(status: String, n: Long, msg: String): Unit =
      runLog.append(RunLogEntry(runId, spec.jobId, status, n, n, 0, msg,
        new Timestamp(0L))) // fixed ts keeps tests deterministic
    try {
      val raw = Sources.jsonStrings(spark, docs)
      val flat = Flatten.flatten(raw)
      val typed = SchemaOps.castBySpec(flat, castSpecs)
      val nIn = typed.count()
      writeByLoadType(spark, spec, typed, targetPath)
      val nOut = spark.read.parquet(targetPath).count()
      log("S", nIn, s"loaded $nOut")
      JobResult(spec.jobId, "S", nIn, s"loaded $nOut rows")
    } catch {
      case e: Throwable =>
        log("F", 0, String.valueOf(e.getMessage))
        JobResult(spec.jobId, "F", 0, String.valueOf(e.getMessage))
    }
  }

  /** Paginated variant of apiIngest (SURVEY §2.1 S10): drives
    * `PagedSource.pagedSource` over a fetch callback, quarantines
    * schema-drifted pages into a failures table (SNP overwrite per
    * run, like the reference's FAILURES_TABLE), and loads the
    * accumulated good pages by `spec.loadType`. */
  def apiIngestPaged(spark: SparkSession, spec: JobSpec,
                     target: org.apache.spark.sql.types.StructType,
                     fetchPage: (Int, Option[String]) => PagedSource.PageResponse,
                     refreshAuth: () => Unit,
                     castSpecs: Seq[String], targetPath: String,
                     failuresPath: String, runLog: RunLog): JobResult = {
    val runId = java.util.UUID.randomUUID().toString
    def log(status: String, n: Long, msg: String): Unit =
      runLog.append(RunLogEntry(runId, spec.jobId, status, n, n, 0, msg,
        new Timestamp(0L)))
    try {
      val res = PagedSource.pagedSource(spark, target, fetchPage, refreshAuth)
      res.failures.toDF().write.mode(SaveMode.Overwrite).parquet(failuresPath)
      val nQuarantined = res.failures.count()
      val typed = SchemaOps.castBySpec(res.data, castSpecs)
      val nIn = typed.count()
      writeByLoadType(spark, spec, typed, targetPath)
      val nOut = spark.read.parquet(targetPath).count()
      log("S", nIn, s"loaded $nOut, quarantined $nQuarantined pages")
      JobResult(spec.jobId, "S", nIn,
        s"loaded $nOut rows, quarantined $nQuarantined pages")
    } catch {
      case e: Throwable =>
        log("F", 0, String.valueOf(e.getMessage))
        JobResult(spec.jobId, "F", 0, String.valueOf(e.getMessage))
    }
  }

  /** SNP = overwrite, APPEND = append, INC = key-upsert into the
    * existing target then atomic stage+rename swap. */
  private def writeByLoadType(spark: SparkSession, spec: JobSpec,
                              typed: DataFrame, targetPath: String): Unit =
    spec.loadType match {
      case "SNP" =>
        typed.write.mode(SaveMode.Overwrite).parquet(targetPath)
      case "APPEND" =>
        typed.write.mode(SaveMode.Append).parquet(targetPath)
      case "INC" =>
        val keys = spec.keyCols.split(";").toSeq.filter(_.nonEmpty)
        val tgt = new org.apache.hadoop.fs.Path(targetPath)
        val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // existence probe, NOT a catch-all around the read: a transient
        // FS/permission error must fail the run, or the swap below
        // would silently replace the target with incoming-only data
        val merged = if (!fs.exists(tgt)) typed
          else Merge.upsert(spark.read.parquet(targetPath), typed, keys)
        val tmp = targetPath.stripSuffix("/") + "__stage"
        merged.write.mode(SaveMode.Overwrite).parquet(tmp)
        fs.delete(tgt, true)
        fs.rename(new org.apache.hadoop.fs.Path(tmp), tgt)
      case other => throw new IllegalArgumentException(s"loadType $other")
    }

  /** §3.2: the NetApp-style 3-step file ingestion as one pipeline —
    * recursive listing → control-table upsert (outer-join+COALESCE,
    * preserving copy status, deriving isAtSource) → rule
    * classification → copy of pending files with their status stamp →
    * control-table overwrite → run log. Each call walks the source tree
    * once and evaluates the upsert → classify → copy chain once:
    *  1. the listing is checkpointed: every later step reads that one
    *     snapshot of the tree, so the walk runs once;
    *  2. the listing rows carry a presence marker through the upsert
    *     (stored rows carry NULL), so `isAtSource` is "Y" exactly where
    *     the marker survives the COALESCE;
    *  3. one executor pass over the classified rows copies the pending
    *     files and stamps their `copyStatus`/`copyStatusMs`; that output
    *     is checkpointed once, and both the counts and the control-table
    *     write read the checkpoint, so each copy runs exactly once.
    *
    * Scale notes vs the reference: the listing upsert is the K5
    * COALESCE merge (no Delta needed); classification is native
    * Columns (not collect()+Python dicts); and the copy itself runs
    * executor-side in mapPartitions — the reference copies on the
    * driver across 20 notebooks, which caps throughput at one VM.
    * INC semantics: re-copy when modifiedMs advanced past the recorded
    * copy timestamp (`ModuleFunctions.py:633-636`). `nowMs` is
    * injectable so runs are deterministic under test; it stamps both
    * the copies and the run-log row. */
  def fileIngest(spark: SparkSession, spec: JobSpec, sourceRoot: String,
                 targetRoot: String, controlPath: String,
                 rules: Classifier.Rules, runLog: RunLog,
                 nowMs: Long): JobResult = {
    val runId = java.util.UUID.randomUUID().toString
    def log(status: String, nIn: Long, nDone: Long, msg: String): Unit =
      runLog.append(RunLogEntry(runId, spec.jobId, status, nIn, nDone, 0, msg,
        new Timestamp(nowMs)))
    val atSource = "__atSrc"
    val copied = "__copied"
    try {
      // 1. the one walk: listing rows for this (jobGroup, jobOrder),
      //    marked present at the source
      val listing = Sources.listFiles(spark, sourceRoot).toDF()
        .where(!col("isDir"))
        .select(col("path"), col("name"), col("ext"), col("sizeBytes"),
          col("modifiedMs"),
          lit(spec.jobGroup).as("jobGroup"), lit(spec.jobOrder).as("jobOrder"),
          lit(null).cast("string").as("copyStatus"),
          lit(null).cast("long").as("copyStatusMs"),
          lit(true).as(atSource))
        .sanitizedCheckpoint()

      // 2. upsert into the control table: listing metadata wins, copy
      //    status survives from the previous run (COALESCE merge)
      // existence probe, not a catch-all: a transient read error must
      // fail the run, not silently reset the control table
      val ctlPath = new org.apache.hadoop.fs.Path(controlPath)
      val ctlFs = ctlPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val keys = Seq("path", "jobGroup", "jobOrder")
      val merged =
        if (!ctlFs.exists(ctlPath)) listing
        else {
          // new metadata must win: upsert coalesces incoming first, but
          // a NULL incoming copyStatus falls back to the stored one —
          // exactly the reference's null-refresh trick (Step 1:184-186)
          val existing = spark.read.parquet(controlPath)
            .drop("isAtSource", "isExcluded", "exclusionReason")
            .withColumn(atSource, lit(null).cast("boolean"))
          Merge.upsert(existing, listing, keys)
        }
      // 3. isAtSource = the listing's marker survived; then classify
      val classified = Classifier.classify(merged
        .withColumn("isAtSource", when(col(atSource), "Y").otherwise("N"))
        .drop(atSource), rules)

      // 4. pending = at-source, not excluded, never copied or modified
      //    since the last copy (INC)
      val pending = col("isAtSource") === "Y" && !col("isExcluded") &&
        (col("copyStatus").isNull || col("modifiedMs") > col("copyStatusMs"))
      val flagged = classified.withColumn(copied, coalesce(pending, lit(false)))
      val Seq(iPath, iName, iStatus, iStatusMs, iCopied) =
        Seq("path", "name", "copyStatus", "copyStatusMs", copied)
          .map(flagged.schema.fieldIndex)

      // 5. copy + stamp in one executor pass (local/Hadoop FS), one task
      //    per partition. Eager materialization: the copy is a side
      //    effect and must run exactly once, while the counts and the
      //    control-table write both read it (copies stay idempotent via
      //    overwrite=true for task retries/speculation)
      val stamped = flagged.mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        it.map { r =>
          if (!r.getBoolean(iCopied)) r
          else {
            val src = new org.apache.hadoop.fs.Path(r.getString(iPath))
            val dst = new org.apache.hadoop.fs.Path(targetRoot, r.getString(iName))
            org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src,
              dst.getFileSystem(conf), dst, false, true, conf)
            Row.fromSeq(r.toSeq.updated(iStatus, "C").updated(iStatusMs, nowMs))
          }
        }
      }(Encoders.row(flagged.schema)).sanitizedCheckpoint()
      // the at-source rows are the listing's rows, one per listed file
      val counts = stamped.agg(count(when(col("isAtSource") === "Y", 1)),
        count(when(col(copied), 1))).head()
      val (nListed, nCopied) = (counts.getLong(0), counts.getLong(1))

      // 6. overwrite the control table (stage+rename)
      val stage = controlPath.stripSuffix("/") + "__stage"
      stamped.drop(copied).write.mode(SaveMode.Overwrite).parquet(stage)
      ctlFs.delete(ctlPath, true)
      ctlFs.rename(new org.apache.hadoop.fs.Path(stage), ctlPath)

      log("S", nListed, nCopied, s"copied $nCopied")
      JobResult(spec.jobId, "S", nCopied, s"listed $nListed copied $nCopied")
    } catch {
      case e: Throwable =>
        log("F", 0, 0, String.valueOf(e.getMessage))
        JobResult(spec.jobId, "F", 0, String.valueOf(e.getMessage))
    }
  }
}
