package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.classify.Classifier
import graft.control.Control
import graft.control.Control.{JobResult, JobSpec, RunLog}
import graft.multimodal.Multimodal
import graft.run.Pipelines
import graft.sinks.Sinks
import graft.sources.Sources
import graft.streaming.EventStream
import graft.validate.Reconciler

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-test").toString

  test("apiIngest SNP then INC end-to-end with run log") {
    val dir = tmpDir()
    val runLog = new RunLog(spark, s"$dir/runlog")
    val spec = JobSpec(1L, 1, 1, "api", "fixture", "t", "SNP", keyCols = "id")
    val docs = Seq(
      """{"id":1,"name":"a","meta":{"v":10}}""",
      """{"id":2,"name":"b","meta":{"v":20}}""").toDS
    val r1 = Pipelines.apiIngest(spark, spec, docs,
      Seq("id:bigint"), s"$dir/target", runLog)
    assert(r1.status == "S" && r1.records == 2)
    // INC run updates id=2, inserts id=3
    val docs2 = Seq(
      """{"id":2,"name":"B2","meta":{"v":21}}""",
      """{"id":3,"name":"c","meta":{"v":30}}""").toDS
    val r2 = Pipelines.apiIngest(spark, spec.copy(loadType = "INC"), docs2,
      Seq("id:bigint"), s"$dir/target", runLog)
    assert(r2.status == "S")
    val rows = spark.read.parquet(s"$dir/target")
      .orderBy("id").select("id", "name", "meta_v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "a", 10L), (2L, "B2", 21L), (3L, "c", 30L)))
    assert(runLog.read().count() == 2)
  }

  test("a failure run emits a routed pending notification (C6 hook)") {
    val dir = tmpDir()
    val runLog = new RunLog(spark, s"$dir/runlog")
    val now = new java.sql.Timestamp(1700000000000L)
    runLog.appendAll(Seq(
      Control.RunLogEntry("r1", 1L, "S", 10L, 10L, 0L, "ok", now),
      Control.RunLogEntry("r1", 2L, "F", 10L, 0L, 10L, "boom", now),
      Control.RunLogEntry("r1", 3L, "S", 10L, 8L, 2L, "partial", now)))
    val recipients = Seq((2L, "team-ingest")).toDF("jobId", "recipient")
    val got = Control.pendingNotifications(runLog.read(), recipients)
      .orderBy("jobId")
      .select("jobId", "severity", "recipient", "subject", "body")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSeq
    // clean success emits nothing; the failure routes to its recipient;
    // the partial success warns to the default channel
    assert(got === Seq(
      (2L, "error", "team-ingest", "[error] job 2 run r1",
        "boom (failed=10 of 10)"),
      (3L, "warn", "ops", "[warn] job 3 run r1",
        "partial (failed=2 of 10)")))
  }

  test("fileIngest lists, classifies, copies, and INC-recopies modified files") {
    val src = tmpDir(); val tgt = tmpDir(); val dir = tmpDir()
    val sub = new java.io.File(s"$src/sub"); sub.mkdirs()
    def put(p: String, body: String): Unit = {
      val w = new java.io.PrintWriter(p); w.write(body); w.close()
    }
    put(s"$src/a.dat", "alpha")
    put(s"$src/b.dat", "bravo")
    put(s"$src/skip.tmp", "nope")
    put(s"$src/sub/c.dat", "charlie")
    val runLog = new RunLog(spark, s"$dir/runlog")
    val spec = JobSpec(7L, 2, 1, "file", src, "ctl", "INC")
    val rules = Classifier.Rules(excludedExtensions = Seq("tmp"))

    // copy timestamps must be comparable with real file mtimes (the
    // INC predicate is modifiedMs > copyStatusMs)
    val t1 = System.currentTimeMillis()
    val r1 = Pipelines.fileIngest(spark, spec, src, tgt, s"$dir/control",
      rules, runLog, nowMs = t1)
    assert(r1.status == "S", r1.message)
    assert(r1.records == 3) // 4 files minus the excluded .tmp
    assert(new java.io.File(s"$tgt/a.dat").exists())
    assert(new java.io.File(s"$tgt/c.dat").exists())
    assert(!new java.io.File(s"$tgt/skip.tmp").exists())
    val ctl = spark.read.parquet(s"$dir/control")
    assert(ctl.count() == 4)
    assert(ctl.where(col("isExcluded")).count() == 1)
    assert(ctl.where(col("copyStatus") === "C").count() == 3)

    // second run: nothing changed → nothing recopied
    val r2 = Pipelines.fileIngest(spark, spec, src, tgt, s"$dir/control",
      rules, runLog, nowMs = t1 + 1)
    assert(r2.status == "S" && r2.records == 0, r2.message)

    // touch one file past the copy stamp → exactly that file recopies
    val t3 = t1 + 120000
    new java.io.File(s"$src/b.dat").setLastModified(t1 + 60000)
    val r3 = Pipelines.fileIngest(spark, spec, src, tgt, s"$dir/control",
      rules, runLog, nowMs = t3)
    assert(r3.status == "S" && r3.records == 1, r3.message)
    val ctl3 = spark.read.parquet(s"$dir/control")
    assert(ctl3.where(col("copyStatusMs") === t3).count() == 1)
    assert(runLog.read().count() == 3)
  }

  test("fileIngest: a file that leaves the source and comes back keeps its copy status") {
    val src = tmpDir(); val tgt = tmpDir(); val dir = tmpDir()
    new java.io.File(s"$src/sub").mkdirs()
    def put(p: String, body: String): Unit = {
      val w = new java.io.PrintWriter(p); w.write(body); w.close()
    }
    val files = Seq("a.dat", "sub/b.dat", "sub/c.dat", "skip.tmp")
    files.foreach(f => put(s"$src/$f", f))
    // whole seconds, so the restored mtime reads back unchanged
    val mtime = (System.currentTimeMillis() / 1000 - 60) * 1000
    files.foreach(f => new java.io.File(s"$src/$f").setLastModified(mtime))
    val runLog = new RunLog(spark, s"$dir/runlog")
    val spec = JobSpec(8L, 2, 1, "file", src, "ctl", "INC")
    val rules = Classifier.Rules(excludedExtensions = Seq("tmp"))
    val control = s"$dir/control"
    def ingest(nowMs: Long) = Pipelines.fileIngest(spark, spec, src, tgt,
      control, rules, runLog, nowMs)
    def status(name: String) = spark.read.parquet(control)
      .where(col("name") === name)
      .select("isAtSource", "copyStatus", "copyStatusMs")
      .as[(String, String, Long)].collect().toSeq

    val t1 = mtime + 1000
    val r1 = ingest(t1)
    assert(r1.status == "S" && r1.records == 3, r1.message)
    val firstSchema = spark.read.parquet(control).schema

    // b.dat leaves the source: its row stays, marked absent, with the
    // copy status it had; only the files still there count as listed
    val b = new java.io.File(s"$src/sub/b.dat")
    assert(b.delete())
    val r2 = ingest(t1 + 1000)
    assert(r2.status == "S" && r2.records == 0, r2.message)
    assert(status("b.dat") == Seq(("N", "C", t1)))
    assert(status("a.dat") == Seq(("Y", "C", t1)))
    assert(spark.read.parquet(control).count() == 4)
    assert(spark.read.parquet(control).schema == firstSchema)

    // b.dat comes back with its old mtime: present again, not recopied
    put(b.getPath, "sub/b.dat"); b.setLastModified(mtime)
    assert(new java.io.File(s"$tgt/b.dat").delete())
    val r3 = ingest(t1 + 2000)
    assert(r3.status == "S" && r3.records == 0, r3.message)
    assert(status("b.dat") == Seq(("Y", "C", t1)))
    assert(!new java.io.File(s"$tgt/b.dat").exists())

    // one run-log row per call: ts = nowMs, recInSource = files listed,
    // recProcessed = files copied
    val log = runLog.read().orderBy("ts")
      .select("status", "recInSource", "recProcessed", "recFailed", "ts")
      .as[(String, Long, Long, Long, java.sql.Timestamp)].collect().toSeq
    assert(log == Seq(
      ("S", 4L, 3L, 0L, new java.sql.Timestamp(t1)),
      ("S", 3L, 0L, 0L, new java.sql.Timestamp(t1 + 1000)),
      ("S", 4L, 0L, 0L, new java.sql.Timestamp(t1 + 2000))))
  }

  test("runParallel + retry recovers flaky jobs; summarize aggregates") {
    val attempts = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    val results = Control.runWithRetries(Seq(1L, 2L, 3L), parallelism = 3) { id =>
      val n = attempts.merge(id, 1, _ + _)
      if (id == 2L && n < 3) JobResult(id, "F", 0, "flaky")
      else JobResult(id, "S", 1, "ok")
    }
    assert(results.map(_.status).forall(_ == "S"))
    assert(Control.summarize(results) == (("S", 3L, 0L)))
  }

  test("classifier excludes by extension/folder/name precedence") {
    val files = Seq(
      ("/mnt/a/report.tmp", "report.tmp", "tmp"),
      ("/mnt/secret/x.dat", "x.dat", "dat"),
      ("/mnt/a/backup_old.dat", "backup_old.dat", "dat"),
      ("/mnt/a/keep.dat", "keep.dat", "dat")
    ).toDF("path", "name", "ext")
    val rules = Classifier.Rules(
      excludedExtensions = Seq("TMP"),
      excludedFolderPrefixes = Seq("/mnt/secret"),
      excludedNameTerms = Seq("BACKUP"))
    val out = Classifier.classify(files, rules)
      .select("name", "exclusionReason").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(out("report.tmp").contains("extension"))
    assert(out("x.dat").contains("folder"))
    assert(out("backup_old.dat").contains("name")) // case-insensitive
    assert(out("keep.dat").isEmpty)
  }

  test("file listing + export + compact + deleteWhere round-trip") {
    val dir = tmpDir()
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    Sinks.exportParquet(df, s"$dir/out", numFiles = 4, readyMarker = true)
    val listed = Sources.listFiles(spark, s"$dir/out")
    assert(listed.filter(col("name") === "_READY").count() == 1)
    assert(listed.filter(col("ext") === "parquet").count() == 4)
    Sinks.compact(spark, s"$dir/out", targetFiles = 1)
    assert(Sources.listFiles(spark, s"$dir/out")
      .filter(col("ext") === "parquet").count() == 1)
    assert(spark.read.parquet(s"$dir/out").count() == 100)
    Sinks.deleteWhere(spark, s"$dir/out", col("id") <= 40)
    assert(spark.read.parquet(s"$dir/out").count() == 60)
  }

  test("jdbc round-trip via embedded Derby (S1 pushdown idiom + K7 append)") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    Sinks.jdbcAppend(df, url, "jobs")
    // Derby keeps Spark's quoted lowercase identifiers — quote them back
    val back = Sources.jdbcQuery(spark, url,
      "SELECT \"id\" AS id, \"v\" AS v FROM jobs WHERE \"id\" >= 2")
    assert(back.orderBy("id").select("id").as[Long].collect().toSeq == Seq(2L, 3L))
  }

  test("partitioned jdbc read: parallel ranges, same rows, bounds don't filter") {
    val url = "jdbc:derby:memory:graftdb2;create=true"
    val df = (1L to 97L).map(i => (i, s"v$i")).toDF("id", "v")
    Sinks.jdbcAppend(df, url, "bigjobs")
    val q = "SELECT \"id\" AS id, \"v\" AS v FROM bigjobs"
    val part = Sources.jdbcQueryPartitioned(spark, url, q,
      // bounds narrower than the data: rows outside must STILL load
      partitionColumn = "id", lowerBound = 20L, upperBound = 80L,
      numPartitions = 4)
    assert(part.rdd.getNumPartitions === 4)
    assert(part.select("id").as[Long].collect().toSet === (1L to 97L).toSet)
  }

  test("xml source extracts attributes and child elements") {
    val xml = Seq(
      """<root><row id="1"><name>alpha</name></row><row id="2"><name>beta</name></row></root>""").toDS
    val out = Sources.xmlStrings(spark, xml, "row", Seq("id", "name"))
      .orderBy("id").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("1", "alpha"), ("2", "beta")))
  }

  test("multimodal feature extraction and frame sampling are deterministic") {
    val media = Seq(
      Multimodal.MediaRow(1L, "image", "Hello world, this is binary".getBytes),
      Multimodal.MediaRow(2L, "audio", "xy".getBytes)).toDS
    val f = Multimodal.extractFeatures(media).collect().sortBy(_.id)
    assert(f(0).n_bytes == 27 && f(0).width == 1 + ('H' & 0x3f))
    assert(f(1).width == 1 + ('x' & 0x3f) && f(1).height == 1 + ('y' & 0x3f))
    val frames = Multimodal.sampleFrames(media, stride = 10)
    assert(frames.where($"id" === 1).count() == 3) // 27 bytes / 10
  }

  test("reconciler flags count/ts mismatches and finds missing keys") {
    val src = Seq((1L, 100L), (1L, 200L), (2L, 50L)).toDF("k", "ts")
    val tgt = Seq((1L, 100L), (1L, 200L)).toDF("k", "ts")
    val rec = Reconciler.reconcile(src, tgt, "k", "ts")
    val byKey = rec.collect().map(r => r.getLong(0) -> r.getBoolean(rec.columns.indexOf("matched"))).toMap
    assert(byKey(1L) && !byKey(2L))
    assert(Reconciler.missingInTarget(src, tgt, "k")
      .as[Long].collect().toSeq == Seq(2L))
  }

  test("streaming incrementalIngest appends new files exactly once") {
    val src = tmpDir(); val tgt = tmpDir(); val ckpt = tmpDir()
    // file-source streams discover files recursively per glob; stage
    // each batch as its own parquet subdir file set
    Seq(1L, 2L, 3L).toDF("id").write.parquet(s"$src/b1")
    val schema = spark.read.parquet(s"$src/b1").schema
    val doubled = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("id2", col("id") * 2)
    EventStream.incrementalIngest(spark, s"$src/*", schema, tgt, ckpt, doubled)
    assert(spark.read.parquet(tgt).count() == 3)
    // second batch arrives; re-run drains ONLY the new files
    Seq(10L, 11L).toDF("id").write.parquet(s"$src/b2")
    EventStream.incrementalIngest(spark, s"$src/*", schema, tgt, ckpt, doubled)
    val rows = spark.read.parquet(tgt)
    assert(rows.count() == 5) // no duplicates from b1
    assert(rows.where(col("id2") === col("id") * 2).count() == 5)
  }

  test("streaming latestPerUserStream agrees with batch keepLatest") {
    val stream = EventStream.latestPerUserStream(spark, sf, "t_latest")
      .select(col("user_id"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Windows.keepLatest(
        Tables(spark, sf, "events").select(col("user_id"), col("event_id"), col("ts")),
        Seq(col("user_id")), col("ts"), col("event_id"))
      .select(col("user_id"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stream == batch)
  }

  test("streaming interval join agrees with the batch inequality join") {
    val stream = EventStream.clickViewJoinAvailableNow(spark, sf, "t_join")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables(spark, sf, "events")
    def side(t: String, id: String, uid: String, ts: String) =
      ev.where(col("event_type") === t)
        .select(col("event_id").as(id), col("user_id").as(uid),
          expr("ts div 1000").as(ts)) // µs, matching the stream's grain
    val batch = side("click", "cid", "cu", "cts")
      .join(side("view", "vid", "vu", "vts"),
        col("cu") === col("vu") &&
          col("vts") >= col("cts") - lit(3600L * 1000000L) &&
          col("vts") <= col("cts"))
      .select("cid", "vid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stream == batch && stream.nonEmpty)
  }

  test("external-table DDL translates schema-driven, not string-replace") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("price", DoubleType), StructField("ok", BooleanType),
      StructField("ts", TimestampType), StructField("amt", DecimalType(18, 2)),
      StructField("meta", StructType(Seq(StructField("x", IntegerType))))))
    val ddl = Sinks.externalTableDdl(schema, "ext", "orders", "/data/orders", "ds1")
    assert(ddl.contains("[id] BIGINT"))
    assert(ddl.contains("[name] NVARCHAR(MAX)"))
    assert(ddl.contains("[price] FLOAT"))
    assert(ddl.contains("[ok] BIT"))
    assert(ddl.contains("[ts] DATETIME2"))
    assert(ddl.contains("[amt] DECIMAL(18,2)"))
    assert(ddl.contains("[meta] NVARCHAR(MAX)"))
    assert(ddl.startsWith("IF EXISTS"))
    assert(ddl.contains("CREATE EXTERNAL TABLE ext.orders"))
  }

  test(".NET ticks round-trip is exact at microsecond grain") {
    import graft.functions.TimeFunctions._
    // 2020-01-01T00:00:00Z + 0.7µs of ticks — truncates to the µs
    val ticks = (DotNetEpochOffsetSeconds + 1577836800L) * 10000000L + 7L
    val got = Seq(ticks).toDF("t")
      .select(dotNetTicksToTimestamp(col("t")).as("ts"))
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .collect().head.getString(0)
    assert(got == "2020-01-01 00:00:00.000000")
    val back = Seq(ticks).toDF("t")
      .select(timestampToDotNetTicks(dotNetTicksToTimestamp(col("t"))))
      .collect().head.getLong(0)
    assert(back == ticks - 7L) // µs truncation drops the sub-µs ticks
  }

  test("streaming sessionize matches gap semantics") {
    val hour = 3600L * 1000000000L
    val ev = Seq((1L, 0L), (1L, hour / 2), (1L, 3 * hour), (2L, 0L))
      .toDF("user_id", "ts")
    val out = EventStream.sessionizeBatch(spark, ev, hour)
      .orderBy("user_id", "startNanos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(out == Seq((1L, 0L, hour / 2, 2), (1L, 3 * hour, 3 * hour, 1),
      (2L, 0L, 0L, 1)))
  }

  test("native session_window agrees with explicit-state sessionizer") {
    val gap = 3600L
    val native = EventStream
      .sessionWindowAvailableNow(spark, sf, gap, userMax = 5,
        queryName = "spec_session_native")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val ev = graft.Tables(spark, sf, "events")
      .where(col("user_id") < 5)
    // same sessions, translated conventions: µs grain, end = last + gap
    val batch = EventStream.sessionizeBatch(spark, ev, gap * 1000000000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1) / 1000L,
        r.getLong(2) / 1000L + gap * 1000000L, r.getInt(3)))
      .toSet
    assert(native.nonEmpty && native == batch)
  }
}
