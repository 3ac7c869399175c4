package graft.run

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, StageInfo}

import graft.SparkSpec
import graft.classify.Classifier
import graft.control.Control.{JobSpec, RunLog}

/** Pins the number of source-tree walks per `fileIngest` call at one: a
  * lazy listing read by more than one action re-walks the tree each
  * time, and nothing but the stage count shows it. */
class FileIngestWalkSpec extends SparkSpec {

  private val TagKey = "graft.test.walkTag"

  /** Counts listing-walk stages in jobs submitted under `tag`.
    * `Sources.listFiles` spreads the directory list one directory per
    * partition through a round-robin exchange and walks each in a
    * MapPartitions over it, so a walk is a MapPartitions stage whose
    * parent scans a local collection (pipebench's
    * `LayerListener.isListingWalk` applies the same rule). */
  private class WalkCounter(tag: String) extends SparkListener {
    private val localScans = mutable.Set[Int]()
    private val tagged = mutable.Set[Int]()
    private var walks = 0

    def count: Int = synchronized(walks)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      e.stageInfos.foreach { s =>
        if (s.rddInfos.exists(r => r.name == "ParallelCollectionRDD" &&
            r.scope.exists(_.name == "LocalTableScan"))) localScans += s.stageId
      }
      if (Option(e.properties).exists(_.getProperty(TagKey) == tag))
        tagged ++= e.stageInfos.map(_.stageId)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      if (tagged(e.stageInfo.stageId) && isListingWalk(e.stageInfo)) walks += 1
    }

    private def isListingWalk(s: StageInfo): Boolean =
      s.parentIds.exists(localScans) &&
        s.rddInfos.exists(_.scope.exists(_.name == "MapPartitions"))
  }

  test("fileIngest walks the source tree once per call") {
    val src = Files.createTempDirectory("graft-walk-src").toString
    val tgt = Files.createTempDirectory("graft-walk-tgt").toString
    val dir = Files.createTempDirectory("graft-walk").toString
    def put(p: String, body: String): Unit = {
      new java.io.File(p).getParentFile.mkdirs()
      val w = new java.io.PrintWriter(p); w.write(body); w.close()
    }
    put(s"$src/top.dat", "top")
    Seq("d1", "d2", "d3").foreach { d =>
      put(s"$src/$d/$d-a.dat", "a"); put(s"$src/$d/deep/$d-b.dat", "b")
    }
    put(s"$src/d1/skip.tmp", "nope")
    val runLog = new RunLog(spark, s"$dir/runlog")
    val spec = JobSpec(9L, 4, 1, "file", src, "ctl", "INC")
    val rules = Classifier.Rules(excludedExtensions = Seq("tmp"))
    val t1 = System.currentTimeMillis()
    def ingest(nowMs: Long) = Pipelines.fileIngest(spark, spec, src, tgt,
      s"$dir/control", rules, runLog, nowMs)

    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val counter = new WalkCounter(tag)
    sc.addSparkListener(counter)
    sc.setLocalProperty(TagKey, tag)
    try {
      // initial copy, no-op INC, INC after one file is rewritten
      val calls = Seq(
        () => ingest(t1),
        () => ingest(t1 + 1),
        () => {
          new java.io.File(s"$src/d2/d2-a.dat").setLastModified(t1 + 60000)
          ingest(t1 + 120000)
        })
      val seen = calls.map { call =>
        val before = { ListenerBusDrain(sc); counter.count }
        val r = call()
        assert(r.status == "S", r.message)
        ListenerBusDrain(sc)
        (r.records, counter.count - before)
      }
      assert(seen === Seq((7L, 1), (0L, 1), (1L, 1)))
    } finally {
      sc.setLocalProperty(TagKey, null)
      sc.removeSparkListener(counter)
    }
  }
}
