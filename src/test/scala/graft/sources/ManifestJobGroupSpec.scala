package graft.sources

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.ManifestTable._

/** Every Spark job upsert and MERGE launch — the key-hygiene check
  * they overlap with the touched-file probe included — runs under the
  * caller's job group, so the caller's `cancelJobGroup` reaches all of
  * them and each job carries the caller's description.
  */
class ManifestJobGroupSpec extends SparkTestBase {
  import spark.implicits._

  /** Starts every worker of the global execution context from a thread
    * with no job group. A worker created later, by a thread that has
    * one, would inherit the group and hide a job that escapes it.
    */
  private def warmGlobalPool(): Unit = {
    val n = Runtime.getRuntime.availableProcessors
    val started = new CountDownLatch(n)
    val release = new CountDownLatch(1)
    val t = new Thread(() => {
      spark.sparkContext.clearJobGroup()
      (1 to n).foreach(_ => scala.concurrent.ExecutionContext.global.execute { () =>
        started.countDown()
        release.await(30, TimeUnit.SECONDS): Unit
      })
    })
    t.start(); t.join()
    started.await(30, TimeUnit.SECONDS)
    release.countDown()
  }

  test("upsert and mergeBatch launch every job under the caller's job group") {
    val t = java.nio.file.Files.createTempDirectory("graft_jg").resolve("t").toString
    create(spark, t, (0 until 200).map(i => (i.toLong, s"row-$i")).toDF("doc_id", "text"),
      "doc_id", 2)
    warmGlobalPool()
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        // jobs of a streaming query left running by another suite
        if (!p.exists(_.getProperty("sql.streaming.queryId") != null))
          seen.add(e.jobId -> p.map(_.getProperty("spark.jobGroup.id")).orNull)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("manifest-caller", "upsert + mergeBatch under one group")
      upsert(spark, t, Seq((5L, "upd-5"), (500L, "new-500")).toDF("doc_id", "text"), 2)
      assert(mergeBatch(spark, t, Seq((7L, "upd-7"), (501L, "new-501")).toDF("doc_id", "text"),
        "app", 0L, 2, matchedUpdate = Some(lit(true)), notMatchedInsert = Some(lit(true))))
      // the listener bus delivers in order: once the marker job is seen,
      // every job launched before it has been recorded
      sc.setJobGroup("marker", "marker")
      spark.range(1).count()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!seen.asScala.exists(_._2 == "marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      val jobs = seen.asScala.toSeq.filterNot(_._2 == "marker")
      assert(seen.asScala.exists(_._2 == "marker"), "marker job never reached the listener")
      assert(jobs.size >= 4, s"expected the upsert and merge jobs, saw $jobs")
      val strays = jobs.filterNot(_._2 == "manifest-caller")
      assert(strays.isEmpty, s"jobs outside the caller's group: $strays")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(snapshot(spark, t).count() == 202)
  }
}
