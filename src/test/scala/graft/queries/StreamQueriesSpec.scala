package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}
import graft.Tables.fp2

/** Declared stream entries ([[Stream.queries]]) end to end at sf0.001,
  * each pinned by exact row equality (`exceptAll` both ways) against a
  * batch computation of the same result; plus the checkpoint-volume
  * gate every declared stream runs through.
  */
class StreamQueriesSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String): DataFrame = Stream.queries(name)(spark, dir)

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    val g = got.select(want.columns.toSeq.map(c => col(c).cast(want.schema(c).dataType)): _*)
    val missing = want.exceptAll(g).collect()
    val extra = g.exceptAll(want).collect()
    assert(missing.isEmpty && extra.isEmpty,
      s"missing ${missing.take(5).mkString(",")}; extra ${extra.take(5).mkString(",")}")
    assert(want.count() > 0)
  }

  /** Batch 5-minute windowed count per event_type over the events
    * table — the shared oracle of the ledger-fed windowed counts.
    */
  private def batchWindowedCounts: DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(expr("((ts div 1000) div 300000000) * 300").cast("long").as("w_start_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), fp2(sum(col("value"))).as("sum_fp"))

  Seq("stream_ledger_counts", "stream_ledger_exactly_once", "stream_manifest_sink")
    .foreach { name =>
      test(s"$name equals the batch windowed count over events") {
        assertSameRows(run(name), batchWindowedCounts)
      }
    }

  test("stream_manifest_merge_sink equals the batch per-user latest-ts row") {
    val latest = Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_type"), col("value"))).as("w"))
      .select(col("user_id"), col("w.ts").as("ts_ns"),
        col("w.event_type").as("event_type"), fp2(col("w.value")).as("value_fp"))
    assertSameRows(run("stream_manifest_merge_sink"), latest)
  }

  test("stream_exactly_once equals sig_sosfilt, the query it shares an oracle with") {
    assertSameRows(run("stream_exactly_once"), Sig.queries("sig_sosfilt")(spark, dir))
  }

  test("tuneCheckpointIo applies the local tuning only on a local checkpoint volume") {
    assume(sys.env.get("SPARK_GRAFT_CHECKPOINT_CHECKSUM").isEmpty &&
      sys.env.get("SPARK_GRAFT_CHECKPOINT_FILE_MANAGER").isEmpty)
    val checksum = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val manager = "spark.sql.streaming.checkpointFileManagerClass"
    val saved = Seq(checksum, manager).map(k => k -> spark.conf.getOption(k))
    try {
      Stream.tuneCheckpointIo(spark, "/tmp/graft-chk")
      assert(spark.conf.get(checksum) == "false")
      assert(spark.conf.getOption(manager).contains(
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager"))
      Stream.tuneCheckpointIo(spark, "hdfs://nn:8020/chk")
      assert(spark.conf.get(checksum) == "true")
      assert(spark.conf.getOption(manager).isEmpty)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
