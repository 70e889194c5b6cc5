package graft.tools

import org.apache.spark.sql.functions._

/** Build a scaled-up copy of the test tables for scale-evidence runs
  * (VERDICT r8 #2; extended to EVERY family in r12 per VERDICT r11
  * #1): the fact tables are replicated `factor`× with disjoint id
  * ranges (replica k shifts ids by k·10⁷, far above every base key
  * range), the dimension tables symlink — the realistic scale
  * pattern, facts grow while dims stay:
  *
  *  - documents: replica texts carry a short distinguishing prefix so
  *    they are NEAR-dups of their original (10-doc clusters — a heavy
  *    but realistic dedup workload) rather than exact byte copies.
  *  - embeddings: replicate exactly (duplicate vectors are legal ANN
  *    input; ties break on id in both engines).
  *  - events: replica k shifts user_id AND event_id — 10× more user
  *    SERIES over the same time span, the batch-dim scale-out axis
  *    every signal/streaming/relational query distributes over. ts is
  *    re-written as TIMESTAMP(µs) from the normalized nanos so either
  *    testdata generation scales to the same oracle-readable type.
  *  - orders + lineitem: o_orderkey/l_orderkey shift TOGETHER so the
  *    order⋈lineitem join stays consistent across replicas; dim FKs
  *    (custkey/partkey/suppkey) stay in the base dim range.
  *
  *   SPARK_GRAFT_CPUS=$(nproc) tools/run.sh graft.tools.ScaleUp 10
  *   python3 tools/check.py --sf /tmp/graft_scale/x10
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_scale/x10 tools/run.sh graft.Bench
  *
  * factor 10 on sf0.1 is the reference's sf1.0: 50k documents, 20k
  * embeddings, 1M events, 6M lineitem.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val base = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    require(factor >= 1, "factor must be >= 1")
    val out = new java.io.File(s"/tmp/graft_scale/x$factor")
    graft.Tables.materializeOnce(out, "_READY") { scratch =>
      scratch.mkdirs()
      val spark = graft.SparkEntry.localSession()
      try {
        val replicated = Set("documents", "embeddings", "events",
          "orders", "lineitem")
        for (t <- graft.Tables.names if !replicated(t))
          java.nio.file.Files.createSymbolicLink(
            new java.io.File(scratch, s"$t.parquet").toPath,
            new java.io.File(s"$base/$t.parquet").toPath)
        def writeSingle(df: org.apache.spark.sql.DataFrame, name: String): Unit =
          graft.Tables.writeSingleFile(df, new java.io.File(scratch, s"$name.parquet"))
        val docs = spark.read.parquet(s"$base/documents.parquet")
        writeSingle((0 until factor).map { k =>
          docs.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
            .withColumn("text",
              if (k == 0) col("text")
              else concat(lit(s"rep$k variant "), col("text")))
        }.reduce(_ unionByName _), "documents")
        val embs = spark.read.parquet(s"$base/embeddings.parquet")
        writeSingle((0 until factor).map { k =>
          embs.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
        }.reduce(_ unionByName _), "embeddings")
        // events: normalized nanos -> TIMESTAMP(µs), then id shifts
        val ev = graft.Tables.load(spark, base, "events")
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        writeSingle((0 until factor).map { k =>
          ev.withColumn("user_id", col("user_id") + lit(k * 10000000L))
            .withColumn("event_id", col("event_id") + lit(k * 10000000L))
        }.reduce(_ unionByName _), "events")
        val ords = spark.read.parquet(s"$base/orders.parquet")
        writeSingle((0 until factor).map { k =>
          ords.withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L))
        }.reduce(_ unionByName _), "orders")
        val li = spark.read.parquet(s"$base/lineitem.parquet")
        writeSingle((0 until factor).map { k =>
          li.withColumn("l_orderkey", col("l_orderkey") + lit(k * 10000000L))
        }.reduce(_ unionByName _), "lineitem")
      } finally spark.stop()
    }
    println(s"scaled corpus ready at $out (factor $factor over $base)")
  }
}
