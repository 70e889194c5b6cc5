package graft.queries

import graft.SparkTestBase

/** A ratchet on Spark jobs started while a declared batch query's
  * DataFrame is built (streams are left out: starting one is its job).
  * Each query is built twice at sf0.001 and the second build's jobs
  * are counted, so the one-time `Tables.materializeOnce` fixture work
  * is left out. Every query must build with no job, except those in
  * [[allowed]] with at most their recorded count.
  */
class BuildJobsSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  /** Query -> most build jobs allowed. Entries may only be removed or
    * lowered: a builder that needs a new job is a regression.
    */
  private val allowed: Map[String, Int] = Map(
    "ann_incremental" -> 6, "ann_topk_ivf" -> 1, "ann_topk_ivf_trained" -> 4,
    "ann_topk_ivfpq" -> 5, "ann_topk_opq" -> 15, "ann_topk_pq" -> 6,
    "dedup_clusters" -> 14, "dedup_semantic" -> 4, "emb_knn_graph_ivfpq" -> 11,
    "emb_outliers" -> 5, "emb_outliers_ivfpq" -> 22, "emb_pca_recon" -> 2,
    "emb_standardize" -> 2, "graph_pagerank" -> 12, "graph_pagerank_ivfpq" -> 39,
    "q16_exact_median" -> 5, "q24_exact_p95" -> 5, "sig_rfft_pregrouped" -> 1,
    "sink_compacted" -> 1, "sink_partitioned" -> 1, "src_evolved" -> 1,
    "src_manifest_bloom" -> 2, "src_manifest_clone" -> 4,
    "src_manifest_constraint" -> 4, "src_manifest_pruned" -> 3,
    "src_manifest_rename" -> 1, "src_manifest_restore" -> 8, "text_bloom" -> 11,
    "text_bpe_bytes_decode" -> 6, "text_bpe_bytes_train" -> 6,
    "text_bpe_decode" -> 6, "text_bpe_encode" -> 6, "text_bpe_ids" -> 6,
    "text_bpe_train" -> 6, "text_cms_ngrams" -> 6, "text_curriculum" -> 3,
    "text_mixture" -> 3, "text_shards" -> 8, "text_unigram_encode" -> 7,
    "text_unigram_large" -> 24, "text_unigram_train" -> 7)

  test("declared batch queries build with no Spark job, except the named few") {
    val queries = Relational.queries ++ Sig.queries ++ Pipeline.queries
    val counts = queries.toSeq.sortBy(_._1).map { case (name, build) =>
      build(spark, dir)
      spark.catalog.clearCache()
      val (_, n) = jobsDuring(build(spark, dir))
      spark.catalog.clearCache()
      name -> n
    }
    val over = counts.filter { case (q, n) => n > allowed.getOrElse(q, 0) }
    assert(over.isEmpty, "build jobs over the ratchet: " +
      over.map { case (q, n) => s"$q=$n (allowed ${allowed.getOrElse(q, 0)})" }.mkString(", ") +
      "\nall nonzero: " + counts.filter(_._2 > 0).map { case (q, n) => s""""$q" -> $n""" }
        .mkString(", "))
  }
}
