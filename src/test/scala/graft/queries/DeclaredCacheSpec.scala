package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** The declared queries that cache intermediate frames leave nothing
  * behind: each runs once to the `noop` sink at sf0.001, and the
  * session's cache is empty within 10 s afterwards (the
  * [[graft.CacheUtil]] rule, end to end).
  */
class DeclaredCacheSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  /** The plans still cached, for the failure message. */
  private def leftovers: String = {
    val f = cacheManager.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cacheManager).asInstanceOf[Iterable[org.apache.spark.sql.execution.CachedData]]
      .map(_.plan.treeString.take(600)).mkString("\n---\n")
  }

  Seq("ann_topk_ivf_trained", "ann_incremental", "dedup_clusters", "dedup_incremental",
    "dedup_ngram_jaccard", "dedup_semantic", "emb_knn_graph", "emb_outliers",
    "emb_outliers_ivfpq", "graph_pagerank", "graph_pagerank_ivfpq", "mm_jpeg_pairs",
    "text_bpe_train", "text_common_ngrams", "text_nb_classify", "text_unigram_large")
    .foreach { name =>
      test(s"$name frees every cache it created") {
        spark.catalog.clearCache()
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (!cacheManager.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
        assert(cacheManager.isEmpty, s"$name left cache entries behind: " + leftovers)
      }
    }
}
