package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{Ann, Dedup, TextOps}

/** The one cache-lifetime rule ([[CacheUtil]]): every cache an
  * operator creates is freed by the scope that owns it — when an eager
  * body ends, after a lazy result's first execution, or once the
  * result is unreachable — and a nested scope never frees a cache its
  * caller made, nor a pending release a rebuilt result's cache.
  */
class CacheUtilSpec extends SparkTestBase {
  import spark.implicits._

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  private def cached(df: DataFrame): Boolean =
    cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  /** Whether a graft cache-lifetime listener is registered on the session. */
  private def listening: Boolean =
    spark.listenerManager.getClass.getMethod("listListeners").invoke(spark.listenerManager)
      .asInstanceOf[Array[AnyRef]].exists(_.getClass.getName.contains("CacheUtil"))

  /** Poll `cond` for up to 10 s, collecting garbage between polls. */
  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assert(cond, what)
  }

  private def docs: DataFrame = Seq(
    (1L, "spam", "buy cheap pills now buy cheap pills today"),
    (2L, "ham", "meeting agenda notes for the team meeting"),
    (3L, "spam", "cheap pills buy now cheap cheap"),
    (4L, "ham", "team notes and the meeting agenda"),
    (5L, "spam", "buy pills now"),
    (6L, "ham", "agenda for the meeting notes")).toDF("id", "cls", "text")

  test("results built but never executed free their caches and the listener once unreachable") {
    spark.catalog.clearCache()
    def build(): Unit = {
      val nb = TextOps.nbClassify(docs, "id", "cls", "text", col("id") <= 4)
      val inc = Dedup.incrementalDedup(docs, "id", "text", col("id") > 4, minJac = 0.2)
      assert(!cacheManager.isEmpty, "the builders cache their shared subtrees")
      assert(listening)
      assert(nb.columns.nonEmpty && inc.columns.nonEmpty)
    }
    build()
    eventually("caches and listener outlived unreachable results") {
      cacheManager.isEmpty && !listening
    }
  }

  test("a derived frame keeps the result's caches until it executes") {
    spark.catalog.clearCache()
    var nb = TextOps.nbClassify(docs, "id", "cls", "text", col("id") <= 4)
    val derived = nb.orderBy("id")
    nb = null
    (0 until 5).foreach { _ => System.gc(); Thread.sleep(100) }
    assert(!cacheManager.isEmpty, "caches freed while a derived frame is reachable")
    val hits = derived.queryExecution.withCachedData.collect {
      case m: InMemoryRelation => m
    }
    assert(hits.nonEmpty, "the derived plan lost its cache hits")
    assert(derived.collect().map(_.getLong(0)).toSeq == Seq(5L, 6L))
    eventually("caches outlived the derived frame's execution") {
      cacheManager.isEmpty && !listening
    }
  }

  test("an execution that re-instances the result in a self-join still frees its caches") {
    spark.catalog.clearCache()
    val nb = TextOps.nbClassify(docs, "id", "cls", "text", col("id") <= 4)
    // docs and nb share a relation, so analysis re-instances nb's side
    val joined = docs.select("id").join(nb, "id")
    assert(joined.count() == 2)
    // nb stays reachable: only the execution can free the caches
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!cacheManager.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(cacheManager.isEmpty && nb.columns.nonEmpty)
  }

  test("a result rebuilt before the first build's release keeps its caches") {
    spark.catalog.clearCache()
    val base = docs.filter(col("id") > 1)
    def build(): DataFrame = CacheUtil.result(_.cache(base).groupBy("cls").count())
    val first = build()
    val second = build() // before the first runs: joins its cache entry
    // registered after the cache-lifetime listener, so it sees the first
    // execution only once that listener has released the first build
    val released = new CountDownLatch(1)
    val probe = new QueryExecutionListener {
      private def seen(qe: QueryExecution): Unit =
        if (qe.analyzed.sameResult(first.queryExecution.analyzed)) released.countDown()
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen(qe)
    }
    spark.listenerManager.register(probe)
    try {
      assert(first.collect().length == 2)
      assert(released.await(10, TimeUnit.SECONDS), "the first execution was never reported")
    } finally spark.listenerManager.unregister(probe)
    assert(cached(base), "the first build's release freed the second build's cache")
    assert(second.queryExecution.withCachedData.collect { case m: InMemoryRelation => m }.nonEmpty)
    assert(second.collect().length == 2)
    eventually("the second build's cache outlived its execution") {
      cacheManager.isEmpty && !listening
    }
  }

  test("an eager scope frees its caches when its body throws") {
    spark.catalog.clearCache()
    val df = docs.filter(col("id") > 1)
    val e = intercept[IllegalStateException] {
      CacheUtil.eager { scope =>
        scope.cache(df).count()
        assert(cached(df))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(cacheManager.isEmpty)
  }

  test("a nested scope leaves the caller's cache alone") {
    spark.catalog.clearCache()
    val df = docs.filter(col("id") > 2)
    CacheUtil.eager { outer =>
      outer.cache(df)
      CacheUtil.eager { inner => inner.cache(df).count() }
      assert(cached(df), "the inner eager scope freed the caller's cache")
      // a result scope over a frame the caller cached: executing the
      // result frees the result's own caches, never the caller's
      val vecs = (0L until 12L).map(i => (i, Array.tabulate(4)(j => ((i * 3 + j) % 5).toFloat)))
        .toDF("vec_id", "embedding")
      val knn = outer.cache(Ann.topkBruteForce(vecs, vecs, "vec_id", "embedding", 2))
      Ann.knnGraphFrom(knn).collect()
      assert(cached(knn) && cached(df), "the result scope freed the caller's cache")
    }
    // the result joined the caller's knn entry: whichever finishes last frees it
    eventually("caches outlived both scopes")(cacheManager.isEmpty)
  }
}
