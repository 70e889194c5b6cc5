package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Ann

/** Pins [[Local]]: the collect helper, the row-count rule, and
  * `Ann.kmeansFit`'s driver path against its distributed one with the
  * budget at 0.
  */
class LocalSpec extends SparkTestBase {
  import spark.implicits._

  test("collect returns exactly the input's rows, partition by partition, in order") {
    val df = spark.range(0, 103, 1, 7).selectExpr("id * 3 - 50 AS x")
    val got = Local.collect(df)(it => it.map(_.getLong(0)).toArray)
    val want = df.rdd.glom().collect().map(_.map(_.getLong(0)))
    assert(got.length == 7)
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("rows reads a local relation's or a materialized cache's count without a job") {
    val local = (1 to 37).map(i => (i.toLong, "x")).toDF("id", "s")
    assert(jobsDuring(Local.rows(local)) == (37L, 0))
    CacheUtil.eager { scope =>
      val cached = scope.cache(spark.range(0, 250, 1, 5).filter("id % 5 = 0").toDF())
      assert(jobsDuring(Local.rows(cached))._1 == 50L) // counts: not materialized yet
      assert(jobsDuring(Local.rows(cached)) == (50L, 0))
    }
    // a plan with no leaf statistics counts
    assert(jobsDuring(Local.rows(spark.range(0, 250, 1, 5).filter("id % 5 = 0").toDF()))._1 == 50L)
  }

  test("budget 0 fits nothing; the scoped override ends with its body") {
    assert(Local.fits(Local.Budget) && !Local.fits(Local.Budget + 1))
    Local.withBudget(0L) { assert(!Local.fits(0L) && !Local.fits(1L)) }
    assert(Local.budget == Local.Budget)
  }

  private def fit(df: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Double])] =
    Ann.kmeansFit(df, "vec_id", "embedding", k, iters).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq

  /** kmeansFit's local and distributed (budget 0) centroids, bit for bit. */
  private def assertPathsEqual(df: DataFrame, k: Int, iters: Int): Unit = {
    val local = fit(df, k, iters)
    val dist = Local.withBudget(0L)(fit(df, k, iters))
    assert(local.map(_._1) == (0 until k))
    assert(local.zip(dist).forall { case ((_, a), (_, b)) =>
      a.map(java.lang.Double.doubleToRawLongBits) == b.map(java.lang.Double.doubleToRawLongBits)
    }, s"k=$k iters=$iters: local $local vs distributed $dist")
  }

  test("kmeansFit: local path equals the distributed path on planted clusters") {
    // PipelineSpec's planted-cluster vectors: cluster c points near axis c
    val vecs = (0L until 30L).map { i =>
      val c = (i % 3).toInt
      (i, Array.tabulate(8)(d => (if (d == c) 10f else 0f) + ((i * 8 + d) % 7).toFloat * 0.1f))
    }.toDF("vec_id", "embedding")
    for (iters <- Seq(0, 1, 2, 5)) assertPathsEqual(vecs, 3, iters)
  }

  test("kmeansFit: local path equals the distributed path on sf0.001 embeddings") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    for (parts <- Seq(1, 7)) {
      val df = emb.repartition(parts)
      val n = df.count()
      assertPathsEqual(df, Ann.sizedCells(n), 2)
      assertPathsEqual(df.filter($"vec_id" % 10 =!= 9), 4, 3)
    }
  }

  test("kmeansFit: the local path runs no job per iteration") {
    val vecs = (0L until 40L).map(i => (i, Array.fill(16)((i % 5).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val (_, jobs) = jobsDuring(Ann.kmeansFit(vecs, "vec_id", "embedding", 4, 10))
    assert(jobs <= 1, s"$jobs jobs for a 10-iteration local fit")
  }

  test("kmeansFit: the local path rejects null ids or vectors, ragged dims and duplicate ids") {
    def rejects(df: DataFrame, what: String): Unit = {
      val e = intercept[IllegalArgumentException](
        Ann.kmeansFit(df, "vec_id", "embedding", 2, 1))
      assert(e.getMessage.contains("kmeansFit") && e.getMessage.contains(what), e.getMessage)
    }
    val ok = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 1.0)))
    def df(rows: Seq[(java.lang.Long, Seq[java.lang.Double])]) =
      rows.toDF("vec_id", "embedding")
    def boxed(rows: Seq[(Long, Seq[Double])]) =
      rows.map { case (i, v) => (Long.box(i), v.map(Double.box)) }
    rejects(df(boxed(ok) :+ ((null, Seq(Double.box(1.0), Double.box(2.0))))), "null")
    rejects(df(boxed(ok) :+ ((Long.box(3L), null))), "null")
    rejects(df(boxed(ok :+ ((3L, Seq(1.0, 2.0, 3.0))))), "ragged")
    rejects(df(boxed(ok :+ ((1L, Seq(1.0, 2.0))))), "duplicate ids")
  }
}
