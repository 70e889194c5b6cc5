package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables.fp6
import graft.functions.TopKAgg
import graft.functions.Functions.dsl.{adcC, cosineFC, cosineFFC, dotpC, dotpFC,
  ivfCellC, ivfCellFC, ivfProbesC, matVecC, matVecFC, pqAssignC, pqAssignFC,
  pqLutC}

/** Similarity search over an embedding column (SURVEY.md §2.2 ops
  * 22-24): brute-force exact top-k as the baseline and a
  * random-hyperplane-LSH bucketed variant as the scale path.
  *
  * Scale shape: the query set broadcasts; scoring is map-side over the
  * corpus scan; TopKAgg partial-aggregates each partition down to k
  * candidates per query BEFORE the exchange, so the shuffle carries
  * O(k × partitions) rows, not the corpus. The LSH variant buckets the
  * corpus once (a write-time cost at 100 TB) and probes only
  * hamming<=1 buckets.
  */
object Ann {

  /** Embedding (array<float>) → array<double>. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential left-fold dot product (slow HOF path — kept for SQL
    * parity docs; the operators call the codegen'd [[dotpC]]/[[cosineC]]
    * kernels, which fold in the same index order).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Corpus projected to (id, float vector) — the embedding column
    * stays `array<float>` end-to-end: the float-native kernels
    * (cosineF/dotpF) widen per element inside the loop, so there is no
    * cast column to materialize, no corpus shuffle, and the scan moves
    * half the bytes. (Widen-then-multiply is bit-identical to casting
    * the array first, so the double-side oracle still matches.)
    */
  private def vectors(df: DataFrame, idCol: String, vecCol: String,
                      id: String, v: String): DataFrame = {
    graft.functions.Functions.install(df.sparkSession)
    df.select(col(idCol).as(id), col(vecCol).as(v))
  }

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (query_id, rank, neighbor_id, score_fp) where score_fp is
    * the fp6 fixed-point cosine used for (deterministic) ranking.
    * Scale shape: the corpus is never shuffled — queries broadcast,
    * TopKAgg partial-aggregates each partition down to k candidates
    * per query before the exchange, so the shuffle carries
    * O(k × partitions) rows.
    */
  def topkBruteForce(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val c = vectors(corpus, idCol, vecCol, "_cid", "_cv")
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("_qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("_cid") =!= col("query_id"))
      .withColumn("_score", fp6(cosineFC(col("_cv"), col("_qv"))))
    topkOutput(scored, k)
  }

  /** ±1 hyperplane matrix derived from md5 parity — reproducible by
    * any engine with md5: h(p,i) = -1 iff first hex digit of
    * md5("p,i") is odd.
    */
  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, i) =>
      md.reset()
      val hex = md.digest(s"$p,$i".getBytes("UTF-8"))
      val firstNibble = (hex(0) >> 4) & 0xf
      if (firstNibble % 2 == 1) -1.0 else 1.0
    }
  }

  /** Bucket id from hyperplane signs: bit p set iff dot(v, h_p) >= 0. */
  def bucketOf(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (h, p) =>
      when(dotpC(v, typedLit(h)) >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** [[bucketOf]] for a float vector column (identical bucket ids). */
  def bucketOfF(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (h, p) =>
      when(dotpFC(v, typedLit(h)) >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** LSH ANN: bucket the corpus on nPlanes random hyperplanes, probe
    * each query's bucket plus all hamming-1 neighbors, rerank probed
    * candidates by exact cosine. Output like [[topkBruteForce]].
    */
  def topkLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nPlanes: Int = 8,
              dim: Int = 64): DataFrame = {
    // dim must match the embedding width: narrower planes would index
    // past the plane array (AIOOBE) and wider ones would bucket on a
    // truncated prefix — the kernel checks, but fail loudly here too
    val planes = hyperplanes(nPlanes, dim)
    val c = vectors(corpus, idCol, vecCol, "_cid", "_cv")
      .withColumn("_bucket", bucketOfF(col("_cv"), planes))
    val masks = 0 +: (0 until nPlanes).map(1 << _)
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("_qv"))
      .withColumn("_qb", bucketOf(col("_qv"), planes))
      .withColumn("_probe", explode(array(masks.map(m => col("_qb").bitwiseXOR(lit(m))): _*)))
    val scored = c.join(broadcast(q), col("_bucket") === col("_probe"))
      .filter(col("_cid") =!= col("query_id"))
      .withColumn("_score", fp6(cosineFC(col("_cv"), col("_qv"))))
    topkOutput(scored, k)
  }

  /** Shared ranking tail: per-query bounded-heap partial top-k before
    * the exchange, then explode to (query_id, rank, neighbor_id,
    * score_fp).
    */
  private def topkOutput(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(TopKAgg.topK(col("_score"), col("_cid"), k).as("_tk"))
      .select(col("query_id"), posexplode(col("_tk")).as(Seq("_r", "_e")))
      .select(col("query_id"), (col("_r") + 1).as("rank"),
        col("_e.id").as("neighbor_id"), col("_e.score").as("score_fp"))

  /** IVF-flat ANN: a coarse quantizer partitions the corpus into
    * cells; queries probe the `nProbe` nearest cells and rerank by
    * exact cosine. The default quantizer is deterministic — the
    * `nCentroids` smallest-id corpus vectors stand in for a k-means
    * fit (the oracle replays it exactly). A production deployment
    * passes `centroids`: a DataFrame of (idCol: cell id, vecCol:
    * centroid vector) rows from an offline k-means fit; the structure
    * is identical, only the collected literal table changes. Cell
    * assignment is map-side (centroids travel as literals, like the
    * LSH planes; the collect is bounded by the centroid count, a few
    * thousand rows at most); at scale the cell id becomes a
    * partition/bucketing column so probes prune partitions instead of
    * scanning.
    */
  def topkIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCentroids: Option[Int] = None,
              nProbe: Int = 4, centroids: Option[DataFrame] = None): DataFrame = {
    graft.functions.Functions.install(corpus.sparkSession)
    // Option, not a default-value sentinel: an explicitly-passed
    // nCentroids alongside a centroids DataFrame is always rejected
    // (ADVICE r7 — the old `== 16` guard let an explicit 16 through)
    require(centroids.isEmpty || nCentroids.isEmpty,
      "nCentroids only parameterizes the stand-in quantizer; with a " +
        "caller-supplied centroids DataFrame the cell count is its row " +
        "count — don't pass both")
    val standInK = nCentroids.getOrElse(16)
    val centSrc = centroids.getOrElse(corpus.filter(col(idCol) < standInK))
    val cents: Array[(Int, Array[Double])] = centSrc
      .select(col(idCol).cast("int"), asDouble(col(vecCol)))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty,
      if (centroids.isDefined) "centroids DataFrame is empty"
      else s"no centroid vectors found: corpus has no $idCol < $standInK")
    require(cents.map(_._1).distinct.length == cents.length,
      "duplicate centroid ids")
    val (centsL, idsL) = centroidLits(cents)
    val c = vectors(corpus, idCol, vecCol, "_cid", "_cv")
      .withColumn("_cell", cellOf(corpus, vecCol, col("_cv"), centsL, idsL))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("_qv"))
      .withColumn("_parr", ivfProbesC(col("_qv"), centsL, idsL, nProbe))
      .withColumn("_probe", explode(expr("transform(_parr, s -> s.cell)")))
    val scored = c.join(broadcast(q), col("_cell") === col("_probe"))
      .filter(col("_cid") =!= col("query_id"))
      .withColumn("_score", fp6(cosineFC(col("_cv"), col("_qv"))))
    topkOutput(scored, k)
  }

  /** Centroid table + ids as the two literal nested arrays the
    * ivfCell/ivfProbes kernels consume. Ids must ascend — the kernels'
    * earliest-wins tie rule is then exactly the old
    * max-struct(dot, −cid) rule (smallest cid on ties). Replaces the
    * per-centroid literal-expression chain whose codegen size scaled
    * with nCells·dim and pushed ADC join stages out of whole-stage
    * codegen (round 12).
    */
  private def centroidLits(cents: Seq[(Int, Array[Double])]): (Column, Column) = {
    require(cents.map(_._1) == cents.map(_._1).sorted,
      "centroid ids must ascend for the kernel tie rule")
    (typedLit(cents.map(_._2.toSeq)), typedLit(cents.map(_._1)))
  }

  /** Kernelized argmax-dot cell id; float corpora take the
    * widen-per-element kernel (dotpF's arithmetic), double ones the
    * double kernel — identical results where both apply.
    */
  private def cellOf(df: DataFrame, vecCol: String, v: Column,
                     centsL: Column, idsL: Column): Column =
    if (isFloatVec(df, vecCol)) ivfCellFC(v, centsL, idsL)
    else ivfCellC(v, centsL, idsL)

  /** Default coarse-quantizer sizing rule: `min(n, max(kMin, ⌈√n⌉))`
    * cells for an n-vector corpus. √n balances the two IVF scan costs
    * (per-query centroid scan = nCells vs per-probe posting scan =
    * n/nCells), the classical IVF sizing; this rule gives 142 cells at
    * n=20k (PipelineSpec pins sizedCells(20000) == 142), and the
    * GraphProbe ×100 run (tools/GraphProbe, recoverable from commit
    * e9cc669) measured a √n-shaped quantizer (its pre-rule fixed
    * config used 128) halving the ADC probe scan vs a fixed 32.
    * `kMin` floors tiny corpora so blocking queries (SemDeDup) keep
    * useful clusters; the `min(n, ·)` cap keeps [[kmeansFit]]'s
    * smallest-id init satisfiable. Oracles replay the same rule as
    * `GREATEST(kMin, CEIL(SQRT(COUNT(*))))` over the same table —
    * textually WITHOUT the `min(n, ·)` cap, which the SQL realizes
    * implicitly: every oracle's `ini` CTE filters `WHERE cell < kk.k`
    * over row numbers 0..n-1, so at most n init rows exist regardless
    * of kk.k. That coupling means kk.k must only ever bound the init
    * CTE — an oracle that used kk.k directly (as a divisor, or a LIMIT
    * on another table) would diverge from the Scala rule for n < kMin.
    */
  def sizedCells(n: Long, kMin: Int = 16): Int = {
    require(n >= 1, "corpus must be non-empty")
    math.min(n, math.max(kMin.toLong,
      math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
  }

  /** Spherical k-means coarse-quantizer fit (Lloyd iterations) for the
    * IVF path — turns [[topkIvf]]'s stand-in quantizer into a trained
    * one: feed the returned (cell id, centroid) frame through its
    * `centroids` parameter.
    *
    * Deterministic and engine-replayable by construction:
    *   - init = the `k` smallest-id corpus vectors, unit-normalized,
    *     cell ids 0..k-1 in id order;
    *   - assign = argmax dot(v, centroid), smallest cell on ties (the
    *     same rule [[topkIvf]] applies at query time — with unit-norm
    *     centroids argmax-dot IS argmin-Euclidean, so the fit metric
    *     and the query metric agree);
    *   - re-center = component mean, then re-normalize to unit norm
    *     (spherical k-means); empty cells keep their previous centroid;
    *   - every centroid component is QUANTIZED to the 1e-6 grid
    *     (floor(x·1e6 + 0.5)/1e6) after init and after each re-center.
    *     The quantization is what makes the fit reproducible: the
    *     re-center means are full-corpus float sums whose value depends
    *     on partition/summation order (Spark partial aggregation vs an
    *     oracle engine's scan order), and collapsing them to a coarse
    *     shared grid absorbs that ulp-level noise before it can flip a
    *     borderline next-iteration assignment.
    *
    * Scale shape: two paths, chosen by [[graft.Local]] from rows × dim
    * (the row count from plan statistics or one count).
    *   - Within [[graft.Local.Budget]]: (id, vector) collects ONCE as
    *     primitive arrays per partition (a partition stops at a vector
    *     whose dim puts rows × dim over the budget, and the fit then
    *     takes the distributed path), and init plus every Lloyd
    *     iteration run on the driver, assigning with the same
    *     [[graft.dsp.Vec.argmaxDot]] the cell kernels call and summing
    *     in collected order. Null ids or vectors, ragged dims and
    *     duplicate ids are rejected.
    *   - Over it, one shuffle per Lloyd iteration: assignment is a
    *     map-side expression against broadcast centroid literals; the
    *     re-center is ONE hash aggregate with `dim` sum columns + count
    *     — partial aggregation reduces each partition to ≤ k rows
    *     before the exchange, so the shuffle carries
    *     O(k × partitions × dim) values, never the corpus. The only
    *     collects are the k init rows and the k-row centroid table per
    *     iteration (bounded, same contract as [[topkIvf]]'s literal
    *     centroids).
    * Both give the same centroids: the 1e-6 grid absorbs their
    * summation orders (LocalSpec pins the two paths equal). At
    * 100 TB the fit runs on a sample (pass a sampled corpus in) and
    * the resulting cell id becomes a bucketing/partition column — see
    * the partition-pruning test in PlanShapeSpec.
    */
  def kmeansFit(corpus: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int = 2): DataFrame = {
    graft.functions.Functions.install(corpus.sparkSession)
    require(k >= 1, "k must be positive")
    require(iters >= 0, "iters must be nonnegative")
    val cents = kmeansLocal(corpus, idCol, vecCol, k, iters)
      .getOrElse(kmeansDistributed(corpus, idCol, vecCol, k, iters))
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.zipWithIndex.map { case (cv, cid) => (cid, cv) }.toSeq
      .toDF(idCol, vecCol)
  }

  private def quant(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Unit-normalize, then quantize every component to the 1e-6 grid. */
  private def normQuant(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val nr = math.sqrt(s)
    v.map(x => quant(if (nr > 0) x / nr else 0.0))
  }

  /** The fit on the driver, or None when rows × dim is over the
    * [[graft.Local]] budget.
    */
  private def kmeansLocal(corpus: DataFrame, idCol: String, vecCol: String,
                          k: Int, iters: Int): Option[Array[Array[Double]]] = {
    val n = graft.Local.rows(corpus)
    if (!graft.Local.fits(n)) return None
    require(n >= k, s"corpus has fewer than $k vectors")
    val budget = graft.Local.budget
    val over = "over" // a vector whose dim puts rows × dim over the budget
    val spark = corpus.sparkSession
    import spark.implicits._
    // per partition: ids, vectors, the dim of its first vector and its
    // first contract violation. A partition stops at the first vector
    // over the budget, so at most the budget reaches the driver.
    val parts = graft.Local.collect(
        corpus.select(col(idCol).cast("long"), asDouble(col(vecCol)))) { it =>
      val (ids, xs) = (Array.newBuilder[Long], Array.newBuilder[Array[Double]])
      var (dim, bad) = (-1, "")
      while (bad.isEmpty && it.hasNext) {
        val r = it.next()
        if (r.isNullAt(0) || r.isNullAt(1)) bad = "null id or vector"
        else {
          val v = r.getSeq[java.lang.Double](1)
          if (v.length.toLong * n > budget) bad = over
          else if (dim >= 0 && v.length != dim) bad = s"ragged dims (${v.length} vs $dim)"
          else if (v.contains(null)) bad = "null vector element"
          else { dim = v.length; ids += r.getLong(0); xs += v.iterator.map(_.doubleValue).toArray }
        }
      }
      (ids.result(), xs.result(), dim, bad)
    }
    if (parts.exists(_._4 == over)) return None
    val bad = parts.map(_._4).find(_.nonEmpty)
    require(bad.isEmpty, s"kmeansFit: ${bad.getOrElse("")}")
    val dims = parts.map(_._3).filter(_ >= 0).distinct
    require(dims.length == 1, s"kmeansFit: ragged dims (${dims.mkString(" vs ")})")
    val dim = dims.head
    val ids = parts.flatMap(_._1)
    val xs = parts.flatMap(_._2)
    val sorted = ids.clone()
    java.util.Arrays.sort(sorted)
    require((1 until sorted.length).forall(i => sorted(i) != sorted(i - 1)),
      "kmeansFit: duplicate ids")
    // init: the k smallest ids, cell c = the c-th smallest
    var cents = new Array[Array[Double]](k)
    ids.indices.foreach { i =>
      val c = java.util.Arrays.binarySearch(sorted, 0, k, ids(i))
      if (c >= 0) cents(c) = normQuant(xs(i))
    }
    for (_ <- 0 until iters) {
      val sums = Array.ofDim[Double](k, dim)
      val cnt = new Array[Long](k)
      xs.foreach { x =>
        val c = graft.dsp.Vec.argmaxDot(x, cents)
        cnt(c) += 1
        val s = sums(c)
        var j = 0
        while (j < dim) { s(j) += x(j); j += 1 }
      }
      // empty cells keep their previous centroid
      cents = Array.tabulate(k)(c =>
        if (cnt(c) == 0) cents(c) else normQuant(sums(c).map(_ / cnt(c).toDouble)))
    }
    Some(cents)
  }

  /** The fit as Spark jobs: a k-row init collect, then per iteration
    * one aggregate whose k rows collect.
    */
  private def kmeansDistributed(corpus: DataFrame, idCol: String, vecCol: String,
                                k: Int, iters: Int): Array[Array[Double]] = {
    val initRows = corpus
      .select(col(idCol).cast("long").as("_id"), asDouble(col(vecCol)).as("_v"))
      .orderBy(col("_id")).limit(k).collect()
    require(initRows.length == k, s"corpus has fewer than $k vectors")
    val dim = initRows.head.getSeq[Double](1).length
    var cents: Array[Array[Double]] =
      initRows.map(r => normQuant(r.getSeq[Double](1).toArray))
    // the fit scans the corpus once per iteration — cache it for the
    // fit's duration (freed even when an iteration throws, so a failed
    // fit cannot pin the corpus in the cache)
    graft.CacheUtil.eager { scope =>
      val vecs = vectors(corpus, idCol, vecCol, "_cid", "_cv")
      if (iters > 0) scope.cache(vecs)
      for (_ <- 0 until iters) {
        val (centsL, idsL) = centroidLits(
          cents.zipWithIndex.map { case (cv, cid) => (cid, cv) }.toSeq)
        val aggCols = (0 until dim).map(i =>
          sum(element_at(col("_cv"), i + 1).cast("double")).as(s"_s$i")) :+
          count(lit(1)).as("_cnt")
        val rows = vecs
          .withColumn("_cell", cellOf(corpus, vecCol, col("_cv"), centsL, idsL))
          .groupBy(col("_cell"))
          .agg(aggCols.head, aggCols.tail: _*)
          .collect()
        val next = cents.clone() // empty cells keep their previous centroid
        rows.foreach { r =>
          val cell = r.getInt(0)
          val cnt = r.getLong(dim + 1).toDouble
          next(cell) = normQuant(Array.tabulate(dim)(i => r.getDouble(i + 1) / cnt))
        }
        cents = next
      }
    }
    cents
  }

  /** Map-side cell assignment against a trained centroid table — the
    * write-time half of the 100 TB IVF story: partition (or bucket)
    * the corpus by the returned cell column, and probe-side scans
    * prune to the nProbe probed cells instead of reading the corpus
    * (PlanShapeSpec pins the pruned-scan plan). Uses the identical
    * argmax-dot / smallest-cell-tie rule as [[topkIvf]], so a stored
    * layout and a query-time assignment never disagree.
    */
  def assignCells(corpus: DataFrame, centroids: DataFrame, idCol: String,
                  vecCol: String, cellCol: String = "cell"): DataFrame = {
    graft.functions.Functions.install(corpus.sparkSession)
    val cents = centroids
      .select(col(idCol).cast("int"), asDouble(col(vecCol)))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "centroids DataFrame is empty")
    // asDouble + the double kernel folds in the same index order as the
    // float-native path (widen-then-multiply), so assignments match
    // topkIvf's bit-for-bit on float corpora and also accept double ones
    val (centsL, idsL) = centroidLits(cents.toSeq)
    corpus.withColumn(cellCol, ivfCellC(asDouble(col(vecCol)), centsL, idsL))
  }

  /** Embedding near-duplicate pairs: banded random-hyperplane blocking
    * (the minhash band design transplanted to cosine space) —
    * `nTables` independent tables of `nPlanes` hyperplanes each; a
    * pair is a candidate iff it lands in the same bucket of ANY table,
    * then same-bucket pairs are verified by exact cosine >= minCos.
    * Approximate by construction — the oracle replays the identical
    * blocking.
    *
    * Occupancy math (SURVEY §4): per table, expected bucket size is
    * n / 2^nPlanes, so in-bucket pairing costs ~ nTables · n² / 2^nPlanes
    * comparisons in expectation — pick nPlanes ≈ log2(n / c) to hold
    * expected bucket size at a constant c (e.g. n = 10^10 docs,
    * c = 1024 ⇒ nPlanes ≈ 23), and raise nTables for recall: a pair
    * at angle θ survives one table with (1 − θ/π)^nPlanes and any of
    * T tables with 1 − (1 − p)^T. All tables share ONE shuffle — each
    * vector explodes to (table, bucket) keys, exactly like the
    * simhash/minhash band paths.
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     minCos: Double, nPlanes: Int = 8,
                     nTables: Int = 4, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nTables * nPlanes, dim)
    val tableBuckets = array((0 until nTables).map { t =>
      val slice = planes.slice(t * nPlanes, (t + 1) * nPlanes)
      struct(lit(t).as("t"), bucketOfF(col("_v"), slice).as("k"))
    }: _*)
    val v = vectors(df, idCol, vecCol, "_id", "_v")
      .select(col("_id"), col("_v"), explode(tableBuckets).as("tb"))
      .select(col("_id"), col("_v"), col("tb.t").as("_t"), col("tb.k").as("_k"))
    val a = v.select(col("_t"), col("_k"), col("_id").as("a"), col("_v").as("_va"))
    val b = v.select(col("_t"), col("_k"), col("_id").as("b"), col("_v").as("_vb"))
    a.join(b, Seq("_t", "_k")).filter(col("a") < col("b"))
      .withColumn("cos", cosineFFC(col("_va"), col("_vb")))
      .filter(col("cos") >= minCos)
      .select(col("a"), col("b"), fp6(col("cos")).as("cos_fp"))
      .distinct()
  }

  // ---- product quantization (IVF-PQ's compression half) -------------

  /** Product-quantization codebook fit (Jégou et al., TPAMI 2011): the
    * vector splits into `nSub` contiguous subspaces of dim/nSub
    * components; each subspace gets its own `kSub`-centroid plain
    * (non-spherical) k-means fit, so a vector compresses to nSub small
    * cell ids — 8 bytes instead of 256 for a 64-dim float embedding.
    * Returns (m, cell, centroid: array<double>) — nSub·kSub bounded
    * rows, the same collect-a-model contract as [[kmeansFit]].
    *
    * Deterministic/replayable by the same construction as kmeansFit:
    * init = the kSub smallest-id vectors sliced per subspace, assign =
    * argmin fixed-point L2 (computed as fp6(‖c‖² − 2⟨x,c⟩) — the ‖x‖²
    * term is constant per (vector, subspace) and cancels from the
    * argmin, and dropping it lets the oracle replay the identical
    * expression), ties → smallest cell, re-center = component mean on
    * the 1e-6 grid, empty cells keep their previous centroid.
    *
    * Scale shape: ALL subspaces train in every pass — one map-side
    * assignment expression + ONE partial-aggregated shuffle per Lloyd
    * iteration carrying ≤ nSub·kSub rows per partition (never the
    * corpus), one bounded nSub·kSub-row collect per iteration. At
    * 100 TB the fit runs on a sample; encoding is a pure map over the
    * corpus (see [[pqEncode]]).
    */
  def pqFit(corpus: DataFrame, idCol: String, vecCol: String,
            nSub: Int = 8, kSub: Int = 16, iters: Int = 2): DataFrame = {
    graft.functions.Functions.install(corpus.sparkSession)
    require(nSub >= 1 && kSub >= 1 && iters >= 0,
      "nSub/kSub must be positive, iters nonnegative")
    val initRows = corpus
      .select(col(idCol).cast("long").as("_id"), asDouble(col(vecCol)).as("_v"))
      .orderBy(col("_id")).limit(kSub).collect()
    require(initRows.length == kSub, s"corpus has fewer than $kSub vectors")
    val dim = initRows.head.getSeq[Double](1).length
    require(dim % nSub == 0, s"dim $dim not divisible by nSub $nSub")
    val sd = dim / nSub
    // cb(m)(cell) = subspace centroid (sd components)
    var cb: Array[Array[Array[Double]]] = Array.tabulate(nSub, kSub) { (m, cell) =>
      initRows(cell).getSeq[Double](1).slice(m * sd, (m + 1) * sd)
        .map(quant).toArray
    }
    val fv = isFloatVec(corpus, vecCol)
    graft.CacheUtil.eager { scope =>
      val vecs = vectors(corpus, idCol, vecCol, "_cid", "_cv")
      if (iters > 0) scope.cache(vecs)
      for (_ <- 0 until iters) {
        // (m, cell_m, subvector_m) per input row — assignment is ONE
        // pqAssign kernel call against the literal codebook (round 12:
        // the old per-(m, cell) struct chain was the codegen-blowup
        // shape), exploded into per-subspace rows for the re-center agg
        val cbLit = typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
        val assign = if (fv) pqAssignFC(col("_cv"), cbLit)
          else pqAssignC(col("_cv"), cbLit)
        val aggCols = (0 until sd).map(j =>
          sum(element_at(col("_sv"), j + 1).cast("double")).as(s"_s$j")) :+
          count(lit(1)).as("_cnt")
        val rows = vecs.withColumn("_codes", assign)
          .select(explode(expr(
            s"transform(sequence(0, ${nSub - 1}), m -> struct(m AS m, " +
              s"element_at(_codes, m + 1) AS cell, " +
              s"slice(_cv, m * $sd + 1, $sd) AS sv))")).as("_e"))
          .select(col("_e.m").as("_m"), col("_e.cell").as("_cell"),
            col("_e.sv").as("_sv"))
          .groupBy(col("_m"), col("_cell"))
          .agg(aggCols.head, aggCols.tail: _*)
          .collect()
        val next = cb.map(_.clone()) // empty cells keep their centroid
        rows.foreach { r =>
          val m = r.getInt(0); val cell = r.getInt(1)
          val cnt = r.getLong(sd + 2).toDouble
          next(m)(cell) = Array.tabulate(sd)(j => quant(r.getDouble(j + 2) / cnt))
        }
        cb = next
      }
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    (for { m <- 0 until nSub; cell <- 0 until kSub }
      yield (m, cell, cb(m)(cell).toSeq)).toDF("m", "cell", "centroid")
  }

  /** argmin-L2 cell for one subspace against its literal codebook:
    * min over struct(fp6(‖c‖² − 2⟨sv,c⟩), cell) — smallest distance,
    * smallest cell on ties. The fixed-point grid absorbs the
    * engine-vs-oracle summation-order ulps before they can flip an
    * assignment (same trick as the kmeansFit centroid grid).
    * `isFloat` picks the float-native or double dot kernel — residual
    * vectors (IVF-PQ) arrive as doubles, raw embeddings as floats.
    */
  /** Element type check: array<float> vectors take the float-native
    * kernels, array<double> (residuals) the double ones. */
  private def isFloatVec(df: DataFrame, vecCol: String): Boolean =
    df.schema(df.schema.fieldIndex(vecCol)).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }

  /** Collect a (m, cell, centroid) codebook frame to the nested
    * literal array the map-side expressions close over. Bounded:
    * nSub·kSub rows.
    */
  private def collectCodebook(codebooks: DataFrame): Array[Array[Array[Double]]] = {
    val rows = codebooks
      .select(col("m").cast("int"), col("cell").cast("int"),
        asDouble(col("centroid")))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, "codebook frame is empty")
    val nSub = rows.map(_._1._1).max + 1
    val kSub = rows.map(_._1._2).max + 1
    require(rows.length == nSub * kSub, "codebook frame has holes")
    val byKey = rows.toMap
    Array.tabulate(nSub, kSub)((m, c) => byKey((m, c)))
  }

  /** Write-time PQ encoding: each vector → array of nSub cell ids
    * (the 100 TB layout stores ONLY these codes + the id next to the
    * bucketed/IVF-partitioned corpus — ~nSub bytes per vector). Pure
    * map-side expression, zero shuffle; the same argmin rule as the
    * fit, so stored codes and a re-encode never disagree.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, idCol: String,
               vecCol: String, codesCol: String = "codes"): DataFrame = {
    graft.functions.Functions.install(corpus.sparkSession)
    val cb = collectCodebook(codebooks)
    // ONE kernel call per row (graft_pqassign) — the old per-(m, cell)
    // struct chain put nSub·kSub literal subtrees in the encode Project
    // and pushed downstream join stages out of whole-stage codegen
    val cbLit = typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    corpus.withColumn(codesCol,
      if (isFloatVec(corpus, vecCol)) pqAssignFC(col(vecCol), cbLit)
      else pqAssignC(col(vecCol), cbLit))
  }

  /** PQ ANN via asymmetric distance computation (ADC): the query stays
    * uncompressed; its approximate dot with a corpus vector is
    * Σ_m ⟨q_m, centroid(m, code_m)⟩ — a table lookup per subspace.
    * Each query precomputes the nSub×kSub lookup table map-side from
    * the codebook literals and broadcasts with it; corpus rows are
    * scored from their CODES alone (the scan never touches the raw
    * embedding after encoding — at 100 TB that is the point: 8 bytes
    * scanned per vector instead of 256). TopKAgg partial-aggregates to
    * k per partition before the one bounded exchange, like every ANN
    * path here. Ranking is by the fp6 fixed-point ADC score
    * (approximate by construction; the oracle replays the identical
    * codebook, codes, and lookup sums).
    *
    * Codegen note: at 8×16 the unrolled argmin/lut expressions stay
    * inside Janino's method limits (verified codegen-clean); 8×32
    * trips the limit and Spark falls back to interpreted projection
    * for that stage — correct but slower. A codebook bigger than ~16
    * cells/subspace on the hot path wants a dedicated Catalyst
    * Expression (the DspExpr bridge pattern).
    */
  def topkPq(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, nSub: Int = 8, kSub: Int = 16,
             iters: Int = 2, codebooks: Option[DataFrame] = None): DataFrame = {
    graft.functions.Functions.install(corpus.sparkSession)
    val cbFrame = codebooks.getOrElse(
      pqFit(corpus, idCol, vecCol, nSub, kSub, iters))
    val cb = collectCodebook(cbFrame)
    val sd = cb(0)(0).length
    val c = pqEncode(vectors(corpus, idCol, vecCol, "_cid", "_cv"),
      cbFrame, "_cid", "_cv", codesCol = "_codes")
      .select(col("_cid"), col("_codes"))
    // per-query ADC lookup table lut[m][j] = ⟨q_m, c(m,j)⟩ as one
    // kernel call over the literal codebook
    val cbLit = typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("_qv"))
      .withColumn("_lut", pqLutC(col("_qv"), cbLit))
      .select(col("query_id"), col("_lut"))
    // ADC sum as one kernel call (graft_adc) — bit-identical to the
    // old ascending-m element_at chain, ~75× cheaper per scored row
    val score = fp6(adcC(col("_lut"), col("_codes")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("_cid") =!= col("query_id"))
      .withColumn("_score", score)
    topkOutput(scored, k)
  }

  /** IVF-PQ (the FAISS IndexIVFPQ recipe, Jégou et al. TPAMI 2011
    * §V): a coarse quantizer partitions the corpus into cells, each
    * vector stores only its cell id + the PQ codes of its RESIDUAL
    * (x − centroid[cell]) — residuals concentrate near 0 so the same
    * codebook budget quantizes them far better than raw vectors — and
    * a query scores candidates in its nProbe nearest cells by
    * ⟨q, centroid⟩ + ADC(q, residual codes): the first term falls out
    * of cell probing, the second is the subspace lookup-table sum.
    *
    * Scale shape: write time = map-side cell assign + residual encode
    * (cell id + nSub bytes per vector stored, layout via
    * [[assignCells]]-style partitioning so probes PRUNE partitions);
    * fit = one bounded coarse-centroid collect + pqFit's one shuffle
    * per Lloyd iteration on the residual frame; query time = broadcast
    * probe join on the cell id (never a corpus shuffle) + TopKAgg's
    * bounded exchange. The coarse quantizer defaults to the same
    * deterministic smallest-id stand-in as [[topkIvf]] (the oracle
    * replays it); production passes `centroids` from a kmeansFit run.
    */
  def topkIvfPq(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nProbe: Int = 4, nSub: Int = 8,
                kSub: Int = 16, iters: Int = 1,
                centroids: Option[DataFrame] = None,
                nCentroids: Option[Int] = None): DataFrame = {
    graft.functions.Functions.install(corpus.sparkSession)
    require(centroids.isEmpty || nCentroids.isEmpty,
      "nCentroids only parameterizes the stand-in quantizer; with a " +
        "caller-supplied centroids DataFrame the cell count is its row count")
    val standInK = nCentroids.getOrElse(16)
    val centSrc = centroids.getOrElse(corpus.filter(col(idCol) < standInK))
    val cents: Array[(Int, Array[Double])] = centSrc
      .select(col(idCol).cast("int"), asDouble(col(vecCol)))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "no coarse centroids")
    // centroid table as ONE literal array column indexed by cell id —
    // the residual expression stays a single zip_with regardless of
    // cell count (no CASE chain)
    require(cents.map(_._1).toSeq == cents.indices.toSeq,
      "coarse cell ids must be dense 0..n-1 for the literal-array index")
    val centArr = typedLit(cents.map(_._2.toSeq).toSeq)
    val (centsL, idsL) = centroidLits(cents.toSeq)
    val c0 = vectors(corpus, idCol, vecCol, "_cid", "_cv")
      .withColumn("_cell", cellOf(corpus, vecCol, col("_cv"), centsL, idsL))
      .withColumn("_resid",
        zip_with(asDouble(col("_cv")),
          element_at(centArr, col("_cell") + 1), (a, b) => a - b))
    val cbFrame = pqFit(c0, "_cid", "_resid", nSub, kSub, iters)
    val cb = collectCodebook(cbFrame)
    val cbLit = typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    val c = pqEncode(c0, cbFrame, "_cid", "_resid", codesCol = "_codes")
      .select(col("_cid"), col("_cell"), col("_codes"))
    // query: nProbe best cells, carrying each probed cell's ⟨q, c⟩
    // (the coarse half of the ADC score), plus the residual lut —
    // both as single kernel calls over the literal tables
    val q = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("_qv"))
      .withColumn("_parr", ivfProbesC(col("_qv"), centsL, idsL, nProbe))
      .withColumn("_lut", pqLutC(col("_qv"), cbLit))
      .select(col("query_id"), col("_lut"),
        explode(expr("transform(_parr, s -> struct(s.cell AS cell, s.d AS qcdot))")).as("_p"))
      .select(col("query_id"), col("_lut"),
        col("_p.cell").as("_probe"), col("_p.qcdot").as("_qcdot"))
    val score = fp6(col("_qcdot") + adcC(col("_lut"), col("_codes")))
    val scored = c.join(broadcast(q), col("_cell") === col("_probe"))
      .filter(col("_cid") =!= col("query_id"))
      .withColumn("_score", score)
    topkOutput(scored, k)
  }

  /** Parametric OPQ model (Ge et al., CVPR 2013, "Optimized Product
    * Quantization for Approximate Nearest Neighbor Search", §4 OPQ_P):
    * an orthogonal d×d rotation R whose rows are the covariance
    * eigenvectors REORDERED by eigenvalue allocation — principal
    * directions are dealt greedily to subspaces so each subspace's
    * variance PRODUCT (Σ log λ) balances, the free-subspace-assignment
    * optimum under the Gaussian distortion model. Rotating with R
    * before product quantization concentrates equal information in
    * every subspace, which is exactly what per-subspace codebooks
    * need; because R is orthogonal, ⟨Rq, Rx⟩ = ⟨q, x⟩, so ADC scores
    * on rotated vectors rank the ORIGINAL dot products.
    *
    * The struct carries the verification evidence next to the model
    * (all computed on the driver against the SAME collected covariance
    * the eigensolver consumed — bounded d×d work, never the corpus):
    *  - `orthErr`  = max |RRᵀ − I|          (rotation is orthogonal)
    *  - `diagErr`  = max offdiag |R C Rᵀ| / max λ (R diagonalizes C)
    *  - `allocSpread` vs `contigSpread`: max−min per-subspace Σ log λ
    *    under the greedy allocation vs the naive contiguous split —
    *    greedy must never be WORSE balanced than contiguous.
    */
  final case class OpqModel(rotation: Array[Array[Double]],
                            eigenvalues: Array[Double],
                            assignment: Array[Array[Int]],
                            orthErr: Double, diagErr: Double,
                            allocSpread: Double, contigSpread: Double) {
    def dim: Int = rotation.length
  }

  /** Fit the parametric OPQ rotation from ONE distributed covariance
    * scan (the GramAgg pass behind [[Emb.covariance]] — the exchange
    * carries 1+d+d(d+1)/2-double buffers, never the corpus) plus a
    * driver-side O(d³) Jacobi eigendecomposition and an O(d log d)
    * greedy allocation — the kmeansFit collect-a-model shape. At
    * 100 TB the scan is the only corpus-touching step and it is
    * partial-aggregated map-side.
    *
    * Eigenvalue allocation (Ge et al. §4.2): walk eigenvalues in
    * descending order, assign each to the not-yet-full subspace with
    * the smallest running Σ log λ (ties → smallest subspace index).
    * Zero/negative eigenvalues clamp to 1e-12 inside the log so a
    * rank-deficient corpus still allocates deterministically.
    */
  def opqFit(corpus: DataFrame, idCol: String, vecCol: String,
             nSub: Int = 8): OpqModel = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % nSub == 0, s"dim $dim not divisible by nSub $nSub")
    val sd = dim / nSub
    val rows = Emb.covariance(corpus, vecCol, dim).collect()
    require(rows.nonEmpty, "opqFit: empty corpus")
    val cov = Array.ofDim[Double](dim, dim)
    rows.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1); val c = r.getDouble(5)
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (values, vectors) = graft.dsp.Eigen.symmetric(cov)
    // greedy eigenvalue allocation over descending λ. The greedy
    // compares bins holding DIFFERENT item counts mid-run, so raw
    // log λ (negative for λ < 1) would let one bin keep "winning" by
    // getting more negative — degenerating to the contiguous split.
    // Shifting every item by −min log λ makes items non-negative;
    // because every subspace ends with exactly sd items, the shift
    // moves all final sums by the same sd·K and the end-state balance
    // is unchanged — only the intermediate comparisons are repaired.
    def logl(c: Int): Double = math.log(math.max(values(c), 1e-12))
    val wMin = (0 until dim).map(logl).min
    val logProd = new Array[Double](nSub)
    val buckets = Array.fill(nSub)(scala.collection.mutable.ArrayBuffer.empty[Int])
    for (c <- 0 until dim) {
      val open = (0 until nSub).filter(m => buckets(m).length < sd)
      val m = open.minBy(m => (logProd(m), m))
      buckets(m) += c
      logProd(m) += logl(c) - wMin
    }
    val assignment = buckets.map(_.toArray)
    val rot: Array[Array[Double]] =
      assignment.flatMap(_.map(c => vectors(c).clone()))
    // verification evidence vs the independently collected covariance
    var orthErr = 0.0
    for (a <- 0 until dim; b <- 0 until dim) {
      var s = 0.0
      var j = 0
      while (j < dim) { s += rot(a)(j) * rot(b)(j); j += 1 }
      val target = if (a == b) 1.0 else 0.0
      orthErr = math.max(orthErr, math.abs(s - target))
    }
    // B = R C Rᵀ via two bounded matmuls; offdiag relative to max λ
    val rc = Array.ofDim[Double](dim, dim)
    for (a <- 0 until dim; j <- 0 until dim) {
      var s = 0.0
      var t = 0
      while (t < dim) { s += rot(a)(t) * cov(t)(j); t += 1 }
      rc(a)(j) = s
    }
    var offMax = 0.0
    val lmax = math.max(values.map(math.abs).max, 1e-12)
    for (a <- 0 until dim; b <- 0 until dim if a != b) {
      var s = 0.0
      var t = 0
      while (t < dim) { s += rc(a)(t) * rot(b)(t); t += 1 }
      offMax = math.max(offMax, math.abs(s))
    }
    def spread(groups: Seq[Seq[Int]]): Double = {
      val sums = groups.map(_.map(logl).sum)
      sums.max - sums.min
    }
    val allocSpread = spread(assignment.toSeq.map(_.toSeq))
    val contigSpread = spread((0 until nSub).map(m =>
      (m * sd until (m + 1) * sd).toSeq))
    OpqModel(rot, values, assignment, orthErr, offMax / lmax,
      allocSpread, contigSpread)
  }

  /** Map-side application of the OPQ rotation: appends `outCol` =
    * R·vec as array<double>. The rotation rides as d literal rows, one
    * codegen'd dot kernel per output component — zero shuffle,
    * scan-bound at any corpus size (d² multiply-adds per row, the same
    * cost class a production OPQ index pays at write time).
    */
  def opqRotate(df: DataFrame, vecCol: String,
                rotation: Array[Array[Double]], outCol: String): DataFrame = {
    graft.functions.Functions.install(df.sparkSession)
    // one matVec kernel call — the old d-component array of d-literal
    // dotp expressions put d² literals in one Project (same codegen
    // blowup class as the round-12 IVF/PQ chains); ascending dots per
    // row keep the rotated components bit-identical
    val rotLit = typedLit(rotation.map(_.toSeq).toSeq)
    df.withColumn(outCol,
      if (isFloatVec(df, vecCol)) matVecFC(col(vecCol), rotLit)
      else matVecC(col(vecCol), rotLit))
  }

  /** Mean squared reconstruction error of a PQ encoding: for each row,
    * ‖x − decode(codes)‖², averaged over the frame — the distortion
    * objective product quantization minimizes and the quantity OPQ's
    * rotation provably reduces (Ge et al. CVPR'13 Eq. 2). Decode is a
    * map-side lookup against the literal codebook; the result is ONE
    * partial-aggregated row, so the pass is scan-bound at any size.
    */
  def pqDistortion(encoded: DataFrame, codebooks: DataFrame,
                   vecCol: String, codesCol: String): DataFrame = {
    val cb = collectCodebook(codebooks)
    val sd = cb(0)(0).length
    val err = cb.indices.map { m =>
      val cbLit = typedLit(cb(m).map(_.toSeq).toSeq)
      aggregate(
        zip_with(
          slice(col(vecCol).cast("array<double>"), m * sd + 1, sd),
          element_at(cbLit, element_at(col(codesCol), m + 1) + 1),
          (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
    }.reduce(_ + _)
    encoded.agg(avg(err).as("mse"))
  }

  /** OPQ ANN: rotate corpus and queries with the parametric OPQ
    * rotation, then run the unchanged PQ chain ([[pqFit]] /
    * [[pqEncode]] / ADC [[topkPq]]) on the rotated vectors. Because R
    * is orthogonal the ADC scores estimate the ORIGINAL ⟨q, x⟩; the
    * rotation only re-axes what each subspace codebook sees, reducing
    * reconstruction distortion at identical code storage (≈5% lower
    * MSE than plain PQ on the test corpus — [[pqDistortion]] measures
    * it, the ann_topk_opq gate and AnnRecallSpec pin it; recall moves
    * with distortion in expectation but is noisier at small query
    * counts).
    *
    * Scale shape: fit = one covariance scan + pqFit's one shuffle per
    * Lloyd iteration; write time = map-side rotate+encode (the stored
    * layout is still cell/codes — nSub bytes per vector); query time =
    * the same broadcast-LUT codes-only scan as PQ.
    */
  def topkOpq(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nSub: Int = 8, kSub: Int = 16,
              iters: Int = 2, model: Option[OpqModel] = None): DataFrame = {
    val m = model.getOrElse(opqFit(corpus, idCol, vecCol, nSub))
    val rc = opqRotate(corpus, vecCol, m.rotation, "_rvec")
      .select(col(idCol), col("_rvec"))
    val rq = opqRotate(queries, vecCol, m.rotation, "_rvec")
      .select(col(idCol), col("_rvec"))
    topkPq(rc, rq, idCol, "_rvec", k, nSub, kSub, iters)
  }

  /** Mutual k-NN graph over a node set: an undirected edge (a, b)
    * exists iff b is in a's k nearest neighbors AND a is in b's — the
    * graph primitive under SemDeDup-style cluster dedup, graph-based
    * label propagation, and connected-component grouping of near-
    * duplicates. Mutuality prunes the asymmetric "hub" edges a plain
    * kNN digraph accumulates around dense regions (a hub is in
    * everyone's top-k; almost nobody is in the hub's).
    *
    * The kNN stage here is the exact brute-force scorer (so the graph
    * is exactly replayable); at 100 TB swap it for [[topkIvfPq]] —
    * the output contract (query_id, rank, neighbor_id, score_fp) is
    * identical, and everything downstream is scale-safe already: the
    * symmetrization is an ordinary hash equi-join of the k·n edge
    * list against its own reversal on (src, dst) — edge-key
    * partitioned, k·n rows, never an n² pair set.
    */
  /** k-distance outlier detection over a node set: each vector's
    * isolation score is its cosine DISTANCE to its k-th nearest
    * neighbor (the classic kNN-dist outlier measure), and the
    * `frac`-most-isolated nodes are flagged — the embedding-curation
    * complement of dedup: near-dups get dropped for redundancy,
    * extreme isolates get inspected for garbage (mis-encoded inputs,
    * off-distribution content).
    *
    * Everything is integer-exact: kdist_fp = 10⁶ − fp6(cos_k), the
    * flag count is ⌈frac·n⌉ computed as (n·num + den−1) div den, and
    * the cut is the bounded-heap [[graft.functions.TopKAgg]] with the
    * (kdist DESC, node ASC) tie rule — so the flagged SET is exactly
    * replayable. The node count is a one-number control-plane collect
    * (the kmeansFit shape); the top-k agg partial-aggregates, so the
    * exchange carries heaps, never the node list. Nodes with fewer
    * than k neighbors available (tiny graphs) have no k-distance and
    * emit no row. The kNN stage is pluggable exactly as in
    * [[knnGraph]].
    */
  def knnOutliers(nodes: DataFrame, idCol: String, vecCol: String,
                  k: Int = 4, fracNum: Int = 1, fracDen: Int = 10): DataFrame =
    knnOutliersFrom(topkBruteForce(nodes,
      nodes.select(col(idCol), col(vecCol)), idCol, vecCol, k), k,
      fracNum, fracDen)

  /** k-distance outlier cut over ANY top-k neighbor frame with the
    * (query_id, rank, neighbor_id, score_fp) contract — the swap point
    * the [[knnOutliers]] scaladoc promises: feed it [[topkBruteForce]]
    * for the exactly-replayable flag set or an IVF-PQ shortlist +
    * [[rerankExact]] tail for the 100 TB path (emb_outliers_ivfpq
    * gates the flagged-set recall of that swap). kdist over an ANN
    * shortlist can only OVERestimate (the 4th-of-shortlist is at least
    * as far as the true 4th neighbor), so genuinely isolated nodes
    * stay flagged — the miss mode is false positives near the cut, not
    * lost isolates. The bounded kdist frame is cached until the
    * result's first execution (the [[graft.CacheUtil.result]] rule).
    */
  def knnOutliersFrom(knn: DataFrame, k: Int, fracNum: Int = 1,
                      fracDen: Int = 10): DataFrame = graft.CacheUtil.result { scope =>
    require(fracNum >= 1 && fracDen >= fracNum, "frac must be in (0,1]")
    val kd = knn.filter(col("rank") === k)
      .select(col("query_id").as("node"),
        (lit(1000000L) - col("score_fp")).as("kdist_fp"))
    // kd is referenced three times (count, heap cut, final join);
    // cache the bounded n-row frame so the kNN stage runs once
    scope.cache(kd)
    val n = kd.count()
    val kTop = ((n * fracNum + fracDen - 1) / fracDen).toInt.max(1)
    val top = kd
      .agg(graft.functions.TopKAgg.topK(col("kdist_fp"), col("node"), kTop).as("_tk"))
      .select(explode(col("_tk")).as("_e"))
      .select(col("_e.id").as("node"), lit(true).as("_o"))
    kd.join(top, Seq("node"), "left")
      .select(col("node"), col("kdist_fp"),
        coalesce(col("_o"), lit(false)).as("is_outlier"))
  }

  def knnGraph(nodes: DataFrame, idCol: String, vecCol: String,
               k: Int): DataFrame =
    knnGraphFrom(topkBruteForce(nodes,
      nodes.select(col(idCol), col(vecCol)), idCol, vecCol, k))

  /** Mutualize ANY top-k neighbor frame with the (query_id, rank,
    * neighbor_id, score_fp) contract — the swap point the [[knnGraph]]
    * scaladoc promises: feed it [[topkBruteForce]] for the exactly-
    * replayable graph or [[topkIvfPq]] for the 100 TB path
    * (emb_knn_graph_ivfpq gates the recall of that swap). The
    * symmetrization is an ordinary hash equi-join of the k·n edge list
    * against its own reversal on (src, dst). The knn frame (bounded to
    * k rows per node) is cached until the result's first execution —
    * unless the caller already cached it, in which case the caller's
    * cache is used and left alone.
    */
  def knnGraphFrom(knn: DataFrame): DataFrame = graft.CacheUtil.result { scope =>
    // the k·n neighbor frame is referenced TWICE (edge list + its
    // reversal) — without a materialization boundary the kNN stage
    // (brute force: an n² scan) evaluates once per reference. Bounded
    // (k rows per node), so cache it for the join.
    scope.cache(knn)
    val e = knn.select(col("query_id").as("src"),
      col("neighbor_id").as("dst"), col("score_fp"))
    val rev = e.select(col("dst").as("_rsrc"), col("src").as("_rdst"))
    e.join(rev, col("src") === col("_rsrc") && col("dst") === col("_rdst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"),
        col("score_fp").as("cos_fp"))
  }

  /** Exact-cosine rerank of an ANN shortlist — the standard IVF-PQ
    * production tail (Jégou et al.'s search pipeline): ADC ranks a
    * cheap k′-candidate shortlist, then the reported top-k comes from
    * EXACT scores on just those k′·n pairs. Cost is two hash joins
    * fetching the pair's vectors plus the bounded-heap cut — k′·n
    * rows, never the n² pair set, and the scores match
    * [[topkBruteForce]]'s fp6 cosine bit-for-bit wherever the true
    * neighbor made the shortlist. Input is any frame with the
    * (query_id, neighbor_id) columns; output is the usual
    * (query_id, rank, neighbor_id, score_fp) contract.
    */
  def rerankExact(shortlist: DataFrame, corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = vectors(corpus, idCol, vecCol, "_cid", "_cv")
    val qv = queries.select(col(idCol).as("_qid"), asDouble(col(vecCol)).as("_qv"))
    val scored = shortlist
      .select(col("query_id"), col("neighbor_id").as("_cid"))
      .join(c, "_cid")
      .join(qv, col("query_id") === col("_qid"))
      .withColumn("_score", fp6(cosineFC(col("_cv"), col("_qv"))))
    topkOutput(scored, k)
  }

  /** [[rerankExact]] where queries and corpus are the same node set. */
  def rerankExact(shortlist: DataFrame, nodes: DataFrame, idCol: String,
                  vecCol: String, k: Int): DataFrame =
    rerankExact(shortlist, nodes, nodes, idCol, vecCol, k)
}
