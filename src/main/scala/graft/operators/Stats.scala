package graft.operators

import org.apache.spark.sql.DataFrame
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
    * 100 TB and the GK sketch (q15) only approximates. Histogram
    * descent: each pass bins the group's surviving candidate set into
    * `nBins` equal-width buckets with ONE partial-aggregatable count
    * pass over the (cached) column, the driver walks the bounded
    * (groups × nBins) histogram to find the bucket holding the target
    * rank, and the next pass descends into it; when a bucket's
    * population drops under `collectThreshold`, a final bounded
    * sort_array collect reads the exact order statistic out of it.
    * Candidates shrink ~nBins× per pass, so 600k-row groups finish in
    * one descent level; the scan count is O(log_nBins(n/threshold)),
    * never O(n log n) shuffle-sort.
    *
    * Exactness under floating point: bucket assignment is
    * min(max(floor((v − lo)/w), 0), nBins−1) — monotone non-decreasing
    * in v (IEEE subtraction and positive division are monotone), so
    * buckets are an ORDER-ALIGNED partition of the population no
    * matter where ulp wobble puts edge values, which is all rank
    * descent needs. Each state's population is defined by the
    * conjunction of its bucket-equality chain (the identical
    * expressions the count passes grouped on), never by numeric range
    * predicates that could disagree with the assignment by an ulp.
    *
    * Both middle order statistics are tracked (ranks ⌊(n−1)/2⌋ and
    * ⌈(n−1)/2⌉, 0-based), median = their mean — quantile_cont(0.5).
    * Returns (keyCol: string form, n, med_lo, med_hi, median).
    * Group count must be bounded (the per-pass driver state is
    * O(groups), the kmeansFit control-plane shape).
    */
  def exactMedianHist(df: DataFrame, keyCol: String, valueCol: String,
                      nBins: Int = 4096, collectThreshold: Int = 100000,
                      maxPasses: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    exactRankValues(df, keyCol, valueCol, n => Seq((n - 1) / 2, n / 2),
      nBins, collectThreshold, maxPasses)
      .map { case (k, n, rs) =>
        val lo = rs((n - 1) / 2)
        val hi = rs(n / 2)
        (k, n, lo, hi, (lo + hi) / 2.0)
      }.toDF(keyCol, "n", "med_lo", "med_hi", "median")
  }

  /** EXACT per-group quantile_cont(p) — [[exactMedianHist]]'s descent
    * generalized to arbitrary p (VERDICT r11 #7): target position
    * h = (n−1)·p, the bracketing order statistics at ranks ⌊h⌋ and
    * ⌈h⌉ descend as independent search states, and the result is the
    * linear interpolation q = v_⌊h⌋ + (h − ⌊h⌋)·(v_⌈h⌉ − v_⌊h⌋) —
    * quantile_cont's formula, written as the same IEEE expression the
    * oracle evaluates so both engines agree bitwise on identical
    * inputs. Same scale shape as the median: O(log_nBins(n/threshold))
    * counting scans, never a per-group sort.
    * Returns (keyCol: string form, n, q_lo, q_hi, quantile).
    */
  def exactQuantileHist(df: DataFrame, keyCol: String, valueCol: String,
                        p: Double, nBins: Int = 4096,
                        collectThreshold: Int = 100000,
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
      n => { val (r1, r2, _) = pos(n); Seq(r1, r2) },
      nBins, collectThreshold, maxPasses)
      .map { case (k, n, rs) =>
        val (r1, r2, frac) = pos(n)
        val lo = rs(r1)
        val hi = rs(r2)
        (k, n, lo, hi, lo + frac * (hi - lo))
      }.toDF(keyCol, "n", "q_lo", "q_hi", "quantile")
  }

  /** Shared descent core: per key, the exact 0-based order statistics
    * at `ranksOf(n)`. Returns (key, n, rank → value) with keys sorted.
    * See [[exactMedianHist]] for the algorithm and the floating-point
    * exactness argument.
    */
  private def exactRankValues(
      df: DataFrame, keyCol: String, valueCol: String,
      ranksOf: Long => Seq[Long], nBins: Int, collectThreshold: Int,
      maxPasses: Int): Seq[(String, Long, Map[Long, Double])] = {
    require(nBins >= 2 && collectThreshold >= 1 && maxPasses >= 1,
      "bad exactRankValues parameters")
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
        .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      // one search state per (group, middle-rank); chain = the bucket
      // path taken so far, each level (lo, w, chosen bucket)
      final case class St(key: String, target: Long, rank: Long,
                          chain: List[(Double, Double, Int)],
                          lo: Double, hi: Double, pop: Long,
                          var result: Option[Double])
      var states: Seq[St] = base.toSeq.flatMap { case (k, (n, mn, mx)) =>
        ranksOf(n).distinct.map { r =>
          if (mn == mx) St(k, r, r, Nil, mn, mx, n, Some(mn))
          else St(k, r, r, Nil, mn, mx, n, None)
        }
      }
      def binExpr(lo: Double, w: Double): org.apache.spark.sql.Column =
        least(greatest(floor((col("v") - lit(lo)) / lit(w)).cast("int"),
          lit(0)), lit(nBins - 1))
      def chainFilter(st: St): org.apache.spark.sql.Column =
        st.chain.foldLeft(col("k") === lit(st.key)) {
          case (acc, (lo, w, b)) => acc && binExpr(lo, w) === lit(b)
        }
      var pass = 0
      while (states.exists(s => s.result.isEmpty && s.pop > collectThreshold) &&
        pass < maxPasses) {
        pass += 1
        val active = states.filter(s => s.result.isEmpty && s.pop > collectThreshold)
        // ONE job for all active states: union of per-state bucket counts
        // (states are bounded — a handful of groups × 2 ranks)
        val hists = active.zipWithIndex.map { case (st, i) =>
          val w = (st.hi - st.lo) / nBins
          vals.filter(chainFilter(st))
            .select(lit(i).as("sid"), binExpr(st.lo, w).as("bin"))
            .groupBy("sid", "bin").agg(count(lit(1)).as("cnt"))
        }.reduce(_ union _).collect()
          .groupBy(_.getInt(0))
          .map { case (sid, rows) =>
            sid -> rows.map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
          }
        states = states.map { st =>
          val i = active.indexOf(st)
          if (i < 0) st
          else {
            val w = (st.hi - st.lo) / nBins
            var rank = st.rank
            var chosen = -1
            var cnt = 0L
            val it = hists(i).iterator
            while (chosen < 0 && it.hasNext) {
              val (b, c) = it.next()
              if (rank < c) { chosen = b; cnt = c } else rank -= c
            }
            require(chosen >= 0, s"rank walk fell off the histogram for ${st.key}")
            val nlo = st.lo + chosen * w
            val nhi = if (chosen == nBins - 1) st.hi else st.lo + (chosen + 1) * w
            if (nlo == nhi || w == 0)
              st.copy(rank = rank, pop = cnt, result = Some(nlo))
            else
              st.copy(chain = st.chain :+ (st.lo, w, chosen),
                lo = nlo, hi = nhi, rank = rank, pop = cnt)
          }
        }
      }
      // final bounded collect for the survivors
      val open = states.filter(_.result.isEmpty)
      if (open.nonEmpty) {
        val finals = open.zipWithIndex.map { case (st, i) =>
          vals.filter(chainFilter(st))
            .select(lit(i).as("sid"), col("v"))
            .groupBy("sid")
            .agg(sort_array(collect_list(col("v"))).as("vs"))
        }.reduce(_ union _).collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
        open.zipWithIndex.foreach { case (st, i) =>
          val vs = finals(i)
          require(st.rank < vs.length,
            s"rank ${st.rank} outside collected bucket (${vs.length}) for ${st.key}")
          st.result = Some(vs(st.rank.toInt))
        }
      }
      val byKey = states.groupBy(_.key)
      base.toSeq.sortBy(_._1).map { case (k, (n, _, _)) =>
        (k, n, byKey(k).map(s => s.target -> s.result.get).toMap)
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
