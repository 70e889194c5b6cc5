package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.{load, fp2, fp4, fp6, fpSql}

/** Baseline relational layer (SURVEY.md §2.3): scan/filter/agg,
  * broadcast join, window functions. These anchor the bench and prove
  * the oracle plumbing before the signal operators land.
  */
object Relational {

  /** TPC-H Q1-style pricing summary. One shuffle (the groupBy); the
    * shipdate filter and 6-column projection push to the parquet scan.
    */
  def q1Agg(s: SparkSession, dir: String): DataFrame = {
    // parsed in the SESSION timezone (pinned to UTC by the runners),
    // matching DuckDB's naive TIMESTAMP literal — Timestamp.valueOf
    // would bind to the JVM default TZ and flip boundary rows on a
    // non-UTC host
    val cutoff = to_timestamp(lit("1998-09-02 00:00:00"))
    load(s, dir, "lineitem")
      .filter(col("l_shipdate") <= cutoff)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        fp2(sum(col("l_quantity"))).as("sum_qty"),
        fp2(sum(col("l_extendedprice"))).as("sum_base_price"),
        fp2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Broadcast join: orders ⋈ customer (customer is the small side at
    * any SF relative to orders×lineitem; at 100 TB customer stays
    * broadcastable per-nation or falls back to shuffle-hash via AQE).
    */
  def q2Join(s: SparkSession, dir: String): DataFrame = {
    val orders = load(s, dir, "orders")
    val customer = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        fp2(sum(col("o_totalprice"))).as("sum_price"))
      .orderBy("c_mktsegment", "o_orderpriority")
  }

  /** Window functions over the events stream table: per-user running
    * aggregates ordered by time. One shuffle (partitionBy user_id);
    * scales by number of users. running_sum is hashed at fp2: DuckDB's
    * segment-tree windowed SUM associates differently than Spark's
    * sequential accumulation, so 1e-6 fixed point can flip on long
    * histories (ADVICE r1).
    */
  def q3Window(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("running_sum", fp2(sum(col("value"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))))
      .select(col("event_id"), col("user_id"), col("rn"), col("running_sum"))
      .orderBy("event_id")
  }

  /** RANGE-frame window: per user, events in the trailing 1 hour
    * (RANGE BETWEEN 1h PRECEDING AND CURRENT ROW over epoch_us) —
    * the time-windowed running aggregate ROWS frames can't express.
    * RANGE frames include ALL order-key peers, so the result is
    * deterministic without a tie-break column; the frame bound rides
    * the integral µs axis on both engines.
    */
  def q13RangeWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("t_us"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", fp4(sum(col("value")).over(w)))
      .select(col("event_id"), col("user_id"), col("n_1h"), col("sum_1h"))
      .orderBy("event_id")
  }

  /** As-of join: every event picks up the latest "snapshot" (the
    * user's most recent event_id % 10 == 0 event at-or-before its
    * time) — the point-in-time state join implemented as one union +
    * window pass ([[graft.operators.AsOf]]), checked against DuckDB's
    * NATIVE ASOF LEFT JOIN. Events before a user's first snapshot keep
    * a null payload on both engines.
    */
  def q4Asof(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("user_id"),
        (expr("ts div 1000").cast("double") / lit(1e6)).as("t"),
        col("value"), col("event_id"))
    val left = ev.select(col("user_id"), col("t"), col("value"))
    // AsOf's dedupe contract ((user, t) unique on the right) holds by
    // data: (user_id, ts) is unique in TESTDATA, so the %10 subset
    // cannot carry duplicate timestamps per user — DuckDB's ASOF and
    // the window pass therefore agree on every tie
    val snaps = ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("t"), col("value").as("snap"),
        col("event_id").as("snap_id"))
    // both comparison flavors: `le` (<=, a snapshot row matches itself)
    // and strict `lt` (it doesn't) — the tie tag is exactly where an
    // off-by-one would hide
    def leg(strict: Boolean): DataFrame =
      graft.operators.AsOf.asofJoin(left, snaps, Seq("user_id"), "t",
          Seq("snap", "snap_id"), strict)
        .select(col("user_id"), lit(if (strict) "lt" else "le").as("cmp"),
          fp6(col("t")).as("t_fp"), fp6(col("value")).as("value_fp"),
          fp6(col("snap")).as("snap_fp"), col("snap_id"))
    leg(strict = false).union(leg(strict = true))
      .orderBy("user_id", "cmp", "t_fp", "value_fp")
  }

  /** As-of join with a 10-minute tolerance (pandas merge_asof
    * semantics): the matched snapshot nulls out when it is older than
    * 600 s. The oracle applies the same CASE to DuckDB's native ASOF
    * result — the latest match is the closest, so null-on-stale is
    * exact on both sides.
    */
  def q4AsofTol(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("user_id"),
        (expr("ts div 1000").cast("double") / lit(1e6)).as("t"),
        col("value"), col("event_id"))
    val left = ev.select(col("user_id"), col("t"), col("value"))
    val snaps = ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("t"), col("value").as("snap"),
        col("event_id").as("snap_id"))
    graft.operators.AsOf.asofJoin(left, snaps, Seq("user_id"), "t",
        Seq("snap", "snap_id"), strict = false, tolerance = 600.0)
      .select(col("user_id"), fp6(col("t")).as("t_fp"),
        fp6(col("value")).as("value_fp"),
        fp6(col("snap")).as("snap_fp"), col("snap_id"))
      .orderBy("user_id", "t_fp", "value_fp")
  }

  /** Interval-containment join: every event inside the 30-minute
    * window opened by the user's marker events (event_id % 20 == 0) —
    * bucketized equi-join ([[graft.operators.RangeJoin]], bucket =
    * interval length so ≤ 2 buckets per interval), checked against the
    * plain inequality join DuckDB evaluates exactly. Multi-match rows
    * (an event inside two overlapping windows) appear once per window.
    */
  def q5Interval(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("user_id"),
        (expr("ts div 1000").cast("double") / lit(1e6)).as("t"),
        col("value"), col("event_id"))
    val left = ev.select(col("user_id"), col("t"), col("event_id"))
    val wins = ev.filter(col("event_id") % 20 === 0)
      .select(col("user_id"), col("t").as("w_start"),
        (col("t") + lit(1800.0)).as("w_end"), col("event_id").as("win_id"))
    graft.operators.RangeJoin.intervalJoin(left, wins, Seq("user_id"),
        "t", "w_start", "w_end", bucketWidth = 1800.0)
      .select(col("user_id"), fp6(col("t")).as("t_fp"), col("event_id"),
        col("win_id"), fp6(col("w_start")).as("ws_fp"))
      .orderBy("user_id", "t_fp", "event_id", "win_id")
  }

  /** 32-bin histogram of events.value: bounds from a broadcast one-row
    * min/max agg, binning a single partial-aggregated hash agg. The
    * oracle replays the identical bin expression — min/max are exact
    * selections, so the edge floats agree bitwise.
    */
  def q6Histogram(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.histogram(
        load(s, dir, "events").select(col("value")), "value", 32)
      .select(col("bin"), fp6(col("lo")).as("lo_fp"), fp6(col("hi")).as("hi_fp"),
        col("cnt"))
      .orderBy("bin")

  /** Exact per-user quantiles of events.value (p25/p50/p90), Spark's
    * sort-based `percentile` vs DuckDB's `quantile_cont` — both define
    * the continuous quantile at rank p·(n−1) with linear interpolation,
    * so values agree to fp noise. Groups are per-user (bounded);
    * corpus-wide quantiles at 100 TB would use approx_percentile's
    * mergeable sketch instead — this query pins the exact kernel.
    */
  def q7Quantiles(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .groupBy("user_id")
      .agg(
        expr("percentile(value, 0.25)").as("p25"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"))
      .select(col("user_id"), fp6(col("p25")).as("p25_fp"),
        fp6(col("p50")).as("p50_fp"), fp6(col("p90")).as("p90_fp"))
      .orderBy("user_id")

  /** ROLLUP over (returnflag, linestatus) — the grouping-sets/cube
    * family Spark executes as ONE Expand + hash aggregate (no
    * per-level re-scan; each input row fans out to its grouping-set
    * rows map-side and partial aggregation still applies). Subtotal
    * rows surface with a sentinel instead of NULL group keys because
    * the two engines order NULLs differently (Spark NULLS FIRST,
    * DuckDB NULLS LAST) and the real columns are never null here.
    */
  def q8Rollup(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        fp2(sum(col("l_quantity"))).as("sum_qty"),
        fp2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("sum_disc_price"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("sum_disc_price"), col("n"))
      .orderBy("rf", "ls")

  /** CUBE over (returnflag, linestatus): all four grouping sets from
    * ONE Expand + one hash-aggregate pass (the rollup plan with a
    * 4-branch Expand — map-side partials still apply, input scanned
    * once). Same sentinel-label trick as q8 for the NULLS ordering trap.
    */
  def q12Cube(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(fp2(sum(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("rf", "ls")

  /** Semi + anti join: customers WITH at least one urgent order and
    * customers WITHOUT any. Spark's LeftSemi/LeftAnti never materialize
    * the probe side's payload — the build side reduces to the join key
    * and broadcasts (or shuffles under AQE at scale); either way no
    * row multiplication, which is the point vs an inner-join+distinct.
    */
  def q9Semi(s: SparkSession, dir: String): DataFrame = {
    val cust = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val urgent = load(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val has = cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .withColumn("side", lit("has_urgent"))
    val not = cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .withColumn("side", lit("no_urgent"))
    has.unionByName(not)
      .select(col("side"), col("c_mktsegment"), col("n"))
      .orderBy("side", "c_mktsegment")
  }

  /** Pivot with an EXPLICIT value list — the 100 TB-safe form: Spark's
    * value-discovering pivot runs an extra distinct job and collects
    * the domain to the driver; pinning the (known, bounded) priority
    * domain keeps this a single pass that rewrites to one hash
    * aggregate of `count(CASE WHEN ...)` columns, partial-aggregated
    * map-side like any other agg.
    */
  def q10Pivot(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").as("n_f"), col("O").as("n_o"),
        col("P").as("n_p"))
      .orderBy("o_orderpriority")

  /** Distinct aggregation: count(DISTINCT partkey), count(DISTINCT
    * suppkey) AND a plain sum in one pass — Spark plans multi-distinct
    * via a single Expand (one branch per distinct set + one for the
    * plain aggs) feeding two-phase hash aggregates, so each input row
    * is read once and partial aggregation still applies; no per-
    * distinct re-scan of the table.
    */
  def q11Distinct(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        fp2(sum(col("l_quantity"))).as("sum_qty"))
      .orderBy("l_returnflag")

  /** Sketch-based approximate distinct (HLL++) GATED for accuracy:
    * the query computes BOTH the exact per-group distinct and the
    * approx_count_distinct estimate, and emits the exact count plus a
    * within-bounds verdict (|apx − exact| ≤ 15%·exact + 10, a ±3σ
    * band around the rsd=0.05 sketch). The oracle asserts the verdict
    * is TRUE — if Spark's sketch ever drifts outside its advertised
    * error, the hash compare fails. At 100 TB the exact half drops
    * away and the one-pass mergeable sketch (fixed ~1.5 KB state per
    * group, partial-aggregated) IS the query — this pins that the
    * sketch can be trusted before a pipeline leans on it.
    */
  def q14ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.05).as("_apx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("_apx") - col("n_exact")) <=
          col("n_exact") * lit(0.15) + lit(10)).as("within_bounds"))
      .orderBy("event_type")

  /** Quantile sketch GATED by its rank-error guarantee, the scale
    * path for q7's exact percentile: approx_percentile (Greenwald-
    * Khanna summaries, accuracy 100 → rank error ε ≤ 1%) guarantees
    * the RANK of the returned element lands in [(p−ε)n, (p+ε)n], so
    * the gate compares against the DISCRETE order statistics at ranks
    * ⌊(p−ε)n⌋ and ⌈(p+ε)n⌉ — NOT interpolated percentiles, whose
    * value at p−ε can sit strictly above the element at rank
    * ⌈(p−ε)n⌉, failing a worst-case-but-legal sketch (ADVICE r10).
    * The bound holds by construction REGARDLESS of partition merge
    * order, so the verdict is deterministic even though the sketch
    * value isn't; the oracle asserts both verdicts TRUE next to the
    * exact group count. At 100 TB the sketch is one partial-aggregated
    * pass with bounded per-group state; the exact order statistics
    * (full per-group sort — same cost class as the `percentile`
    * aggregate's internal buffer) drop away.
    */
  def q15ApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    val eps = 0.01 // GK rank error at accuracy 100
    def loRank(p: Double) =
      expr(s"element_at(_sorted, int(greatest(1, floor(${p - eps} * n))))")
    def hiRank(p: Double) =
      expr(s"element_at(_sorted, int(least(n, ceil(${p + eps} * n))))")
    load(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        sort_array(collect_list(col("value"))).as("_sorted"),
        expr("approx_percentile(value, 0.5, 100)").as("_a50"),
        expr("approx_percentile(value, 0.95, 100)").as("_a95"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        (col("_a50") >= loRank(0.5) && col("_a50") <= hiRank(0.5)).as("p50_ok"),
        (col("_a95") >= loRank(0.95) && col("_a95") <= hiRank(0.95)).as("p95_ok"))
      .orderBy("event_type")
  }


  /** EXACT per-group median of a MEGA-group (Stats.exactMedianHist)
    * — the third leg of the quantile story: q7 sorts bounded per-user
    * groups, q15 sketches with a rank-error gate, and this computes
    * the exact order statistics of groups that are far too big to
    * sort into one task (each event_type holds 188–210, ~2k and ~20k
    * rows at sf0.001, 0.01 and 0.1, and would hold billions at
    * 100 TB): groups that fit the [[graft.Local]] budget collect once
    * and sort on the driver, larger ones first shrink by histogram
    * descent, one partial-aggregated pass per level.
    * The oracle derives both middle order statistics explicitly with
    * ROW_NUMBER (no engine quantile-convention ambiguity) and the
    * median as their mean — the identical (lo + hi)/2 expression.
    */
  def q16ExactMedian(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.exactMedianHist(
      load(s, dir, "events").select(col("event_type"), col("value")),
      "event_type", "value")
      .select(col("event_type"), col("n"),
        fp6(col("med_lo")).as("lo_fp"), fp6(col("med_hi")).as("hi_fp"),
        fp6(col("median")).as("med_fp"))
      .orderBy("event_type")

  /** EXACT per-group p95 of the same mega-groups
    * (Stats.exactQuantileHist, the histogram descent generalized to
    * arbitrary p — VERDICT r11 #7): the tail-latency readout q16's
    * median machinery could not answer. Both bracketing order
    * statistics at ⌊(n−1)·0.95⌋ / ⌈(n−1)·0.95⌉ descend as search
    * states and the result is quantile_cont's linear interpolation,
    * written as the identical IEEE expression on both engines. The
    * oracle derives the two ranks explicitly with ROW_NUMBER — no
    * engine quantile-convention ambiguity.
    */
  def q24ExactP95(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.exactQuantileHist(
      load(s, dir, "events").select(col("event_type"), col("value")),
      "event_type", "value", p = 0.95)
      .select(col("event_type"), col("n"),
        fp6(col("q_lo")).as("lo_fp"), fp6(col("q_hi")).as("hi_fp"),
        fp6(col("quantile")).as("p95_fp"))
      .orderBy("event_type")

  /** Salted skew join (operators.Skew.saltedJoin): events ⋈ customer
    * with the key split across 16 salt buckets — the hot-key defense a
    * power-law fact table needs at 100 TB, where one bot user would
    * otherwise pin its whole key on a single reducer. The salt is
    * deterministic (xxhash64 of the row-unique event_id, no RNG) and
    * routing-only: results are identical to the plain join, which is
    * exactly what the oracle runs. PlanShapeSpec pins the shuffled-
    * hash plan with (key, salt) join keys and no broadcast.
    */
  def q17SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
    val cust = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    graft.operators.Skew.saltedJoin(ev, cust, "user_id", "c_custkey",
        col("event_id"), salt = 16)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"),
        fp2(sum(col("value"))).as("sum_value_fp"))
      .orderBy("c_nationkey")
  }

  /** Cohort retention: users grouped by first-active day, counted on
    * each later active day offset — the product-analytics matrix
    * (cohort × day N retention). Shaped for scale: activity first
    * dedupes to (user, day) pairs with a partial-aggregatable hash agg
    * — NOT count(DISTINCT user) per cell, whose Expand would rescan
    * every raw event per cell — then the per-user first-day join is
    * unhinted (AQE broadcasts when users fit, shuffles on user_id
    * otherwise), and the final (cohort, offset) count is a plain hash
    * agg of already-unique rows. Epoch-day arithmetic is integer on
    * both engines.
    */
  def q18Cohort(s: SparkSession, dir: String): DataFrame =
    cohortFrame(load(s, dir, "events"))

  /** [[q18Cohort]]'s builder over any (user_id, ts-nanos) frame. */
  def cohortFrame(events: DataFrame): DataFrame = {
    val act = events
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
    val first = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    act.join(first, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "offset_days")
  }

  /** Per-group top-k via the bounded-heap aggregate
    * (functions.TopKAgg): the 3 priciest orders per priority class.
    * THE scale pattern for grouped top-k — the window alternative
    * (ROW_NUMBER over each group ordered by price) SORTS every group's
    * full membership; the aggregate keeps a k-element heap per group,
    * partial-aggregates map-side (the shuffle carries k-row heaps, not
    * order rows — plan-pinned), and merge is deterministic
    * ((score DESC, id ASC), set semantics). The oracle IS the window
    * formulation, proving the two agree exactly.
    */
  def q19GroupedTopk(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(graft.functions.TopKAgg.topK(fp2(col("o_totalprice")),
        col("o_orderkey"), 3).as("_tk"))
      .select(col("o_orderpriority"), posexplode(col("_tk")).as(Seq("_r", "_e")))
      .select(col("o_orderpriority"), (col("_r") + 1).as("rank"),
        col("_e.id").as("o_orderkey"), col("_e.score").as("price_fp"))
      .orderBy("o_orderpriority", "rank")

  /** Welch's t-test (Stats.welchTTest): purchase vs click event
    * values — the A/B readout from one partial-aggregated pass per
    * side, sums quantized to fp4 before any derived arithmetic so the
    * t statistic and the significance verdict replay exactly.
    */
  def q20Abtest(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.welchTTest(
      load(s, dir, "events"), "event_type", "value", "purchase", "click")

  /** Per-key forward fill (gap repair): every 5th reading nulled
    * deterministically, then repaired with the last non-null value at
    * or before it — `last(ignoreNulls) OVER (user, time)` — the
    * telemetry gap-fill primitive. One hash exchange on user_id,
    * bounded per-user groups; rows before a user's first reading stay
    * null on both engines.
    */
  def q21Ffill(s: SparkSession, dir: String): DataFrame = {
    // Order by microseconds (ts div 1000) + event_id, matching the
    // oracle's epoch_us(ts) exactly: a NANOS-typed events generation
    // with sub-microsecond deltas would otherwise walk same-microsecond
    // rows in a different order than DuckDB (ADVICE r11; q23Scd2 does
    // the same truncation).
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("ts div 1000"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    load(s, dir, "events")
      .withColumn("v_gappy",
        when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value")))
      .withColumn("v_filled", last(col("v_gappy"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"),
        col("v_gappy").isNull.as("was_gap"),
        fp6(col("v_filled")).as("filled_fp"))
      .orderBy("event_id")
  }

  /** Conversion funnel: per user, the first click and the first
    * purchase strictly after it — flag + microsecond lag. Two
    * conditional-min hash aggs (partial-aggregatable) and one
    * broadcastable self-join; never a per-event window. The
    * events-before-first-click purchases correctly don't count.
    */
  def q22Funnel(s: SparkSession, dir: String): DataFrame =
    funnelFrame(load(s, dir, "events"), "click", "purchase")

  /** [[q22Funnel]]'s builder over any (user_id, event_type, ts-nanos)
    * frame.
    */
  def funnelFrame(events: DataFrame, step1: String, step2: String): DataFrame = {
    val ev = events
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("t_us"))
    val firstClick = ev.filter(col("event_type") === step1)
      .groupBy(col("user_id")).agg(min(col("t_us")).as("click_us"))
    val conv = ev.filter(col("event_type") === step2)
      .join(firstClick, Seq("user_id"))
      .filter(col("t_us") > col("click_us"))
      .groupBy(col("user_id")).agg(min(col("t_us")).as("purchase_us"))
    firstClick.join(conv, Seq("user_id"), "left")
      .select(col("user_id"), col("click_us"),
        col("purchase_us").isNotNull.as("converted"),
        (col("purchase_us") - col("click_us")).as("lag_us"))
      .orderBy("user_id")
  }

  /** SCD-2 state intervals: each user's event stream becomes validity
    * ranges [ts, next_ts) per state (event_type), current row open-
    * ended (null end) — the warehouse slowly-changing-dimension build,
    * one LEAD window per user (bounded groups, one hash exchange).
    * Consecutive same-state events are first collapsed to state
    * CHANGES (LAG compare), the part naive SCD2 builds get wrong.
    */
  def q23Scd2(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    val ev = load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000").as("t_us"))
    val changes = ev
      .withColumn("_prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("_prev").isNull || col("_prev") =!= col("event_type"))
    changes
      .withColumn("valid_to", lead(col("t_us"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("t_us"), col("event_id"))))
      .select(col("user_id"), col("event_type").as("state"),
        col("t_us").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "valid_from")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "q21_ffill" -> (q21Ffill _),
    "q22_funnel" -> (q22Funnel _),
    "q23_scd2" -> (q23Scd2 _),
    "q17_salted_join" -> (q17SaltedJoin _),
    "q18_cohort" -> (q18Cohort _),
    "q19_grouped_topk" -> (q19GroupedTopk _),
    "q20_abtest" -> (q20Abtest _),
    "q2_join" -> (q2Join _),
    "q3_window" -> (q3Window _),
    "q4_asof" -> (q4Asof _),
    "q4_asof_tol" -> (q4AsofTol _),
    "q5_interval" -> (q5Interval _),
    "q6_histogram" -> (q6Histogram _),
    "q7_quantiles" -> (q7Quantiles _),
    "q8_rollup" -> (q8Rollup _),
    "q12_cube" -> (q12Cube _),
    "q13_range_window" -> (q13RangeWindow _),
    "q9_semi" -> (q9Semi _),
    "q10_pivot" -> (q10Pivot _),
    "q11_distinct" -> (q11Distinct _),
    "q14_approx_distinct" -> (q14ApproxDistinct _),
    "q15_approx_quantiles" -> (q15ApproxQuantiles _),
    "q16_exact_median" -> (q16ExactMedian _),
    "q24_exact_p95" -> (q24ExactP95 _))

  val oracleSql: Map[String, String] = Map(
    "q23_scd2" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS t_us FROM events
        |), ch AS (
        |  SELECT * FROM (
        |    SELECT user_id, event_type, event_id, t_us,
        |      LAG(event_type) OVER (PARTITION BY user_id
        |        ORDER BY t_us, event_id) AS prev
        |    FROM ev)
        |  WHERE prev IS NULL OR prev <> event_type
        |)
        |SELECT user_id, event_type AS state, t_us AS valid_from,
        |  LEAD(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS valid_to,
        |  (LEAD(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) IS NULL) AS is_current
        |FROM ch ORDER BY user_id, valid_from""".stripMargin,
    "q21_ffill" ->
      s"""WITH g AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS t_us,
         |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
         |  FROM events
         |)
         |SELECT event_id, user_id, (v IS NULL) AS was_gap,
         |  ${fpSql("LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", "1e6")} AS filled_fp
         |FROM g ORDER BY event_id""".stripMargin,
    "q22_funnel" ->
      """WITH fc AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS click_us
        |  FROM events WHERE event_type = 'click' GROUP BY 1
        |), cv AS (
        |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS purchase_us
        |  FROM events e JOIN fc ON fc.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > fc.click_us
        |  GROUP BY 1
        |)
        |SELECT fc.user_id, fc.click_us,
        |  (cv.purchase_us IS NOT NULL) AS converted,
        |  cv.purchase_us - fc.click_us AS lag_us
        |FROM fc LEFT JOIN cv ON cv.user_id = fc.user_id
        |ORDER BY 1""".stripMargin,
    "q20_abtest" ->
      s"""WITH a AS (
         |  SELECT COUNT(*) AS n_a,
         |    SUM(${fpSql("value", "1e4")}) AS sx,
         |    SUM(${fpSql("value * value", "1e4")}) AS sxx
         |  FROM events WHERE event_type = 'purchase'
         |), b AS (
         |  SELECT COUNT(*) AS n_b,
         |    SUM(${fpSql("value", "1e4")}) AS sx,
         |    SUM(${fpSql("value * value", "1e4")}) AS sxx
         |  FROM events WHERE event_type = 'click'
         |), d AS (
         |  SELECT CAST(a.n_a AS BIGINT) AS n_a, CAST(b.n_b AS BIGINT) AS n_b,
         |    CAST(a.sx AS DOUBLE)/1e4/a.n_a AS ma,
         |    CAST(b.sx AS DOUBLE)/1e4/b.n_b AS mb,
         |    (CAST(a.sxx AS DOUBLE)/1e4 - (CAST(a.sx AS DOUBLE)/1e4) * (CAST(a.sx AS DOUBLE)/1e4) / a.n_a) / (a.n_a - 1) AS va,
         |    (CAST(b.sxx AS DOUBLE)/1e4 - (CAST(b.sx AS DOUBLE)/1e4) * (CAST(b.sx AS DOUBLE)/1e4) / b.n_b) / (b.n_b - 1) AS vb
         |  FROM a, b
         |)
         |SELECT n_a, n_b,
         |  ${fpSql("ma", "1e4")} AS mean_a_fp, ${fpSql("mb", "1e4")} AS mean_b_fp,
         |  ${fpSql("(ma - mb) / SQRT(va / n_a + vb / n_b)", "1e4")} AS t_fp,
         |  (ABS((ma - mb) / SQRT(va / n_a + vb / n_b)) > 1.96) AS significant
         |FROM d""".stripMargin,
    "q19_grouped_topk" ->
      s"""WITH r AS (
         |  SELECT o_orderpriority, o_orderkey,
         |    ${fpSql("o_totalprice", "100")} AS price_fp
         |  FROM orders
         |), rk AS (
         |  SELECT o_orderpriority, o_orderkey, price_fp,
         |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
         |      ORDER BY price_fp DESC, o_orderkey) AS rank
         |  FROM r
         |)
         |SELECT o_orderpriority, CAST(rank AS INT) AS rank, o_orderkey,
         |  price_fp
         |FROM rk WHERE rank <= 3 ORDER BY 1, 2""".stripMargin,
    "q18_cohort" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
        |), first AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY 1
        |)
        |SELECT f.cohort_day, a.day - f.cohort_day AS offset_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM act a JOIN first f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q17_salted_join" ->
      s"""SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_events,
         |  ${fpSql("SUM(e.value)", "100")} AS sum_value_fp
         |FROM events e JOIN customer c ON c.c_custkey = e.user_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q16_exact_median" ->
      s"""WITH r AS (
         |  SELECT event_type, value,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS n
         |  FROM events WHERE value IS NOT NULL
         |), m AS (
         |  SELECT event_type, ANY_VALUE(n) AS n,
         |    MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN value END) AS lo,
         |    MAX(CASE WHEN rn = n // 2 + 1 THEN value END) AS hi
         |  FROM r GROUP BY event_type
         |)
         |SELECT event_type, CAST(n AS BIGINT) AS n,
         |  ${fpSql("lo", "1e6")} AS lo_fp, ${fpSql("hi", "1e6")} AS hi_fp,
         |  ${fpSql("(lo + hi) / 2.0", "1e6")} AS med_fp
         |FROM m ORDER BY event_type""".stripMargin,
    "q24_exact_p95" ->
      s"""WITH r AS (
         |  SELECT event_type, value,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS n
         |  FROM events WHERE value IS NOT NULL
         |), m AS (
         |  SELECT event_type, ANY_VALUE(n) AS n,
         |    MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.95) AS BIGINT) + 1 THEN value END) AS lo,
         |    MAX(CASE WHEN rn = CAST(CEIL((n - 1) * 0.95) AS BIGINT) + 1 THEN value END) AS hi
         |  FROM r GROUP BY event_type
         |)
         |SELECT event_type, CAST(n AS BIGINT) AS n,
         |  ${fpSql("lo", "1e6")} AS lo_fp, ${fpSql("hi", "1e6")} AS hi_fp,
         |  ${fpSql("lo + ((n - 1) * 0.95 - FLOOR((n - 1) * 0.95)) * (hi - lo)", "1e6")} AS p95_fp
         |FROM m ORDER BY event_type""".stripMargin,
    "q14_approx_distinct" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS within_bounds
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_approx_quantiles" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  TRUE AS p50_ok, TRUE AS p95_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_semi" ->
      s"""SELECT side, c_mktsegment, n FROM (
         |  SELECT 'has_urgent' AS side, c_mktsegment, COUNT(*) AS n
         |  FROM customer c
         |  WHERE EXISTS (SELECT 1 FROM orders o
         |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
         |  GROUP BY c_mktsegment
         |  UNION ALL
         |  SELECT 'no_urgent' AS side, c_mktsegment, COUNT(*) AS n
         |  FROM customer c
         |  WHERE NOT EXISTS (SELECT 1 FROM orders o
         |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
         |  GROUP BY c_mktsegment
         |)
         |ORDER BY 1, 2""".stripMargin,
    "q10_pivot" ->
      s"""SELECT o_orderpriority,
         |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
         |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
         |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_distinct" ->
      s"""SELECT l_returnflag,
         |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
         |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
         |  ${fpSql("SUM(l_quantity)", "100")} AS sum_qty
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_range_window" ->
      s"""SELECT event_id, user_id,
         |  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
         |  ${fpSql("SUM(value) OVER w", "1e4")} AS sum_1h
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin,
    "q12_cube" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
         |  COALESCE(l_linestatus, 'ALL') AS ls,
         |  ${fpSql("SUM(l_quantity)", "100")} AS sum_qty,
         |  COUNT(*) AS n
         |FROM lineitem
         |GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY 1, 2""".stripMargin,
    "q8_rollup" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
         |  COALESCE(l_linestatus, 'ALL') AS ls,
         |  ${fpSql("SUM(l_quantity)", "100")} AS sum_qty,
         |  ${fpSql("SUM(l_extendedprice * (1.0 - l_discount))", "100")} AS sum_disc_price,
         |  COUNT(*) AS n
         |FROM lineitem
         |GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY 1, 2""".stripMargin,
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${fpSql("SUM(l_quantity)", "100")} AS sum_qty,
         |  ${fpSql("SUM(l_extendedprice)", "100")} AS sum_base_price,
         |  ${fpSql("SUM(l_extendedprice * (1.0 - l_discount))", "100")} AS sum_disc_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_join" ->
      s"""SELECT c_mktsegment, o_orderpriority,
         |  COUNT(*) AS n_orders,
         |  ${fpSql("SUM(o_totalprice)", "100")} AS sum_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_window" ->
      s"""SELECT event_id, user_id,
         |  ROW_NUMBER() OVER w AS rn,
         |  ${fpSql("SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", "100")} AS running_sum
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY event_id""".stripMargin,
    "q4_asof" ->
      s"""WITH raw AS (
         |  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE)/1e6 AS t, value, event_id
         |  FROM events
         |), l AS (
         |  SELECT user_id, t, value FROM raw
         |), r AS (
         |  SELECT user_id, t, value AS snap, event_id AS snap_id
         |  FROM raw WHERE event_id % 10 = 0
         |)
         |SELECT * FROM (
         |  SELECT l.user_id, 'le' AS cmp, ${fpSql("l.t", "1e6")} AS t_fp,
         |    ${fpSql("l.value", "1e6")} AS value_fp,
         |    ${fpSql("r.snap", "1e6")} AS snap_fp, r.snap_id
         |  FROM l ASOF LEFT JOIN r
         |    ON l.user_id = r.user_id AND l.t >= r.t
         |  UNION ALL
         |  SELECT l.user_id, 'lt' AS cmp, ${fpSql("l.t", "1e6")} AS t_fp,
         |    ${fpSql("l.value", "1e6")} AS value_fp,
         |    ${fpSql("r.snap", "1e6")} AS snap_fp, r.snap_id
         |  FROM l ASOF LEFT JOIN r
         |    ON l.user_id = r.user_id AND l.t > r.t
         |)
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    "q4_asof_tol" ->
      s"""WITH raw AS (
         |  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE)/1e6 AS t, value, event_id
         |  FROM events
         |), l AS (
         |  SELECT user_id, t, value FROM raw
         |), r AS (
         |  SELECT user_id, t, value AS snap, event_id AS snap_id
         |  FROM raw WHERE event_id % 10 = 0
         |)
         |SELECT l.user_id, ${fpSql("l.t", "1e6")} AS t_fp,
         |  ${fpSql("l.value", "1e6")} AS value_fp,
         |  CASE WHEN l.t - r.t <= 600.0 THEN ${fpSql("r.snap", "1e6")} END AS snap_fp,
         |  CASE WHEN l.t - r.t <= 600.0 THEN r.snap_id END AS snap_id
         |FROM l ASOF LEFT JOIN r
         |  ON l.user_id = r.user_id AND l.t >= r.t
         |ORDER BY 1, 2, 3""".stripMargin,
    "q5_interval" ->
      s"""WITH raw AS (
         |  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE)/1e6 AS t, event_id
         |  FROM events
         |), w AS (
         |  SELECT user_id, t AS ws, t + 1800.0 AS we, event_id AS win_id
         |  FROM raw WHERE event_id % 20 = 0
         |)
         |SELECT l.user_id, ${fpSql("l.t", "1e6")} AS t_fp, l.event_id,
         |  w.win_id, ${fpSql("w.ws", "1e6")} AS ws_fp
         |FROM raw l JOIN w
         |  ON l.user_id = w.user_id AND l.t >= w.ws AND l.t <= w.we
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    "q6_histogram" ->
      s"""WITH b AS (
         |  SELECT MIN(CAST(value AS DOUBLE)) AS mn, MAX(CAST(value AS DOUBLE)) AS mx
         |  FROM events
         |), binned AS (
         |  SELECT CASE WHEN b.mx > b.mn
         |    THEN LEAST(CAST(FLOOR((CAST(e.value AS DOUBLE) - b.mn) / ((b.mx - b.mn) / 32)) AS INT), 31)
         |    ELSE 0 END AS bin, b.mn, b.mx
         |  FROM events e, b WHERE e.value IS NOT NULL
         |)
         |SELECT CAST(bin AS INT) AS bin,
         |  ${fpSql("mn + bin * ((mx - mn) / 32)", "1e6")} AS lo_fp,
         |  ${fpSql("mn + (bin + 1) * ((mx - mn) / 32)", "1e6")} AS hi_fp,
         |  CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM binned GROUP BY bin, mn, mx
         |ORDER BY bin""".stripMargin,
    "q7_quantiles" ->
      s"""SELECT user_id,
         |  ${fpSql("quantile_cont(value, 0.25)", "1e6")} AS p25_fp,
         |  ${fpSql("quantile_cont(value, 0.5)", "1e6")} AS p50_fp,
         |  ${fpSql("quantile_cont(value, 0.9)", "1e6")} AS p90_fp
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
}
