package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col

/** The one partition-width rule: every partition count graft derives
  * from the session's parallelism `dp` for a compute frame comes from
  * here, and reading a width runs no Spark job.
  *
  * Why size by `dp`: graft's rows are compute-heavy, not byte-heavy.
  * Each testdata table is one parquet file, so a kernel over a bare
  * scan ran as ONE task (round 21: 1-task stages of 0.4–3.4 s in the
  * dedup/text/bpe queries while 31 cores idled; 2.8 s + 2.4 s for the
  * unigram corpus at sf0.1; every ImageIO render on the scan task). And
  * AQE sizes a count-less exchange by bytes, so tiny rows of heavy work
  * coalesce onto a couple of tasks: the shingle/minhash stage ran as 2
  * tasks of 2.2–2.8 s carrying ~5 s of kernel CPU (dedup_minhash_unicode
  * 3.5 → ~1.4 s solo with an explicit count, which AQE never
  * coalesces), and a few MB of 24-byte candidate pairs put the
  * edit-distance DP on 2 of 32 cores. Why never narrow: at 100 TB a
  * corpus arrives in thousands of splits, and `repartition(dp)` is a
  * full-corpus exchange DOWN to the core count in front of the kernels
  * (the round-21 rule the round-22 gate retired). Results downstream
  * are partitioning-independent (per-row exprs, exact aggregations,
  * explicit sorts): a width changes speed, never output.
  */
object Width {

  /** Rows per partition of iterative state (~100 MB of (src, dst) longs). */
  val StateRowsPerPartition = 2000000L

  /** The partition count `df`'s planned physical plan yields: the
    * top-most shuffle's count, else the leaf scans' split count (files,
    * local rows, range slices, a cached relation's own plan). Executes
    * nothing: a `df.rdd` probe above a shuffle runs its map stage.
    */
  def width(df: DataFrame): Int = {
    def planned(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => planned(a.executedPlan)
      case s: QueryStageExec => planned(s.plan)
      case r: AQEShuffleReadExec => r.partitionSpecs.size
      case e: ShuffleExchangeLike => e.numPartitions
      case _: BroadcastExchangeLike => 0
      case c: CoalesceExec => math.min(c.numPartitions, planned(c.child))
      case u: UnionExec => u.children.map(planned).sum
      case m: InMemoryTableScanExec => planned(m.relation.cachedPlan)
      // a dynamic-pruning filter's subquery has not run yet
      case s: FileSourceScanExec
        if !s.partitionFilters.exists(_.isInstanceOf[DynamicPruningExpression]) =>
        s.inputRDD.getNumPartitions
      case r: RangeExec => r.numSlices
      case l: LocalTableScanExec => math.min(l.rows.size, parallelism(df))
      case r: RDDScanExec => r.rdd.getNumPartitions
      case r: ExternalRDDScanExec[_] => r.rdd.getNumPartitions
      // a reused exchange reports its shuffle's partitioning
      case leaf if leaf.children.isEmpty => math.max(1, leaf.outputPartitioning.numPartitions)
      case other => other.children.map(planned).max
    }
    planned(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan)
  }

  /** For a site that always exchanges: `dp`, or the input's width when wider. */
  def of(df: DataFrame): Int = math.max(parallelism(df), width(df))

  /** `df` untouched when at least `dp/2` wide (zero added exchange), else
    * hash-repartitioned on `keys` (round-robin when none) to `dp`.
    */
  def spread(df: DataFrame, keys: String*): DataFrame = {
    val dp = parallelism(df)
    if (width(df) >= math.max(1, dp / 2)) df else df.repartition(dp, keys.map(col): _*)
  }

  /** For iterative state of `rows` rows: one partition per
    * [[StateRowsPerPartition]], never wider than the input. Not the
    * input's width: a union of similarity-stage output inherits twice
    * its partitions, and five Pregel supersteps over a 2k-edge graph ran
    * ~30 stages of 64 near-empty tasks (round 21: 0.45 s stage walls
    * with ~30 ms of work).
    */
  def state(df: DataFrame, rows: Long): Int =
    math.max(1L, math.min((rows + StateRowsPerPartition - 1) / StateRowsPerPartition,
      width(df).toLong)).toInt

  private def parallelism(df: DataFrame): Int = df.sparkSession.sparkContext.defaultParallelism
}
