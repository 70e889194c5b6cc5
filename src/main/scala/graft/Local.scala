package graft

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Encoder, Row}

/** The one rule for "collect it and loop on the driver": an iterative
  * step over a small input runs as plain JVM loops over primitive
  * arrays instead of one Spark job per iteration, and an input over
  * [[Budget]] keeps its distributed path.
  *
  * Why: each job of a small fit is a handful of stages of tiny tasks
  * whose scheduling, not their work, sets the time. Round 22's PageRank
  * fast path took the graph family from 15.6 s to 2.9 s, and the
  * two-iteration k-means fit over the 500 sf0.01 embeddings runs 6
  * jobs when distributed and one collect when local.
  *
  * The budget is 4M primitive 8-byte elements (~32 MB of arrays):
  * PageRank's 2M directed edges at two longs each, a k-means corpus of
  * rows × dim doubles. Driver heap at the budget, measured as the
  * largest live set (a sampler thread forcing a full GC every 50 ms)
  * minus the live set before the call, in a `local[4]` JVM: 85 MB for
  * `kmeansFit` on 62,500 × 64 float vectors, k = 250, over a
  * materialized cache (138 MB for the JVM's first fit), and 73–85 MB
  * for `pageRank` on 2M directed edges, its edge cache included. Both
  * hold the collected rows twice for a moment: Spark's encoded result,
  * then the decoded arrays. The BPE trainer over a materialized frame
  * of 500,000 seven-byte word types (types + bytes = 4M), 32 merges:
  * 48–57 MB, its word-type cache included; 153–157 MB when the same
  * types are aggregated from raw text inside the call, the peak then
  * being Spark's aggregation rather than the loop. Its initial
  * symbols share one array per byte value, so each costs a reference.
  * Exact order statistics, 2M values in 1 or 5 cached groups: 86–115
  * MB. The unigram EM's flat combine held up to 287 MB at 1M lanes, so
  * a lane counts 8 elements: 50–149 MB at 500k lanes, 2–250 partitions.
  *
  * Sites: `Ann.kmeansFit`, `Graph.pageRank`, the BPE trainer, the
  * exact order statistics (`Stats.exactRankValues`) and the unigram
  * EM's combine (`TextOps.unigramTrainLarge`).
  */
object Local {

  /** Driver budget of a local loop, in primitive 8-byte elements. */
  val Budget: Long = 4000000L

  private val budgetOverride = new DynamicVariable[Long](Budget)

  /** The budget in force: [[Budget]], or a test's scoped override. */
  def budget: Long = budgetOverride.value

  /** Run `body` with the budget at `elements`; 0 forces every site onto
    * its distributed path.
    */
  private[graft] def withBudget[A](elements: Long)(body: => A): A =
    budgetOverride.withValue(elements)(body)

  /** Whether `elements` 8-byte values fit the budget in force. */
  def fits(elements: Long): Boolean = budget > 0 && elements <= budget

  /** `df`'s row count: its optimized plan's `rowCount` when the plan is
    * a leaf that knows it (a materialized cache, a local relation, a
    * range), with no job; otherwise one `count()`.
    */
  def rows(df: DataFrame): Long = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    // planned afresh: a cache materialized since `df` was first planned
    // now knows its count, and plans memoize their statistics
    val plan = ds.sparkSession.sessionState.executePlan(ds.queryExecution.analyzed)
      .optimizedPlan
    (if (plan.children.isEmpty) plan.stats.rowCount else None)
      .map(_.toLong).getOrElse(df.count())
  }

  /** One `pack` result per partition of `df`, in partition order: each
    * partition's rows packed into primitive arrays on the executor, so
    * the driver receives no boxed `Row`s.
    */
  def collect[P: Encoder](df: DataFrame)(pack: Iterator[Row] => P): Array[P] =
    df.mapPartitions((it: Iterator[Row]) => Iterator.single(pack(it))).collect()
}
