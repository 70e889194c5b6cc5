package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** The one `private[sql]` bridge a DSv1 streaming `Source` needs:
  * `getBatch` must hand `MicroBatchExecution` a DataFrame whose
  * logical plan is flagged `isStreaming = true` (the engine asserts
  * it), and the only public-adjacent way to mint one from batch data
  * is `SparkSession.internalCreateDataFrame(rdd, schema,
  * isStreaming = true)` — the exact construction the built-in v1
  * Kafka source used (`KafkaSource.getBatch` in Spark's
  * external/kafka-0-10-sql, public repo). Delta Lake solves the same
  * visibility problem the same way: its whole source tree lives
  * under `org.apache.spark.sql.delta` to reach `private[sql]` API.
  * This object is the narrowest possible version of that pattern —
  * one method, nothing else escapes the package.
  */
object SqlInternals {

  /** Wrap an already-planned batch computation as a streaming
    * micro-batch DataFrame. The RDD is lazy — nothing executes until
    * the streaming batch runs.
    */
  def streamingDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
                         schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The analyzed batch plan's InternalRow RDD — `queryExecution` is
    * on the classic Dataset, not the Spark 4 API facade.
    */
  def toInternalRdd(df: Dataset[Row]): RDD[InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.toRdd
}

object NodeInternals {
  import graft.sources.PredNode

  /** The predicate tree behind a Column, re-expressed as graft's
    * neutral [[graft.sources.PredNode]] AST. Spark 4's Column is a
    * facade over a `private[sql]` ColumnNode tree — the SAME tree
    * `filter(column)` hands the engine, so deriving the manifest
    * stats-pruning predicate from it means the pruned predicate and
    * the residual row filter cannot drift. Anything beyond
    * function-call/attribute/literal nodes maps to Opaque, which the
    * evaluator treats as "cannot prune".
    */
  def predTree(c: org.apache.spark.sql.Column): PredNode = toPred(c.node)

  private def toPred(n: org.apache.spark.sql.internal.ColumnNode): PredNode = n match {
    case f: org.apache.spark.sql.internal.UnresolvedFunction =>
      PredNode.FnCall(f.functionName, f.arguments.map(toPred))
    case a: org.apache.spark.sql.internal.UnresolvedAttribute
      if a.nameParts.size == 1 => PredNode.Attr(a.nameParts.head)
    case l: org.apache.spark.sql.internal.Literal => PredNode.Lit(l.value)
    case _ => PredNode.Opaque
  }
}

object ThreadInternals {

  /** Run `body` on `pool` under a copy of the calling thread's Spark
    * local properties (job group, description, job tags, scheduler
    * pool) and active session — Spark's own capture for the async
    * work a query launches (broadcast builds), so the pooled jobs
    * answer to the caller's `cancelJobGroup` and carry its labels.
    */
  def submitCaptured[T](spark: SparkSession, pool: java.util.concurrent.ExecutorService)
                       (body: => T): java.util.concurrent.CompletableFuture[T] =
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(body)
}

object BusInternals {
  /** Block until the `private[spark]` listener bus has delivered every queued event. */
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
