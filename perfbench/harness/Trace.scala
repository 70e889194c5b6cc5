package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{SourceProgress, StreamingQueryListener}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.Ledger

/** Small JSON builders over java collections (serialized with the
  * Jackson that ships with Spark).
  */
object J {
  def obj(kvs: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kvs.foreach { case (k, v) => m.put(k, conv(v)) }
    m
  }
  def arr(vs: Iterable[Any]): JList[Any] = {
    val l = new JList[Any]()
    vs.foreach(v => l.add(conv(v)))
    l
  }
  private def conv(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => arr(s)
    case a: Array[_] => arr(a.toSeq)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) }: _*)
    case o: Option[_] => o.map(conv).orNull
    case x => x
  }
  def write(path: String, v: Any): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(path), v)
}

/** One timed region of the benchmark's own code. Spans of one
  * operation share `op`; `parent` is the enclosing span (-1 at the
  * top).
  */
final class Span(val id: Int, val op: Int, val parent: Int, val name: String,
                 val start: Long, var end: Long = -1L) {
  def json: JMap[String, Any] = J.obj("id" -> id, "op" -> op, "parent" -> parent,
    "name" -> name, "start_ns" -> start, "end_ns" -> end)
}

/** Records spans in memory (workload -> op -> layer call). Opening a
  * span also tags the calling thread's Spark jobs with the op and span
  * ids, so stage metrics attribute to the span that launched them.
  * Disabled, it only runs the body.
  */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer[Span]()
  @volatile var enabled = false
  private var nextId = 0
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.map(_.id).getOrElse(-1)
      val s = synchronized {
        nextId += 1
        val r = new Span(nextId, op, parent, name, System.nanoTime())
        spans += r
        r
      }
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      stack.set(s :: stack.get)
      try body
      finally {
        s.end = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.SpanProp, prev)
      }
    }

  /** A span whose bounds were measured elsewhere (plan phases). */
  def record(name: String, op: Int, parent: Int, start: Long, end: Long): Unit =
    synchronized {
      nextId += 1
      spans += new Span(nextId, op, parent, name, start, end)
    }
}

object Tracer {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"
}

final case class StageRec(op: Int, span: Int, stage: Int, tasks: Int,
                          runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long,
                          inputRecords: Long) {
  def json: JMap[String, Any] = J.obj("op" -> op, "span" -> span,
    "stage" -> stage, "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "input_records" -> inputRecords)
}

/** Stage metrics per op, from outside: each job carries the op/span
  * local properties the [[Tracer]] set on the thread that launched it.
  * The loop is closed (one op at a time), so a job whose tags name
  * another op (a pooled thread that inherited stale properties) or none
  * belongs to the running op `current()` and is recorded with span -1:
  * untagged.
  */
final class StageListener(current: () => Int) extends SparkListener {
  val stages = ArrayBuffer[StageRec]()
  val jobs = ArrayBuffer[(Int, Int, Int)]() // (job, op, span)
  private val owner = scala.collection.mutable.Map[Int, (Int, Int)]()

  private def prop(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = current()
    val o = if (prop(e.properties, Tracer.OpProp) == op) (op, prop(e.properties, Tracer.SpanProp))
      else (op, -1)
    jobs += ((e.jobId, o._1, o._2))
    e.stageIds.foreach(s => owner(s) = o)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val (op, span) = owner.getOrElse(i.stageId, (-1, -1))
    if (m != null)
      stages += StageRec(op, span, i.stageId, i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
  }
}

/** Planning time of every action, from `QueryExecution.tracker`:
  * (first phase start ms, analysis + optimization + planning ms).
  */
final class PlanListener extends QueryExecutionListener {
  val plans = ArrayBuffer[(Long, Long)]()
  private def rec(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      plans += ((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = rec(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
}

/** Micro-batch progress: batch id, trigger phase durations, the
  * source end offset and the records the batch consumed from the
  * ledger, for every batch of every query. `records` comes from the
  * offsets (end minus start, summed over partitions), not from
  * `numInputRows`, which counts every scan of the batch.
  */
final class ProgressListener extends StreamingQueryListener {
  val batches = ArrayBuffer[JMap[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val rec = J.obj("query" -> p.id.toString, "batch" -> p.batchId,
      "trigger_ms" -> dur("triggerExecution"), "add_batch_ms" -> dur("addBatch"),
      "query_planning_ms" -> dur("queryPlanning"), "wal_commit_ms" -> dur("walCommit"),
      "commit_offsets_ms" -> dur("commitOffsets"), "latest_offset_ms" -> dur("latestOffset"),
      "get_batch_ms" -> dur("getBatch"),
      "records" -> p.sources.headOption.map(consumed).getOrElse(0L),
      "end_offset" -> p.sources.headOption.map(_.endOffset).orNull)
    synchronized { batches += rec }
  }

  private def consumed(src: SourceProgress): Long = {
    def offsets(json: String): Map[Int, Long] =
      if (json == null || json == "null") Map.empty else Ledger.parseOffset(json).offsets
    val start = offsets(src.startOffset)
    offsets(src.endOffset).map { case (p, end) => end - start.getOrElse(p, 0L) }.sum
  }
}
