package graft

import java.lang.ref.{Cleaner, WeakReference}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** The one owner of every cache graft creates, with one lifetime
  * rule: a persisted frame belongs to the [[Scope]]s that cached it,
  * and the last of them to finish frees it.
  *
  *  - [[eager]]: freed when the body returns or throws — for fits,
  *    probes and commits that finish inside the call.
  *  - [[result]]: the body builds a LAZY result, so its caches outlive
  *    the call. They are freed after the first completed execution
  *    (success or failure) of the returned frame or of any frame
  *    derived from it, or once no such frame is reachable, or at once
  *    if the body throws. The trigger is armed when the body returns,
  *    so eager jobs inside the builder never fire it. Reachability is
  *    tracked the way Spark's ContextCleaner tracks shuffles and
  *    broadcasts: a `java.lang.ref.Cleaner` on the result's logical
  *    plan, which every derived frame holds strongly. Re-running the
  *    result after its caches are gone recomputes it.
  *
  * Spark keys its cache by plan, so an entry is reference-counted by
  * the scopes holding it: caching a plan another scope already cached
  * joins that entry, and the last holder to free it uncaches it. An
  * entry cached outside any scope is never joined or freed, and a
  * scope that fires late skips an entry a later scope re-created. A
  * nested scope therefore never frees its caller's cache, and a
  * pending release never frees a rebuilt result's caches.
  */
object CacheUtil {

  final class Scope private[CacheUtil] () {
    // each owned frame with its cache key (the plan Spark matches
    // cache entries by)
    private[CacheUtil] var frames = Vector.empty[(DataFrame, LogicalPlan)]
    // set when a result scope is armed
    private[CacheUtil] var plan: WeakReference[LogicalPlan] = _
    private[CacheUtil] var planId = 0L // the result's QueryExecution id
    private[CacheUtil] var tracker: Tracker = _

    /** Persist `df` MEMORY_AND_DISK under this scope. */
    def cache(df: DataFrame): DataFrame = {
      val m = manager(df)
      val key = classic(df).queryExecution.normalized.canonicalized
      val held = owners.synchronized {
        if (m.lookupCachedData(classic(df)).isEmpty) {
          m.cacheQuery(classic(df), None, StorageLevel.MEMORY_AND_DISK)
          owners(key) = mutable.Set.empty
        }
        // no holder set: the entry was cached outside any scope
        owners.get(key).exists(_.add(this))
      }
      if (held) frames :+= (df -> key)
      df
    }

    /** Free one of this scope's caches early: a rolling loop releases
      * round k once round k+1 is cached.
      */
    def release(df: DataFrame): Unit = drop(_ eq df)

    private[CacheUtil] def free(): Unit = drop(_ => true)

    private def drop(which: DataFrame => Boolean): Unit = {
      val (gone, kept) = frames.partition(f => which(f._1))
      frames = kept
      gone.reverseIterator.foreach { case (df, key) => // dependents before their inputs
        val last = owners.synchronized {
          owners.get(key).exists(h => h.remove(this) && h.isEmpty && owners.remove(key).isDefined)
        }
        if (last) manager(df).uncacheQuery(classic(df), cascade = false, blocking = false)
      }
    }
  }

  /** Run `body`; its caches are freed when it returns or throws. */
  def eager[A](body: Scope => A): A = {
    val scope = new Scope
    try body(scope) finally scope.free()
  }

  /** Build a lazy result whose caches are freed after its first
    * execution, or once it is unreachable (see the object doc).
    */
  def result(body: Scope => DataFrame): DataFrame = {
    val scope = new Scope
    val out = try body(scope) catch { case e: Throwable => scope.free(); throw e }
    if (scope.frames.nonEmpty) {
      // arm: track the plan derived frames embed (Dataset.logicalPlan)
      val plan = classic(out).queryExecution.commandExecuted
      scope.plan = new WeakReference(plan)
      scope.planId = classic(out).queryExecution.id
      trackers.synchronized {
        scope.tracker = trackers.getOrElseUpdate(out.sparkSession, new Tracker(out.sparkSession))
        scope.tracker.scopes.add(scope)
      }
      cleaner.register(plan, () => finish(scope)) // captures the scope, not the plan
    }
    out
  }

  /** The checkpoint directory for reliable checkpoints: the context's
    * own when set (durable storage on a cluster), else a temp-dir
    * default installed for local runs.
    */
  def ensureCheckpointDir(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(s"${System.getProperty("java.io.tmpdir")}/graft-checkpoints")
  }

  private def classic(df: DataFrame) = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
  private def manager(df: DataFrame) = classic(df).sparkSession.sharedState.cacheManager

  /** The scopes holding each live cache entry, by plan key. */
  private val owners = mutable.HashMap.empty[LogicalPlan, mutable.Set[Scope]]
  private val trackers = mutable.Map.empty[SparkSession, Tracker]
  private lazy val cleaner = Cleaner.create()

  /** The one listener per session, registered on creation: finishes
    * every armed scope whose result plan the completed execution
    * contains, and is unregistered once none is left.
    */
  private final class Tracker(val session: SparkSession) extends QueryExecutionListener {
    val scopes = java.util.concurrent.ConcurrentHashMap.newKeySet[Scope]()
    session.listenerManager.register(this)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      fired(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      fired(qe)
    // derived frames embed the result plan itself, or — after the
    // analyzer re-instances a self-joined side — a same-result copy.
    // Only an execution planned after the result can be one of its
    // own: a rebuilt result's plan is the same result as the earlier
    // build's, whose execution may be reported after the rebuild.
    private def fired(qe: QueryExecution): Unit = scopes.forEach { s =>
      val p = s.plan.get
      if (p != null && (qe.logical.find(_ eq p).isDefined ||
          qe.id >= s.planId && qe.analyzed.find(_.sameResult(p)).isDefined)) finish(s)
    }
  }

  // the listener and the Cleaner may both fire: the first to remove the
  // scope from its tracker frees it
  private def finish(s: Scope): Unit = if (s.tracker.scopes.remove(s)) {
    try s.free()
    finally trackers.synchronized {
      val t = s.tracker
      if (t.scopes.isEmpty) {
        t.session.listenerManager.unregister(t)
        trackers.remove(t.session)
      }
    }
  }
}
