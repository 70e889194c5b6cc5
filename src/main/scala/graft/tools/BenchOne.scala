package graft.tools
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftshim.BusInternals
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Time one SparkEntry query N times in a single warmed JVM:
  * `tools/run.sh graft.tools.BenchOne <query>[,query...] [sfDir] [runs]`
  * on [[graft.SparkEntry.localSession]]. Besides each run's wall and
  * `build_jobs` (Spark jobs started while its DataFrame was built) it
  * prints one `[stage]` line per stage of 100 ms or more (tasks, wall,
  * executor run, GC and CPU ms) and, for a streaming query, one
  * `[batch]` line per micro-batch (input rows, the durationMs split,
  * state-store rows) — what the Spark UI would show, with the UI off.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    // comma-separated names share one warmed JVM; cache cleared
    // between queries (Bench's per-query isolation rule)
    val names = args.headOption.toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val bad = names.filterNot(graft.SparkEntry.queries.contains)
    if (names.isEmpty || bad.nonEmpty) {
      System.err.println("usage: BenchOne <query>[,query...] [sfDir] [runs]; unknown " +
        s"queries: ${bad.mkString(",")}; valid: " +
        graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = graft.SparkEntry.localSession()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val m = s.taskMetrics
        val wall = s.completionTime.getOrElse(0L) - s.submissionTime.getOrElse(0L)
        if (wall >= 100) println(f"[stage] ${s.stageId} '${s.name.take(50)}' " +
          f"tasks=${s.numTasks} wall=$wall ms exec=${m.executorRunTime} " +
          f"gc=${m.jvmGCTime} cpu=${m.executorCpuTime / 1000000}")
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = new java.util.TreeMap[String, java.lang.Long](p.durationMs)
        val ss = p.stateOperators.map(o =>
          s"rows=${o.numRowsTotal} commitMs=${o.commitTimeMs} memUsed=${o.memoryUsedBytes}")
        val q = Option(p.name).getOrElse(p.id)
        println(s"[batch] $q ${p.batchId} rows=${p.numInputRows} dur=$d " +
          s"state{${ss.mkString(" | ")}}")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.Bench.calibrate() // JIT warm-up
    println(f"cal: ${graft.Bench.calibrate()}%.3f s (single-thread ALU anchor)")
    def jobsNow = { BusInternals.drain(spark.sparkContext); jobs.get }
    names.foreach { name =>
      val (times, builds) = (1 to runs).map { _ =>
        val (j0, t0) = (jobsNow, System.nanoTime())
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val built = jobsNow - j0
        df.write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, built)
      }.unzip
      spark.catalog.clearCache()
      println(f"$name: ${times.map(t => f"$t%.2f").mkString(", ")} (min ${times.min}%.2f) " +
        s"build_jobs=${builds.mkString(",")}")
    }
    spark.stop()
  }
}
