package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.{CacheUtil, Tables}
import graft.Tables.{fp2, fp6, fpSql}
import graft.dsp.Design
import graft.streaming.Streaming

/** End-to-end Structured Streaming oracle queries (SURVEY.md §2.2
  * op 30): drive a file-source stream of the events table through a
  * stateful streaming operator into a sink table, then hand the sink
  * back as a batch DataFrame for the driver's DuckDB compare. The
  * oracle is the BATCH recursive-CTE twin — passing proves the
  * streaming operator's carried state reproduces the batch semantics
  * sample-for-sample, not just "rows came out".
  */
object Stream {

  /** events.parquet as a bounded file-source stream of [[Streaming.Event]].
    * ts arrives as a nanos long ([[Tables.tsToNanos]] normalizes either
    * testdata generation) and leaves at µs through [[asEvents]].
    */
  private def eventStream(s: SparkSession, dir: String) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    // the file source wants a directory: stream the sf dir with a
    // glob filter selecting just the events table file(s)
    asEvents(Tables.tsToNanos(
      s.readStream.schema(schema).option("pathGlobFilter", "events.parquet")
        .parquet(dir)))
  }

  /** Events with a nanos-long `tsNanos` column as [[Streaming.Event]]s:
    * `timestamp_micros(ts div 1000)` reproduces the µs truncation every
    * batch oracle uses, so stream and oracle see identical coordinates.
    */
  private def asEvents(df: DataFrame, tsNanos: String = "ts") = {
    import df.sparkSession.implicits._
    df.select(col("user_id"), timestamp_micros(expr(s"$tsNanos div 1000")).as("ts"),
      col("event_type"), col("value")).as[Streaming.Event]
  }

  /** `sorted` plus its global row index `_rn`, from the distributed
    * sort + zipWithIndex — no single-partition window (VERDICT r10 #6):
    * keeping the fixtures warning-free means a real single-partition
    * WindowExec regression stays visible in logs.
    */
  private def withRowIndex(s: SparkSession, sorted: DataFrame): DataFrame =
    s.createDataFrame(sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }, sorted.schema.add("_rn", LongType))

  /** events.parquet re-materialized as `nFiles` time-ordered slices
    * with strictly increasing mtimes (one file per future micro-batch)
    * under /tmp, built once per (sf, nFiles) behind a _READY marker,
    * then streamed with `maxFilesPerTrigger=1` — a REAL multi-batch
    * replay: the watermark advances between batches exactly as in
    * production, so cross-batch carried state and event-time timeouts
    * become oracle-able. The slice rule (global (ts, user_id) order,
    * chunks of ceil(n/nFiles)) is integral and SQL-replayable, and the
    * global order means each key's events still arrive time-ordered
    * across batches (the operators' telemetry contract).
    */
  private def slicedEventStream(s: SparkSession, dir: String, nFiles: Int,
                                glob: String = "ev_*.parquet") = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val root = new java.io.File(
      Tables.fixtureDir("graft_stream", dir, "events"), nFiles.toString)
    // atomic scratch-dir build (ADVICE r8): the _READY marker becomes
    // visible only via the rename of a fully-sliced dir, so concurrent
    // bench/verify JVMs can never stream a half-written slice set
    Tables.materializeOnce(root, "_READY") { scratch =>
      // normalized to nanos-long BEFORE slicing, so the slice files
      // carry one canonical ts type regardless of testdata generation
      val ev = Tables.tsToNanos(s.read.parquet(s"$dir/events.parquet"))
      val n = ev.count()
      val chunk = math.ceil(n.toDouble / nFiles).toLong
      // slice at the µs precision the stream and every oracle rank on
      // ((ts div 1000, user_id, value) — the raw nanos would order
      // µs-tied rows differently than the oracle's replayed boundary),
      // with the value tie-break making any residual ambiguity
      // observationally equivalent
      CacheUtil.eager { scope =>
        val idx = scope.cache(withRowIndex(s,
            ev.sort(expr("ts div 1000"), col("user_id"), col("value")))
          .withColumn("_c", expr(s"_rn div $chunk")))
        scratch.mkdirs()
        for (c <- 0 until nFiles) {
          val tgt = new java.io.File(scratch, f"ev_$c%03d.parquet")
          graft.Tables.writeSingleFile(idx.filter(col("_c") === c).drop("_rn", "_c"), tgt)
          // distinct ascending mtimes pin the FileStreamSource batch order
          tgt.setLastModified(1700000000000L + c * 60000L): Unit
        }
      }
    }
    // schema must come from the SLICES (ts already nanos-long there),
    // not the source file (whose ts may be TimestampType)
    val schema = s.read.option("pathGlobFilter", "ev_*.parquet")
      .parquet(root.getAbsolutePath).schema
    asEvents(s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", glob)
      .parquet(root.getAbsolutePath))
  }

  /** Temp sink/checkpoint trees awaiting recursive cleanup at JVM exit
    * (deferred that long because the returned DataFrame lazily reads
    * the sink files; deleteOnExit only removes empty dirs). ONE shared
    * hook drains the queue — a hook per call accumulated unboundedly
    * across a long-lived harness process (ADVICE r7).
    */
  private val pendingTmp =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
  private lazy val cleanupHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      var f = pendingTmp.poll()
      while (f != null) { rm(f); f = pendingTmp.poll() }
    }))

  /** Checkpoint-I/O tuning applied before every stream start
    * (optimization round 21, guide §1/§6 — measured, not assumed):
    * on this Hadoop-native-lib-free local deployment the DEFAULT
    * checkpoint path made state commits ~50× slower than the state
    * machinery itself, from two sources the StreamProbe thread-dumps
    * pinned (tools/StreamProbe, recoverable from commit e9cc669; its
    * per-micro-batch lines are now BenchOne's `[batch]` lines):
    *
    *  1. Spark 4.1's checkpoint file checksums (new, default on):
    *     every offsets/commits/state-delta write spawns a side thread
    *     writing a `.checksum` companion — doubling small-file
    *     traffic and forking subprocesses through Hadoop `Shell`.
    *     The local ChecksumFileSystem already write-checksums every
    *     file (.crc sidecars), so the integrity is redundant here.
    *  2. The FileContext-based checkpoint manager's rename path calls
    *     Hadoop's `FileUtil.readLink` — ONE FORKED `readlink` PROCESS
    *     PER RENAME without libhadoop — and every checkpoint write
    *     finalizes via rename.
    *
    * Measured on stream_join (12-slice interval join, sf0.1):
    * 15.6–55 s → 7.6 s; per-batch state commitTimeMs 3400 → 31 ms.
    * Both knobs are env-overridable because the trade-off is
    * deployment-specific: on HDFS the FileContext manager's atomic
    * rename contract and end-to-end checksums are worth their cost;
    * on POSIX-local or object-store checkpoint volumes `File.renameTo`
    * is already atomic and the extra integrity layer is redundant.
    */
  /** Every declared stream in this file checkpoints under the JVM temp
    * dir (Files.createTempDirectory), so the 1-arg form gates on that
    * volume — callers with a different checkpoint volume use the 2-arg
    * form with the real path.
    */
  private[queries] def tuneCheckpointIo(spark: SparkSession): Unit =
    tuneCheckpointIo(spark, System.getProperty("java.io.tmpdir", "/tmp"))

  /** Scheme-gated variant (ADVICE r21 medium): the POSIX-local tuning
    * (checksums off, rename-based FileSystem manager) applies ONLY when
    * the checkpoint volume is a local `file://` path — the deployment
    * the measurements were taken on and the one where the defaults are
    * redundant (ChecksumFileSystem .crc sidecars, atomic File.renameTo).
    * On HDFS/object-store checkpoint volumes Spark's own defaults (the
    * FileContext manager's atomic-rename contract + end-to-end
    * checksums) stay in force, and any earlier local-path override is
    * explicitly reverted so a mixed-volume session can't leak the
    * weaker config across queries. The two env vars still force either way.
    */
  private[queries] def tuneCheckpointIo(spark: SparkSession,
                                        chkPath: String): Unit = {
    val scheme = Option(new org.apache.hadoop.fs.Path(chkPath).toUri.getScheme)
      .getOrElse("file")
    val local = scheme == "file"
    val checksum = sys.env.get("SPARK_GRAFT_CHECKPOINT_CHECKSUM")
      .getOrElse(if (local) "false" else "true")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", checksum)
    sys.env.get("SPARK_GRAFT_CHECKPOINT_FILE_MANAGER") match {
      case Some(cls) =>
        spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", cls)
      case None if local =>
        spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
          "org.apache.spark.sql.execution.streaming.checkpointing." +
            "FileSystemBasedCheckpointFileManager")
      case None =>
        spark.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
    }
  }

  /** Scratch tree for one declared stream (sink, checkpoint and table
    * dirs go under it): checkpoint I/O tuned for the JVM temp volume it
    * lives on, then queued for the shared exit-time cleanup.
    */
  private def streamScratch(s: SparkSession, name: String): java.io.File = {
    tuneCheckpointIo(s)
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-$name-").toFile
    cleanupHookInstalled
    pendingTmp.add(tmp)
    tmp
  }

  /** Shuffle partitions while a declared stream runs, sized by STATE
    * VOLUME, not by the batch side's shuffle default: every stateful
    * operator commits one store per partition per micro-batch (a
    * symmetric join commits FOUR), so partitions × stores × batches
    * delta-file fsyncs dominate wall time when per-partition state is
    * small; the foreachBatch sinks likewise plan delta-sized frames
    * (optimization round 22). The checkpoint pins the count for the
    * query's lifetime — production picks it the same way, by state and
    * batch volume.
    */
  private val StreamPartitions = 8

  /** Run `body` — a stream's start → stop — with [[StreamPartitions]]
    * shuffle partitions, restoring the session's count after, so fixture
    * builds and the returned batch aggregate keep the session default.
    */
  private def withStreamPartitions[T](s: SparkSession)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamPartitions.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The exactly-once harness's simulated crash: run phase 1 to
    * completion, delete the newest `commits/<n>` marker from the
    * checkpoint — exactly the state a JVM kill between sink write and
    * checkpoint commit leaves behind — restart the SAME checkpoint as
    * phase 2, and require that Spark replayed and re-committed batch n.
    * `start(phase)` starts the query for phase 1 or 2; phase 1 must
    * commit at least `minCommits` (>= 1) micro-batches.
    */
  private def crashReplay(chk: String, minCommits: Int = 1)
                         (start: Int => StreamingQuery): Unit = {
    def drain(phase: Int): Unit = {
      val q = start(phase)
      try q.processAllAvailable() finally q.stop()
    }
    drain(1)
    val commitsDir = new java.io.File(chk, "commits")
    val commits = Option(commitsDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.forall(_.isDigit))
    val need = math.max(1, minCommits)
    require(commits.length >= need, s"phase 1 committed ${commits.length} " +
      s"micro-batches in $commitsDir, expected at least $need")
    val crashedId = commits.maxBy(_.getName.toInt).getName
    require(new java.io.File(commitsDir, crashedId).delete(),
      s"could not delete commit marker $crashedId")
    // the local ChecksumFs keeps a .<n>.crc sidecar; a leftover one
    // makes the replayed commit's rename collide (reported as
    // "multiple streaming queries using the checkpoint")
    new java.io.File(commitsDir, s".$crashedId.crc").delete(): Unit
    drain(2)
    require(new java.io.File(commitsDir, crashedId).exists(),
      s"restart did not replay and re-commit crashed batch $crashedId")
  }

  /** Run a streaming Dataset to completion into a temp PARQUET sink
    * and read the files back — the same executor-side file sink a
    * production deployment writes, so nothing in the verification
    * path collects rows to the driver. Append-mode queries use the
    * parquet file sink directly; `complete` mode (which the file sink
    * cannot express) goes through foreachBatch overwriting the same
    * path, the standard micro-batch-sink pattern for full-result
    * refresh. The state store is Spark's own
    * `spark.sql.streaming.stateStore.providerClass`, so the SAME oracle
    * gate runs under the production RocksDB store by setting that conf
    * (VERDICT r8 #7) — at 100 TB the default HDFS-backed in-memory
    * store is the streaming bottleneck; RocksDB keeps state off-heap
    * and incremental-checkpointed.
    */
  private def runToSink(ds: org.apache.spark.sql.Dataset[_], name: String,
                        mode: String = "append"): DataFrame = {
    val spark = ds.sparkSession
    val tmp = streamScratch(spark, name)
    val out = new java.io.File(tmp, "out").getAbsolutePath
    val writer = ds.toDF().writeStream
      .option("checkpointLocation", new java.io.File(tmp, "chk").getAbsolutePath)
    withStreamPartitions(spark) {
      val q =
        if (mode == "append")
          writer.format("parquet").outputMode(mode).option("path", out).start()
        else
          writer.outputMode(mode).foreachBatch {
            (batch: DataFrame, _: Long) =>
              batch.write.mode("overwrite").parquet(out)
          }.start()
      try q.processAllAvailable() finally q.stop()
    }
    // explicit schema: a stream that emitted zero rows leaves no (or
    // schemaless) parquet behind, where the old memory sink still
    // returned an empty schema-bearing table
    if (!new java.io.File(out).exists())
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ds.toDF().schema)
    else spark.read.schema(ds.toDF().schema).parquet(out)
  }

  /** Streaming sosfilt(butter(4, 0.3)) over the events stream —
    * byte-identical to the batch `sig_sosfilt` query (same filter,
    * same µs coordinates, same fp encoding), so it shares that
    * query's recursive-CTE oracle. `pos` comes from the operator's
    * carried per-key sample count, which is exactly the batch rank.
    */
  def streamSosfilt(s: SparkSession, dir: String): DataFrame =
    runToSink(
      Streaming.streamingSosfilt(eventStream(s, dir), Design.butterSos(4, 0.3)),
      "stream_sosfilt_sink")
      .select(col("user_id"), col("pos").cast("int").as("pos"),
        fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  /** The exactly-once production sink pattern under a SIMULATED CRASH
    * (VERDICT r11 #6): the parquet file sink's own transaction log is
    * sink-side only, so production pipelines writing to external
    * tables use the idempotent `foreachBatch` merge-write — each
    * micro-batch lands in a BATCH-ID-KEYED directory with overwrite
    * mode, so a replayed batch overwrites its own previous (possibly
    * partial) output instead of appending duplicates. The harness
    * exercises the real failure path ([[crashReplay]]): stream the
    * first six slices to completion, delete the newest commit marker,
    * then restart the SAME checkpoint against all twelve slices.
    * Spark replays batch n from its recorded offsets and the
    * state-store version n−1 (flatMapGroupsWithState recovery), the
    * overwrite makes the replay idempotent, and the six new slices
    * stream on normally. The oracle (the batch sosfilt CTE,
    * unchanged) then proves exactly-once delivery — a duplicated or
    * dropped replay fails the row-count/hash gate. Green under
    * RocksDB (`spark.sql.streaming.stateStore.providerClass` set to
    * RocksDBStateStoreProvider).
    */
  def streamExactlyOnce(s: SparkSession, dir: String): DataFrame = {
    val slices = Seq("ev_00[0-5].parquet", "ev_*.parquet")
      .map(slicedEventStream(s, dir, 12, _))
    val tmp = streamScratch(s, "stream-eo")
    val out = new java.io.File(tmp, "out").getAbsolutePath
    val chk = new java.io.File(tmp, "chk").getAbsolutePath
    withStreamPartitions(s) {
      crashReplay(chk) { phase =>
        Streaming.streamingSosfilt(slices(phase - 1), Design.butterSos(4, 0.3))
          .toDF().writeStream.option("checkpointLocation", chk)
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, id: Long) =>
            batch.write.mode("overwrite").parquet(s"$out/batch=$id")
          }.start()
      }
    }
    s.read.parquet(out).drop("batch")
      .select(col("user_id"), col("pos").cast("int").as("pos"),
        fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")
  }

  /** Streaming distinct-users-per-window via HLL++, GATED — the
    * live-dashboard staple (unique visitors per 10-minute window)
    * in its only scale-safe streaming form: exact COUNT(DISTINCT) is
    * unsupported in streaming aggregations (unbounded per-window
    * state), while the HLL sketch is a fixed ~1.5 KB mergeable
    * register set whose merge (max per register) is commutative and
    * associative — deterministic under any micro-batch arrival order,
    * the q14 argument. The query joins the streamed estimates to the
    * batch-exact distinct counts and asserts the ±3σ (rsd 0.05) band
    * per window; the oracle replays the exact side and the TRUE gate.
    */
  def streamApproxUsers(s: SparkSession, dir: String): DataFrame = {
    val approx = runToSink(
      eventStream(s, dir).toDF()
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes"))
        .agg(approx_count_distinct(col("user_id"), 0.05).as("n_approx")),
      "stream_users_sink", mode = "complete")
      .select(col("window.start").cast("long").as("w_start_s"), col("n_approx"))
    val exact = Tables.load(s, dir, "events")
      .select((expr("ts div 1000000000 div 600") * 600).as("w_start_s"),
        col("user_id"))
      .distinct()
      .groupBy(col("w_start_s")).agg(count(lit(1)).as("n_exact"))
    exact.join(approx, Seq("w_start_s"), "left")
      .select(col("w_start_s"), col("n_exact"),
        (col("n_approx").isNotNull &&
          abs(col("n_approx") - col("n_exact")) <=
            lit(3) * lit(0.05) * col("n_exact") + lit(2)).as("within_ok"))
      .orderBy("w_start_s")
  }

  private val streamApproxUsersSql: String =
    """WITH w AS (
      |  SELECT (epoch_us(ts) // 600000000) * 600 AS w_start_s, user_id
      |  FROM events
      |)
      |SELECT w_start_s, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
      |  TRUE AS within_ok
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** Streaming EWMA anomaly alerts (Streaming.streamingAnomaly) over
    * the 12-slice stream: sparse data-dependent emission — an alert
    * row only when a sample deviates from the running EW mean by more
    * than 3 EW standard deviations, judged against the PRE-sample
    * statistics, with α = 1/8 exactly representable so the oracle's
    * recursive replay (including the strict `>` comparison) matches
    * bit-for-bit with zero tolerance. State threads across all twelve
    * micro-batch boundaries.
    */
  def streamAnomaly(s: SparkSession, dir: String): DataFrame =
    runToSink(
      Streaming.streamingAnomaly(slicedEventStream(s, dir, 12)),
      "stream_anomaly_sink")
      .select(col("user_id"), col("pos").cast("int").as("pos"), col("ts_ms"),
        fp6(col("value")).as("value_fp"), fp6(col("mean")).as("mean_fp"),
        fp6(col("variance")).as("var_fp"))
      .orderBy("user_id", "pos")

  private val streamAnomalySql: String =
    s"""WITH RECURSIVE raw AS (
       |  SELECT user_id, epoch_us(ts) AS t_us, epoch_us(ts) // 1000 AS t_ms, value
       |  FROM events
       |), s AS MATERIALIZED (
       |  SELECT user_id,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t_us, value) - 1 AS j,
       |    t_ms, value
       |  FROM raw
       |), u AS (
       |  SELECT DISTINCT user_id FROM s
       |), f AS (
       |  SELECT user_id, CAST(-1 AS BIGINT) AS j,
       |    CAST(0 AS DOUBLE) AS m, CAST(0 AS DOUBLE) AS v
       |  FROM u
       |  UNION ALL
       |  SELECT f.user_id, s.j,
       |    CASE WHEN s.j = 0 THEN s.value
       |         ELSE f.m + 0.125 * (s.value - f.m) END AS m,
       |    CASE WHEN s.j = 0 THEN CAST(0 AS DOUBLE)
       |         ELSE 0.875 * (f.v + 0.125 * (s.value - f.m) * (s.value - f.m)) END AS v
       |  FROM f JOIN s ON s.user_id = f.user_id AND s.j = f.j + 1
       |)
       |SELECT s.user_id, CAST(s.j AS INT) AS pos, s.t_ms AS ts_ms,
       |  ${fpSql("s.value", "1e6")} AS value_fp,
       |  ${fpSql("f.m", "1e6")} AS mean_fp,
       |  ${fpSql("f.v", "1e6")} AS var_fp
       |FROM f JOIN s ON s.user_id = f.user_id AND s.j = f.j + 1
       |WHERE s.j >= 8 AND ABS(s.value - f.m) > 3.0 * SQRT(f.v)
       |ORDER BY 1, 2""".stripMargin

  /** Streaming sosfilt with the event-time idle TTL LIVE across the
    * 12-slice stream: a key idle long enough that some later batch
    * runs with watermark past its timeout (last + 2 h, clamped above
    * the then-current watermark) is EVICTED, and its next events
    * restart COLD — zi zeroed, pos back to 0 (4 cold restarts at
    * sf0.01, ~38 at sf0.1). This also subsumes the pure multi-batch
    * carry-over check: never-evicted keys (the majority) thread their
    * (zi, pos) state through all twelve watermark-advancing batch
    * boundaries and must still match the per-run recursive oracle
    * sample-for-sample. The oracle replays the whole mechanism in
    * SQL: slice → batch assignment, per-batch watermark, the strict
    * `wm > timeout` eviction rule with the clamp, run segmentation as
    * a cumulative eviction count, and a zero-state recursive DF2T
    * cascade per (user, run). ts_ms in the output gives a total row
    * order (pos repeats per user across runs).
    */
  def streamSosfiltTtl(s: SparkSession, dir: String): DataFrame =
    runToSink(
      Streaming.streamingSosfilt(slicedEventStream(s, dir, 12), Design.butterSos(4, 0.3),
        idleTimeoutMs = Some(7200000L)),
      "stream_sosfilt_ttl_sink")
      .select(col("user_id"), col("ts_ms"), col("pos").cast("int").as("pos"),
        fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "ts_ms", "pos", "value_fp")

  /** Per-(user, run) zero-state recursive cascade; runs segmented by
    * the replayed eviction rule.
    */
  private lazy val streamSosfiltTtlSql: String = {
    val sos = Design.butterSos(4, 0.3)
    val (cols, upd, y) = Sig.cascadeStep(sos, "f", "s.value")
    val zeroes = cols.map(c => s"CAST(0 AS DOUBLE) AS $c").mkString(", ")
    val updSel = upd.zip(cols).map { case (e, c) => s"$e AS $c" }.mkString(",\n    ")
    s"""WITH RECURSIVE raw AS (
       |  SELECT user_id, epoch_us(ts) AS t_us, epoch_us(ts) // 1000 AS t_ms, value
       |  FROM events
       |), g AS MATERIALIZED (
       |  SELECT user_id, t_us, t_ms, value,
       |    (ROW_NUMBER() OVER (ORDER BY t_us, user_id, value) - 1)
       |      // CAST(CEIL(CAST(COUNT(*) OVER () AS DOUBLE) / 12) AS BIGINT) AS batch
       |  FROM raw
       |), wmb AS MATERIALIZED (
       |  -- watermark AFTER batch k: max event time seen so far - 10 min
       |  SELECT batch, MAX(mx) OVER (ORDER BY batch) - 600000 AS wm
       |  FROM (SELECT batch, MAX(t_ms) AS mx FROM g GROUP BY 1)
       |), ub AS (
       |  SELECT user_id, batch, MAX(t_ms) AS last_ms FROM g GROUP BY 1, 2
       |), seq AS (
       |  SELECT user_id, batch, last_ms,
       |    LAG(batch) OVER (PARTITION BY user_id ORDER BY batch) AS pb,
       |    LAG(last_ms) OVER (PARTITION BY user_id ORDER BY batch) AS pt
       |  FROM ub
       |), evb AS (
       |  -- evicted before this appearance iff some strictly-intermediate
       |  -- batch ran with watermark past the previous timeout; batch k
       |  -- runs with wm(k-1), so the strongest check is wm(batch-2)
       |  SELECT s.user_id, s.batch,
       |    CASE WHEN s.pb IS NOT NULL AND s.batch - s.pb >= 2
       |      AND (SELECT wm FROM wmb WHERE batch = s.batch - 2)
       |          > GREATEST(s.pt + 7200000,
       |                     COALESCE((SELECT wm FROM wmb WHERE batch = s.pb - 1), 0) + 1)
       |    THEN 1 ELSE 0 END AS evicted
       |  FROM seq s
       |), runs AS (
       |  SELECT user_id, batch,
       |    SUM(evicted) OVER (PARTITION BY user_id ORDER BY batch
       |      ROWS UNBOUNDED PRECEDING) AS run
       |  FROM evb
       |), s AS MATERIALIZED (
       |  SELECT g.user_id, r.run,
       |    ROW_NUMBER() OVER (PARTITION BY g.user_id, r.run
       |      ORDER BY g.t_us, g.value) - 1 AS j,
       |    g.t_ms, g.value
       |  FROM g JOIN runs r ON r.user_id = g.user_id AND r.batch = g.batch
       |), u AS (
       |  SELECT DISTINCT user_id, run FROM s
       |), f AS (
       |  SELECT user_id, run, CAST(-1 AS BIGINT) AS j, $zeroes,
       |    CAST(0 AS DOUBLE) AS y, CAST(0 AS BIGINT) AS t_ms
       |  FROM u
       |  UNION ALL
       |  SELECT f.user_id, f.run, s.j,
       |    $updSel,
       |    $y AS y, s.t_ms
       |  FROM f JOIN s ON s.user_id = f.user_id AND s.run = f.run AND s.j = f.j + 1
       |)
       |SELECT user_id, CAST(t_ms AS BIGINT) AS ts_ms, CAST(j AS INT) AS pos,
       |  ${fpSql("y", "1e6")} AS value_fp
       |FROM f WHERE j >= 0 ORDER BY 1, 2, 3, 4""".stripMargin
  }

  /** Watermarked 5-minute tumbling-window counts per event_type over
    * the events stream, run in `complete` mode so the final (otherwise
    * watermark-held) windows emit when the bounded stream drains.
    * Spark aligns tumbling windows to the unix epoch, so the oracle is
    * a plain epoch-seconds div/mul bucket aggregation.
    */
  def streamWindowedCounts(s: SparkSession, dir: String): DataFrame =
    runToSink(
      Streaming.windowedCounts(eventStream(s, dir).toDF(), "5 minutes", "10 minutes"),
      "stream_wc_sink", mode = "complete")
      // timestamp → long = epoch seconds (exact: starts are 300 s
      // aligned); sum of 2-decimal values is exact on the 0.01 grid,
      // so fp2 buckets are boundary-safe
      .select(col("w_start").cast("long").as("w_start_s"), col("event_type"),
        col("n"), fp2(col("sum_value")).as("sum_fp"))
      .orderBy("w_start_s", "event_type")

  private val streamWindowedCountsSql: String =
    s"""SELECT (epoch_us(ts) // 300000000) * 300 AS w_start_s, event_type,
       |  COUNT(*) AS n, ${fpSql("SUM(value)", "100")} AS sum_fp
       |FROM events
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** One-time fixture: the events table produced into a 4-partition
    * ledger topic (partition = user_id % 4 — Kafka's keyed-producer
    * shape, so each user's events stay in ONE partition in time
    * order), 5 index-registered segments per partition. Payloads are
    * `to_json` envelopes; offsets are the per-partition time rank.
    */
  private def ledgerTopic(s: SparkSession, dir: String): String = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val root = new java.io.File(
      Tables.fixtureDir("graft_ledger", dir, "events"), "topic")
    Tables.materializeOnce(root, "_READY") { scratch =>
      scratch.mkdirs()
      val nParts = 4
      val nSegs = 5
      CacheUtil.eager { scope =>
        val ev = scope.cache(Tables.tsToNanos(s.read.parquet(s"$dir/events.parquet"))
          .withColumn("_p", pmod(col("user_id"), lit(nParts)).cast("int")))
        for (p <- 0 until nParts) {
          // rank materialized ONCE (zipWithIndex over the persisted
          // sort), so tie rows can't migrate across segment boundaries
          // between the count and write jobs — the slicedEventStream
          // determinism rule
          // ALL columns in the sort key (ADVICE r14): (ts div 1000,
          // user_id, value) alone is not a total order, so if the
          // persisted idx frame were evicted and recomputed between
          // per-segment write jobs, tie rows could land in a different
          // _rn range. event_type completes the key → deterministic
          // recomputation regardless of cache state.
          val idx = scope.cache(withRowIndex(s, ev.filter(col("_p") === p)
              .sort(expr("ts div 1000"), col("user_id"), col("value"), col("event_type"))))
          val n = idx.count()
          val chunk = math.max(1L, math.ceil(n.toDouble / nSegs).toLong)
          for (c <- 0 until nSegs) {
            val lo = c * chunk
            val hi = math.min((c + 1) * chunk, n)
            if (hi > lo) {
              val tmpDir = new java.io.File(scratch, s"_tmp$p-$c")
              idx.filter(col("_rn") >= lo && col("_rn") < hi)
                .coalesce(1).sortWithinPartitions("_rn")
                .select(to_json(struct(
                  col("ts"),
                  col("user_id").cast("string").as("key"),
                  to_json(struct(col("user_id"), col("ts"), col("event_type"),
                    col("value"))).as("value"))).as("line"))
                .write.mode("overwrite").text(tmpDir.getAbsolutePath)
              val f = tmpDir.listFiles().find(_.getName.endsWith(".txt")).get
              graft.sources.Ledger.registerSegment(
                new java.io.File(scratch, "t").getAbsolutePath, p, f, hi - lo)
              tmpDir.listFiles().foreach(_.delete()); tmpDir.delete(): Unit
            }
          }
          scope.release(idx)
        }
      }
    }
    new java.io.File(root, "t").getAbsolutePath
  }

  /** The `to_json` payload inside each [[ledgerTopic]] envelope. */
  private val ledgerPayload = StructType(Seq(StructField("user_id", LongType),
    StructField("ts", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The event columns of [[ledgerEvents]], without the envelope's. */
  private val ledgerEventCols =
    Seq("user_id", "ts_ns", "event_type", "value").map(col)

  /** The ledger topic as a stream paced at `trigger` records per
    * micro-batch by the source's admission control
    * (maxRecordsPerTrigger): the envelope's `partition` and `offset`,
    * then the `from_json`-decoded payload as [[ledgerEventCols]].
    */
  private def ledgerEvents(s: SparkSession, topic: String,
                           trigger: Long): DataFrame =
    s.readStream.format("graft.sources.LedgerProvider")
      .option("maxRecordsPerTrigger", trigger).load(topic)
      .select(col("partition"), col("offset"),
        from_json(col("value"), ledgerPayload).as("e"))
      .select(col("partition"), col("offset"), col("e.user_id").as("user_id"),
        col("e.ts").as("ts_ns"), col("e.event_type").as("event_type"),
        col("e.value").as("value"))

  /** Trigger size for the ledger replay harnesses: a capacity knob
    * SCALED to the corpus (the r17 ×10 bench measured a fixed
    * 2000-record trigger at 105 s for 1M records — 500 micro-batches
    * per lifecycle; a fixed trigger is itself the scale bug). About
    * `batches` paced batches per lifecycle at any SF keep the
    * multi-batch replay semantics the harnesses exist to exercise while
    * the per-commit budget grows with the data, exactly how production
    * sizes admission control. The `floor` caps at n/4 so a tiny corpus
    * (sf0.001: ~1k records) still paces >= 4 micro-batches.
    */
  private def pacedTrigger(nRecords: Long, floor: Long, batches: Int): Long =
    math.max(math.min(floor, math.max(1L, nRecords / 4)),
      math.ceil(nRecords.toDouble / batches).toLong)

  /** The windowed-counts operator driven from the Kafka-shaped DSv2
    * ledger source instead of the file source: envelope → `from_json`
    * payload decode → the SAME [[Streaming.windowedCounts]] state
    * machine, paced into multiple micro-batches by the source's
    * admission control (maxRecordsPerTrigger). Shares the batch
    * oracle with stream_windowed_counts — passing proves the custom
    * source's offset ranges partition the topic exactly (any lost or
    * doubled slice breaks the counts). Source contracts (checkpoint
    * resume, pacing, index-gated visibility) are spec-pinned in
    * LedgerSpec.
    */
  def streamLedgerCounts(s: SparkSession, dir: String): DataFrame = {
    // trigger size is a CAPACITY knob, not a corpus property —
    // production sizes it to bound per-commit state pressure
    val ev = asEvents(ledgerEvents(s, ledgerTopic(s, dir), trigger = 20000L), "ts_ns")
    runToSink(
      Streaming.windowedCounts(ev.toDF(), "5 minutes", "10 minutes"),
      "stream_ledger_sink", mode = "complete")
      .select(col("w_start").cast("long").as("w_start_s"), col("event_type"),
        col("n"), fp2(col("sum_value")).as("sum_fp"))
      .orderBy("w_start_s", "event_type")
  }

  /** Exactly-once from the OFFSET-BASED source (VERDICT r14 #5): the
    * foreachBatch idempotent-sink pattern driven by the DSv2 ledger
    * instead of a file source, with the same crash simulation — run
    * paced micro-batches to completion, delete the newest commit
    * marker (a crash after the epoch's work but before its commit,
    * the at-least-once window), restart. Recovery re-plans the
    * crashed epoch from its logged (start, end] offset ranges over
    * immutable segments — Kafka's replay contract, the case the
    * pattern exists for — and the idempotent `batch=<id>` overwrite
    * makes the redelivery harmless. The final windowed aggregate is
    * computed BATCH-side over the sink output and shares the
    * stream_windowed_counts oracle: any lost, doubled, or drifted
    * replay slice breaks counts and fp2 sums through the hash gate.
    */
  def streamLedgerExactlyOnce(s: SparkSession, dir: String): DataFrame = {
    val topic = ledgerTopic(s, dir)
    val trigger = pacedTrigger(s.read.parquet(s"$dir/events.parquet").count(),
      floor = 2000L, batches = 10)
    val tmp = streamScratch(s, "stream-leo")
    val out = new java.io.File(tmp, "out").getAbsolutePath
    val chk = new java.io.File(tmp, "chk").getAbsolutePath
    withStreamPartitions(s) {
      crashReplay(chk, minCommits = 3) { _ =>
        ledgerEvents(s, topic, trigger).select(ledgerEventCols: _*)
          .writeStream.option("checkpointLocation", chk)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            batch.write.mode("overwrite").parquet(s"$out/batch=$id")
          }.start()
      }
    }
    s.read.parquet(out).drop("batch")
      .groupBy(expr("((ts_ns div 1000) div 300000000) * 300").as("w_start_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), fp2(sum(col("value"))).as("sum_fp"))
      .orderBy("w_start_s", "event_type")
  }

  /** Streaming INTO the transaction-log table format (VERDICT r16 #1):
    * each ledger micro-batch commits into a [[graft.sources.ManifestTable]]
    * via `appendBatch` — the Delta streaming-sink shape, where
    * exactly-once is a property of the LOG's carried (appId→batchId)
    * txn map rather than of directory overwrite. The batch's rows are
    * keyed by partition·2⁴⁰+offset, the globally unique key the
    * offset-based source gives for free (the producer-side contract a
    * blind append needs — see appendBatch's unique-key caveat).
    *
    * The harness exercises the full production story:
    * 1. stream paced micro-batches to completion, each committed as an
    *    `append` manifest version;
    * 2. crash simulation — delete the newest checkpoint commit marker
    *    (a JVM kill between sink commit and checkpoint commit);
    * 3. restart: Spark replays the crashed batch from its logged
    *    offsets, appendBatch finds its id in the txn map and SKIPS
    *    with zero IO (asserted via the skip counter);
    * 4. CDC gate — `snapshotDiff(0, 1)` replays the first batch as
    *    pure inserts with exactly its row count (the incremental
    *    consumer's read of a stream-fed table);
    * 5. maintenance — `compact` rewrites the accumulated small files
    *    as a commit, and a replayed appendBatch STILL skips after it
    *    (the txn map carries forward through maintenance).
    *
    * The final windowed aggregate over the table's latest snapshot
    * shares the stream_windowed_counts oracle: one lost, doubled, or
    * drifted batch breaks counts and fp2 sums through the hash gate.
    *
    * Scale shape: appendBatch is O(batch) — one write job, one stats
    * job, one manifest link; never a log scan or a table read. The
    * trigger is a capacity knob (sized here to a fixed ~6 micro-batches
    * per run so every SF exercises multi-batch replay; production
    * sizes it to per-commit state pressure and bucket count to batch
    * volume). The periodic compact is exactly the small-files repair a
    * long-lived 100 TB stream table schedules out-of-band.
    */
  def streamManifestSink(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestTable
    val topic = ledgerTopic(s, dir)
    val nEvents = s.read.parquet(s"$dir/events.parquet").count()
    val trigger = pacedTrigger(nEvents, floor = 500L, batches = 6)
    val tmp = streamScratch(s, "stream-msink")
    val table = new java.io.File(tmp, "table").getAbsolutePath
    val chk = new java.io.File(tmp, "chk").getAbsolutePath
    val sinkSchema = StructType(Seq(StructField("ev_key", LongType, nullable = false),
      StructField("user_id", LongType), StructField("ts_ns", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    // v0: empty table, schema logged, keyed on the offset-derived key
    ManifestTable.create(s,
      table, s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        sinkSchema), "ev_key", 1)
    val committed = new java.util.concurrent.atomic.AtomicLong(0)
    val skipped = new java.util.concurrent.atomic.AtomicLong(0)
    withStreamPartitions(s) {
      crashReplay(chk) { _ =>
        ledgerEvents(s, topic, trigger)
          .select((col("partition").cast("long") * lit(1L << 40) + col("offset"))
            .as("ev_key") +: ledgerEventCols: _*)
          .writeStream.option("checkpointLocation", chk)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            if (ManifestTable.appendBatch(s, table, batch, "msink", id, buckets = 1))
              committed.incrementAndGet()
            else skipped.incrementAndGet()
            ()
          }.start()
      }
    }
    require(committed.get >= 3,
      s"expected several paced micro-batch commits, got ${committed.get}")
    require(skipped.get >= 1,
      "replayed batch was not deduped by the manifest txn log")
    // CDC gate: v0→v1 is exactly the first batch, as pure inserts
    val s1 = ManifestTable.readSnapshot(table, 1)
    require(s1.op == "append", s"v1 is '${s1.op}', expected append")
    val batch0Rows = s1.files.map(_.rows).sum
    val d01 = ManifestTable.snapshotDiff(s, table, 0, 1)
      .groupBy(col("_change_type")).count().collect()
    require(d01.length == 1 && d01(0).getString(0) == "insert" &&
      d01(0).getLong(1) == batch0Rows,
      s"CDC read of append v1 drifted: ${d01.mkString(",")} vs $batch0Rows inserts")
    // maintenance: compact the accumulated per-batch small files, then
    // prove a replay STILL skips (txn map carried through the rewrite)
    val lastBatch = ManifestTable.readSnapshot(table,
      ManifestTable.latestVersion(table)).txns("msink")
    ManifestTable.compact(s, table, buckets = 4)
    require(!ManifestTable.appendBatch(s, table,
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        sinkSchema), "msink", lastBatch, 1),
      "replay after compaction was not skipped — txn map lost")
    val total = ManifestTable.snapshot(s, table)
    require(total.count() == nEvents,
      s"manifest sink holds ${total.count()} rows, expected $nEvents")
    total
      .groupBy(expr("((ts_ns div 1000) div 300000000) * 300").as("w_start_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), fp2(sum(col("value"))).as("sum_fp"))
      .orderBy("w_start_s", "event_type")
  }

  /** Streaming CDC-apply via idempotent MERGE (round 18 — Delta's
    * documented foreachBatch-merge pattern, the OTHER streaming sink
    * shape): each ledger micro-batch reduces to one winner row per
    * user (latest ts), then [[graft.sources.ManifestTable.mergeBatch]]
    * applies it as a keyed UPSERT whose update clause carries the
    * out-of-order guard Delta's docs prescribe —
    * `src.ts > target.ts` — so a user's events arriving across
    * partitions/batches in any interleaving converge to the SAME
    * final state (what makes the result batch-slicing-independent and
    * the oracle expressible: per user, the max-ts event). The
    * (appId, batchId) txn rides in the SAME commit as the merge, so
    * the crash-replayed batch SKIPS (gated), exactly-once as a log
    * property. A post-stream stale-batch leg pins the guard end to
    * end: a new batch id carrying ts=0 rows for every user commits as
    * a merge in which NO row fires the update clause (digest
    * unchanged through the hash gate).
    *
    * Scale shape: mergeBatch is O(touched files) per micro-batch —
    * the per-batch winner set joins the file-range list broadcast,
    * and only key-range-hit files rewrite; at 100 TB with a
    * user-keyed layout a batch touching k users rewrites O(k/rows-
    * per-file) files, never the table. The reduce-to-winners step is
    * one partial-aggregatable hash agg per batch.
    */
  def streamManifestMergeSink(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestTable
    val topic = ledgerTopic(s, dir)
    val trigger = pacedTrigger(s.read.parquet(s"$dir/events.parquet").count(),
      floor = 500L, batches = 6)
    val tmp = streamScratch(s, "stream-mmsink")
    val table = new java.io.File(tmp, "table").getAbsolutePath
    val chk = new java.io.File(tmp, "chk").getAbsolutePath
    val sinkSchema = StructType(Seq(StructField("user_id", LongType, nullable = false),
      StructField("ts_ns", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    ManifestTable.create(s, table,
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        sinkSchema), "user_id", 1)
    val committed = new java.util.concurrent.atomic.AtomicLong(0)
    val skipped = new java.util.concurrent.atomic.AtomicLong(0)
    def apply(batch: DataFrame, id: Long): Unit = {
      // one winner row per user in this batch: the latest-ts event
      // ((user_id, ts) is unique — the topic's keyed-producer order)
      val winners = batch.groupBy(col("user_id"))
        .agg(max(struct(col("ts_ns"), col("event_type"), col("value"))).as("_w"))
        .select(col("user_id"), col("_w.ts_ns").as("ts_ns"),
          col("_w.event_type").as("event_type"), col("_w.value").as("value"))
      if (ManifestTable.mergeBatch(s, table, winners, "mmsink", id, buckets = 2,
        matchedUpdate = Some(ManifestTable.srcCol("ts_ns") > col("ts_ns")),
        notMatchedInsert = Some(lit(true))))
        committed.incrementAndGet()
      else skipped.incrementAndGet()
      ()
    }
    withStreamPartitions(s) {
      crashReplay(chk) { _ =>
        ledgerEvents(s, topic, trigger).select(ledgerEventCols: _*)
          .writeStream.option("checkpointLocation", chk)
          .foreachBatch(apply _).start()
      }
      require(committed.get >= 3,
        s"expected several paced micro-batch merges, got ${committed.get}")
      require(skipped.get >= 1,
        "replayed merge batch was not deduped by the manifest txn log")
      val latest = ManifestTable.readSnapshot(table,
        ManifestTable.latestVersion(table))
      require(latest.op == "merge", s"latest op '${latest.op}', expected merge")
      // out-of-order guard, end to end: a stale batch (ts=0 for every
      // user) merges under a NEW batch id — matched everywhere, fires
      // nowhere; the digest below proves zero rows moved
      val users = ManifestTable.snapshot(s, table).select(col("user_id"))
        .filter(col("user_id") % 17 === 0) // a small band — the guard
        // leg must stay O(touched files), not rewrite the table
      val stale = users.select(col("user_id"), lit(0L).as("ts_ns"),
        lit("stale").as("event_type"), lit(-1.0).as("value"))
      require(ManifestTable.mergeBatch(s, table, stale, "mmsink",
        latest.txns("mmsink") + 1, buckets = 2,
        matchedUpdate = Some(ManifestTable.srcCol("ts_ns") > col("ts_ns")),
        notMatchedInsert = Some(lit(true))),
        "stale guard batch must commit (as a no-row-change merge)")
    }
    ManifestTable.snapshot(s, table)
      .select(col("user_id"), col("ts_ns"), col("event_type"),
        fp2(col("value")).as("value_fp"))
      .orderBy("user_id")
  }

  /** Oracle for the merge sink: per user, the latest-ts event — the
    * batch-slicing-independent fixed point the out-of-order guard
    * converges to regardless of interleaving.
    */
  private val streamManifestMergeSinkSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) * 1000 AS ts_ns, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) DESC) AS rn
      |  FROM events
      |)
      |SELECT user_id, ts_ns, event_type,
      |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_fp
      |FROM e WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Streaming READ of the transaction log (round 17, the complement
    * of stream_manifest_sink's write side): `ManifestStreamProvider`
    * tails the manifest as a Structured Streaming source whose
    * offsets ARE versions — the Delta "table as a source" shape. The
    * table is built from orders in six deterministic appendBatch
    * slices (o_orderkey % 6); the tail runs paced at one version per
    * trigger into a parquet file sink, with three lifecycle events
    * exercised mid-stream: (a) two slices commit WHILE the stream
    * runs and arrive incrementally, (b) a `compact` commit rewrites
    * every accumulated file between them and is skipped silently
    * (dataChange=false — an append tail that re-emitted rewritten
    * rows would double-count the whole table), and (c) the stream
    * stops and RESTARTS from its checkpoint with one more slice
    * committed in between — the tail resumes at the logged version,
    * so nothing re-emits. The final aggregate over the sink therefore
    * equals the plain batch aggregate over orders iff every slice
    * arrived exactly once: one lost, doubled, or re-emitted version
    * breaks n/sum_key/sum_cust through the hash gate. Scale: each
    * micro-batch plans a parquet scan over ONLY that version's added
    * files — never a log scan or table scan (ManifestStream.scala).
    */
  def streamManifestSource(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestTable
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
    def slice(r: Int) = orders.filter(col("o_orderkey") % 6 === r)
    val tmp = streamScratch(s, "stream-msrc")
    val table = new java.io.File(tmp, "table").getAbsolutePath
    val chk = new java.io.File(tmp, "chk").getAbsolutePath
    val out = new java.io.File(tmp, "out").getAbsolutePath
    ManifestTable.create(s, table, slice(0), "o_orderkey", 2)
    (1 to 2).foreach(r =>
      ManifestTable.appendBatch(s, table, slice(r), "seed", r.toLong, buckets = 2))
    def start() = s.readStream.format("graft.sources.ManifestStreamProvider")
      .option("maxVersionsPerTrigger", "1").load(table)
      .writeStream.option("checkpointLocation", chk)
      .format("parquet").option("path", out).start()
    withStreamPartitions(s) {
      val q1 = start()
      try {
        q1.processAllAvailable() // v0..v2 drained
        ManifestTable.appendBatch(s, table, slice(3), "seed", 3L, buckets = 2)
        ManifestTable.compact(s, table, buckets = 4) // dataChange=false → skipped
        ManifestTable.appendBatch(s, table, slice(4), "seed", 4L, buckets = 2)
        q1.processAllAvailable() // v3..v5 drained (v4 compact emits nothing)
      } finally q1.stop()
      // restart from checkpoint: the tail resumes at the committed
      // version; re-emitting any earlier slice breaks the oracle counts
      ManifestTable.appendBatch(s, table, slice(5), "seed", 5L, buckets = 2)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
    }
    require(ManifestTable.latestVersion(table) == 6,
      s"expected 7 versions, got ${ManifestTable.latestVersion(table) + 1}")
    // Pacing leg (round 19 — Delta's maxFilesPerTrigger/maxBytesPerTrigger
    // admission): under a 4-file budget the same 7-version log must
    // drain in several right-sized offset steps — more than one (the
    // cap engages) but fewer than seven (multi-version admission
    // engages) — and reach the head exactly. Gated on the source's
    // own offset arithmetic: deterministic, no trigger timing.
    val paced = new graft.sources.ManifestStreamSource(s, table,
      Map("maxFilesPerTrigger" -> "4"))
    var prevOff: Option[org.apache.spark.sql.execution.streaming.Offset] = None
    var prevV = -1L
    var pacedSteps = 0
    var advancing = true
    while (advancing && pacedSteps < 10) {
      val o = paced.getOffset
      val v = o.map(_.json.trim.toLong).getOrElse(-1L)
      if (o.isEmpty || v == prevV) advancing = false
      else {
        require(v > prevV, s"paced offsets must advance monotonically: $prevV -> $v")
        paced.getBatch(prevOff, o.get)
        prevOff = o; prevV = v; pacedSteps += 1
      }
    }
    require(prevV == 6L, s"paced tail must reach the head, stopped at v$prevV")
    require(pacedSteps >= 3 && pacedSteps <= 6,
      s"maxFilesPerTrigger=4 over a 7-version log should take 3..6 admissions, took $pacedSteps")
    val streamed = s.read.schema(
      ManifestTable.schemaOf(ManifestTable.readSnapshot(table, 6)).get)
      .parquet(out)
    streamed.groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("o_custkey")).as("sum_cust"),
        fp2(min(col("o_totalprice"))).as("min_fp"),
        fp2(max(col("o_totalprice"))).as("max_fp"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  private val streamManifestSourceSql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
      |  CAST(FLOOR(MIN(o_totalprice) * 100 + 0.5) AS BIGINT) AS min_fp,
      |  CAST(FLOOR(MAX(o_totalprice) * 100 + 0.5) AS BIGINT) AS max_fp
      |FROM orders
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Change-feed tail of the SAME source (`readChangeFeed=true` —
    * Delta's CDF option): the table takes a create, then a mixed
    * upsert (updates = o_orderkey % 10 = 0 with o_totalprice + 1.0,
    * inserts = o_orderkey % 4 = 3 — disjoint predicates, so each
    * row's change type is deterministic), then a metadata-assisted
    * range delete of [1000, 2999]. The CDC tail replays each version
    * as `snapshotDiff(v-1, v)` rows tagged `_change_type` +
    * `_commit_version` (the create as pure inserts), paced one
    * version per trigger. The aggregate pins per-version change
    * counts, key sums, and the price envelope: a survivors-rewritten
    * row leaking in (copy-on-write rewrites whole files), a missed
    * update, or a delete emitting post-image instead of pre-image
    * (deletes must carry the UPDATED price for % 10 = 0 keys) each
    * breaks a different column. The oracle replays the three commits
    * as plain SQL set arithmetic over orders.
    */
  def streamManifestCdc(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ManifestTable
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
    val tmp = streamScratch(s, "stream-mcdc")
    val table = new java.io.File(tmp, "table").getAbsolutePath
    val chk = new java.io.File(tmp, "chk").getAbsolutePath
    val out = new java.io.File(tmp, "out").getAbsolutePath
    ManifestTable.create(s, table,
      orders.filter(col("o_orderkey") % 4 =!= 3), "o_orderkey", 4)
    val updates = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
    val inserts = orders.filter(col("o_orderkey") % 4 === 3)
    ManifestTable.upsert(s, table, updates.unionByName(inserts), buckets = 2)
    ManifestTable.deleteRange(s, table, 1000L, 2999L)
    withStreamPartitions(s) {
      val q = s.readStream.format("graft.sources.ManifestStreamProvider")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1").load(table)
        .writeStream.option("checkpointLocation", chk)
        .format("parquet").option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    val cdcSchema = StructType(
      ManifestTable.schemaOf(ManifestTable.readSnapshot(table, 2)).get.fields.toSeq :+
        StructField("_change_type", StringType) :+
        StructField("_commit_version", org.apache.spark.sql.types.IntegerType))
    s.read.schema(cdcSchema).parquet(out)
      .groupBy(col("_commit_version").as("commit_v"), col("_change_type").as("change"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("sum_key"),
        fp2(min(col("o_totalprice"))).as("min_fp"),
        fp2(max(col("o_totalprice"))).as("max_fp"))
      .orderBy("commit_v", "change")
  }

  private val streamManifestCdcSql: String =
    """WITH changes AS (
      |  SELECT 0 AS commit_v, 'insert' AS change, o_orderkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 4 <> 3
      |  UNION ALL
      |  SELECT 1, 'insert', o_orderkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 4 = 3
      |  UNION ALL
      |  SELECT 1, 'update', o_orderkey, o_totalprice + 1.0
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT 2, 'delete', o_orderkey,
      |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END
      |  FROM orders WHERE o_orderkey BETWEEN 1000 AND 2999
      |)
      |SELECT commit_v, change, COUNT(*) AS n,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
      |  CAST(FLOOR(MIN(o_totalprice) * 100 + 0.5) AS BIGINT) AS min_fp,
      |  CAST(FLOOR(MAX(o_totalprice) * 100 + 0.5) AS BIGINT) AS max_fp
      |FROM changes
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Gap-based sessionization (4-hour gap) via flatMapGroupsWithState
    * with an event-time timeout. On a bounded stream two session
    * populations emit: (a) every NON-final session of a user — closed
    * in-batch by that user's next event, unconditionally, watermark
    * irrelevant; and (b) the final (open) session iff its timeout
    * (last + gap) fell strictly below the final watermark (max event
    * time - 10 min). The oracle replays both rules separately — the
    * watermark filter applies ONLY to each user's last session (a
    * blanket filter would wrongly drop in-batch closes near the
    * stream's end); the last session of the most recent users
    * correctly stays in state and is NOT emitted, matching production
    * append semantics.
    */
  /** Spark's BUILT-IN session_window aggregation (the declarative
    * sibling of the flatMapGroupsWithState sessionize above) driven
    * over a SIX-slice file stream, so sessions genuinely merge across
    * micro-batch boundaries inside the SessionWindowStateStore.
    * Complete mode: the final result is every per-user gap session of
    * the whole stream — no watermark-emission rule to replay, the
    * oracle is the plain batch island computation. Window semantics:
    * an event at t spans [t, t+gap), adjacent events merge iff
    * overlap, so a session breaks exactly when the µs delta is ≥ gap
    * (the custom sessionize breaks on > gap — both rules pinned by
    * their own oracles). Scale shape: state is one (start, end, agg)
    * tuple per OPEN session per user, partitioned by user hash;
    * production swaps complete for append + watermark and the state
    * store evicts finalized sessions.
    */
  def streamSessionWindow(s: SparkSession, dir: String): DataFrame =
    runToSink(
      slicedEventStream(s, dir, 6).toDF()
        .groupBy(col("user_id"),
          session_window(col("ts"), "4 hours").as("w"))
        .agg(count(lit(1)).cast("int").as("n_events"),
          sum(col("value")).as("sum_value")),
      "stream_sesswin_sink", mode = "complete")
      .select(col("user_id"),
        expr("unix_micros(w.start) div 1000").as("start_ms"),
        expr("(unix_micros(w.end) - 14400000000) div 1000").as("end_ms"),
        col("n_events"), fp2(col("sum_value")).as("sum_fp"))
      .orderBy("user_id", "start_ms")

  private val streamSessionWindowSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS t_us, value FROM events
       |), marked AS (
       |  SELECT user_id, t_us, value,
       |    CASE WHEN LAG(t_us) OVER (PARTITION BY user_id ORDER BY t_us)
       |           IS NULL THEN 1
       |         WHEN t_us - LAG(t_us) OVER (PARTITION BY user_id ORDER BY t_us)
       |           >= 14400000000 THEN 1 ELSE 0 END AS new_s
       |  FROM e
       |), grp AS (
       |  SELECT user_id, t_us, value,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t_us
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM marked
       |)
       |SELECT user_id, MIN(t_us) // 1000 AS start_ms, MAX(t_us) // 1000 AS end_ms,
       |  CAST(COUNT(*) AS INT) AS n_events, ${fpSql("SUM(value)", "100")} AS sum_fp
       |FROM grp GROUP BY user_id, sid
       |ORDER BY 1, 2""".stripMargin

  /** The built-in session_window in APPEND mode with a 10-minute
    * watermark — the 100 TB output mode for op 30t (VERDICT r10 #3):
    * complete mode retains the full result set in the state store
    * forever, append evicts every finalized session and emits it
    * exactly once, so state holds only OPEN sessions. Emission rule
    * pinned empirically on an exact-tie experiment (session end
    * EQUAL to the watermark emits; one µs above does not): a session
    * is evicted iff `w.end <= watermark`, and on this time-ordered
    * slice stream the final no-data micro-batch runs with watermark =
    * global max event time − 10 min, so the oracle filters the batch
    * session islands by `last_ts + gap <= max_ts − 10min`. No session
    * is both emitted and later extended: eviction needs end <= wm,
    * later events arrive at ts >= wm and a window [t', t'+gap) only
    * merges into [s, e) when t' < e. The complete-mode twin
    * (stream_session_window) stays as the all-sessions oracle; this
    * query pins the production emission semantics.
    */
  def streamSessionWindowAppend(s: SparkSession, dir: String): DataFrame =
    runToSink(
      slicedEventStream(s, dir, 6).toDF()
        .withWatermark("ts", "10 minutes")
        .groupBy(col("user_id"),
          session_window(col("ts"), "4 hours").as("w"))
        .agg(count(lit(1)).cast("int").as("n_events"),
          sum(col("value")).as("sum_value")),
      "stream_sesswin_app_sink", mode = "append")
      .select(col("user_id"),
        expr("unix_micros(w.start) div 1000").as("start_ms"),
        expr("(unix_micros(w.end) - 14400000000) div 1000").as("end_ms"),
        col("n_events"), fp2(col("sum_value")).as("sum_fp"))
      .orderBy("user_id", "start_ms")

  private val streamSessionWindowAppendSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS t_us, value FROM events
       |), marked AS (
       |  SELECT user_id, t_us, value,
       |    CASE WHEN LAG(t_us) OVER (PARTITION BY user_id ORDER BY t_us)
       |           IS NULL THEN 1
       |         WHEN t_us - LAG(t_us) OVER (PARTITION BY user_id ORDER BY t_us)
       |           >= 14400000000 THEN 1 ELSE 0 END AS new_s
       |  FROM e
       |), grp AS (
       |  SELECT user_id, t_us, value,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t_us
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM marked
       |), sess AS (
       |  SELECT user_id, MIN(t_us) AS start_us, MAX(t_us) AS end_us,
       |    CAST(COUNT(*) AS INT) AS n_events, SUM(value) AS sum_value
       |  FROM grp GROUP BY user_id, sid
       |)
       |SELECT user_id, start_us // 1000 AS start_ms, end_us // 1000 AS end_ms,
       |  n_events, ${fpSql("sum_value", "100")} AS sum_fp
       |FROM sess
       |WHERE end_us + 14400000000 <= (SELECT MAX(t_us) FROM e) - 600000000
       |ORDER BY 1, 2""".stripMargin

  def streamSessionize(s: SparkSession, dir: String): DataFrame =
    runToSink(
      Streaming.sessionize(eventStream(s, dir), gapMs = 14400000L),
      "stream_sess_sink")
      .select(col("user_id"), col("start_ms"), col("end_ms"),
        col("n_events"), fp2(col("sum_value")).as("sum_fp"))
      .orderBy("user_id", "start_ms")

  private val streamSessionizeSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) // 1000 AS t_ms, value FROM events
       |), marked AS (
       |  SELECT user_id, t_ms, value,
       |    CASE WHEN t_ms - LAG(t_ms) OVER (PARTITION BY user_id ORDER BY t_ms)
       |           > 14400000 THEN 1
       |         WHEN LAG(t_ms) OVER (PARTITION BY user_id ORDER BY t_ms)
       |           IS NULL THEN 1 ELSE 0 END AS new_s
       |  FROM e
       |), grp AS (
       |  SELECT user_id, t_ms, value,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t_ms
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM marked
       |), sess AS (
       |  SELECT user_id, sid, MIN(t_ms) AS start_ms, MAX(t_ms) AS end_ms,
       |    CAST(COUNT(*) AS INT) AS n_events, SUM(value) AS sum_value
       |  FROM grp GROUP BY user_id, sid
       |), fin AS (
       |  SELECT user_id, MAX(sid) AS last_sid FROM sess GROUP BY user_id
       |)
       |SELECT s.user_id, s.start_ms, s.end_ms, s.n_events,
       |  ${fpSql("s.sum_value", "100")} AS sum_fp
       |FROM sess s JOIN fin f ON f.user_id = s.user_id
       |WHERE s.sid < f.last_sid
       |   OR s.end_ms + 14400000 < (SELECT MAX(t_ms) FROM e) - 600000
       |ORDER BY 1, 2""".stripMargin

  /** Streaming STFT (window 16, hop 8): per-user sliding-window rfft
    * stamped with the window-closing event time. A window emits when
    * the buffer fills, so with n samples the starts are 0, 8, 16, ...
    * while start+16 <= n; the oracle replays that rule and computes
    * each window's 9 rfft bins as a direct DFT sum (fp4, the DFT
    * oracles' association-noise-safe scale).
    */
  def streamStft(s: SparkSession, dir: String): DataFrame =
    runToSink(
      Streaming.streamingStft(eventStream(s, dir), w = 16, h = 8, window = "boxcar"),
      "stream_stft_sink")
      .select(col("user_id"), col("window_end_ms"), col("bin"),
        Tables.fp4(col("re")).as("re_fp"), Tables.fp4(col("im")).as("im_fp"))
      .orderBy("user_id", "window_end_ms", "bin")

  private val streamStftSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS t_us, epoch_us(ts) // 1000 AS t_ms,
       |    value
       |  FROM events
       |), s AS (
       |  SELECT user_id, t_ms, value,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t_us, value) - 1 AS rn,
       |    COUNT(*) OVER (PARTITION BY user_id) AS n
       |  FROM e
       |), win AS (
       |  SELECT user_id, rn AS st, t_ms FROM s
       |  WHERE rn % 8 = 0 AND rn + 16 <= n
       |)
       |SELECT w.user_id,
       |  anchor.t_ms AS window_end_ms,
       |  CAST(k.b AS INT) AS bin,
       |  ${fpSql("SUM(x.value * COS(-2*PI()*k.b*(x.rn - w.st)/16))", "1e4")} AS re_fp,
       |  ${fpSql("SUM(x.value * SIN(-2*PI()*k.b*(x.rn - w.st)/16))", "1e4")} AS im_fp
       |FROM win w
       |JOIN s anchor ON anchor.user_id = w.user_id AND anchor.rn = w.st + 15
       |JOIN s x ON x.user_id = w.user_id AND x.rn >= w.st AND x.rn < w.st + 16
       |CROSS JOIN range(9) k(b)
       |GROUP BY w.user_id, anchor.t_ms, k.b
       |ORDER BY 1, 2, 3""".stripMargin

  /** Streaming STFT with the event-time idle TTL LIVE and keys going
    * idle mid-stream: 6-hour timeout, flushOnEvict = true. On the
    * bounded stream the single data batch processes every event and
    * advances the watermark to max(ts) − 10 min; the engine's no-data
    * batch then fires the timeout for every user whose last event +
    * TTL lies strictly below that watermark (per-user idle gaps span
    * 0–59 h, so a 6 h TTL evicts roughly half the keys). Each evicted
    * key's ≤ w−1 buffered samples flush as ONE zero-padded spectrum
    * stamped with the last buffered sample's time. Output = the
    * regular sliding windows (identical to stream_stft) plus the flush
    * rows; the oracle replays both populations, including the leftover
    * length rule l = 8 + (n mod 8) for n ≥ 16. The discard policy
    * (flushOnEvict = false) needs no separate oracle: on a bounded
    * stream it only drops state that would never emit, so its output
    * IS stream_stft's — StreamingSpec pins that equivalence at the
    * operator level.
    *
    * Extra sort keys on the fp columns: when n ≡ 0 (mod 8) the flush
    * window ends at the same (user, end_ms, bin) as the last full
    * window, so the value columns are needed for a total row order.
    */
  def streamStftTtl(s: SparkSession, dir: String): DataFrame =
    runToSink(
      Streaming.streamingStft(eventStream(s, dir), w = 16, h = 8,
        window = "boxcar", idleTimeoutMs = Some(21600000L), flushOnEvict = true),
      "stream_stft_ttl_sink")
      .select(col("user_id"), col("window_end_ms"), col("bin"),
        Tables.fp4(col("re")).as("re_fp"), Tables.fp4(col("im")).as("im_fp"))
      .orderBy("user_id", "window_end_ms", "bin", "re_fp", "im_fp")

  private val streamStftTtlSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS t_us, epoch_us(ts) // 1000 AS t_ms,
       |    value
       |  FROM events
       |), s AS (
       |  SELECT user_id, t_ms, value,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t_us, value) - 1 AS rn,
       |    COUNT(*) OVER (PARTITION BY user_id) AS n
       |  FROM e
       |), win AS (
       |  SELECT user_id, rn AS st, t_ms FROM s
       |  WHERE rn % 8 = 0 AND rn + 16 <= n
       |), m AS (
       |  SELECT MAX(t_ms) AS mx FROM e
       |), ev AS (
       |  -- evicted keys: timeout (last + 6 h) strictly below the final
       |  -- watermark (max - 10 min); leftover buffer length after the
       |  -- emitted windows is 8 + (n mod 8) for n >= 16
       |  SELECT user_id, MAX(t_ms) AS last_ms, COUNT(*) AS n,
       |    CASE WHEN COUNT(*) < 16 THEN COUNT(*)
       |         ELSE 8 + (COUNT(*) % 8) END AS l
       |  FROM e, m GROUP BY user_id, m.mx
       |  HAVING MAX(t_ms) + 21600000 < m.mx - 600000
       |)
       |SELECT * FROM (
       |  SELECT w.user_id,
       |    anchor.t_ms AS window_end_ms,
       |    CAST(k.b AS INT) AS bin,
       |    ${fpSql("SUM(x.value * COS(-2*PI()*k.b*(x.rn - w.st)/16))", "1e4")} AS re_fp,
       |    ${fpSql("SUM(x.value * SIN(-2*PI()*k.b*(x.rn - w.st)/16))", "1e4")} AS im_fp
       |  FROM win w
       |  JOIN s anchor ON anchor.user_id = w.user_id AND anchor.rn = w.st + 15
       |  JOIN s x ON x.user_id = w.user_id AND x.rn >= w.st AND x.rn < w.st + 16
       |  CROSS JOIN range(9) k(b)
       |  GROUP BY w.user_id, anchor.t_ms, k.b
       |  UNION ALL
       |  SELECT u.user_id, u.last_ms AS window_end_ms, CAST(k.b AS INT) AS bin,
       |    ${fpSql("SUM(x.value * COS(-2*PI()*k.b*(x.rn - (u.n - u.l))/16))", "1e4")} AS re_fp,
       |    ${fpSql("SUM(x.value * SIN(-2*PI()*k.b*(x.rn - (u.n - u.l))/16))", "1e4")} AS im_fp
       |  FROM ev u
       |  JOIN s x ON x.user_id = u.user_id AND x.rn >= u.n - u.l
       |  CROSS JOIN range(9) k(b)
       |  GROUP BY u.user_id, u.last_ms, u.n, u.l, k.b
       |)
       |ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** Streaming exact dedup over a documents stream. WHICH duplicate
    * survives dropDuplicatesWithinWatermark is arbitrary (first
    * arrival), so the query emits each survivor's normalized content
    * hash instead of the row — every member of a duplicate bucket
    * shares that hash, so the result SET (one hash per distinct
    * normalized document) is deterministic and oracle-able even
    * though the surviving doc_id is not.
    */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = s.read.parquet(path).schema
    val docsStream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      // documents carry no event time; a constant stamp keeps every
      // row inside one watermark window (bounded-stream replay of the
      // batch semantics — production streams pass their real ts)
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
    runToSink(
      graft.streaming.Streaming.streamingDedup(docsStream, "ts", "text"),
      "stream_dedup_sink")
      .select(md5(encode(graft.operators.TextOps.normalize(col("text")), "UTF-8"))
        .as("content_hash"))
      .orderBy("content_hash")
  }

  private val streamDedupSql: String =
    """SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |  AS content_hash
      |FROM documents ORDER BY 1""".stripMargin

  /** Stream-static enrichment: the production lookup-join pattern — a
    * fact stream joined to a broadcast dimension table (customer) with
    * no state store (stream-static joins are stateless per micro-batch
    * in Structured Streaming; the dimension broadcasts to every
    * executor once per batch). The oracle is the plain batch join.
    */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val ev = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .select(col("user_id"), col("event_id"), col("value"))
    val cust = broadcast(Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal")))
    runToSink(ev.join(cust, ev("user_id") === cust("c_custkey")),
      "stream_enrich_sink")
      .select(col("user_id"), col("event_id"), col("c_nationkey"),
        fp6(col("value")).as("value_fp"), fp2(col("c_acctbal")).as("bal_fp"))
      .orderBy("user_id", "event_id")
  }

  private val streamEnrichSql: String =
    s"""SELECT e.user_id, e.event_id, c.c_nationkey,
       |  ${fpSql("e.value", "1e6")} AS value_fp,
       |  ${fpSql("c.c_acctbal", "100")} AS bal_fp
       |FROM events e JOIN customer c ON c.c_custkey = e.user_id
       |ORDER BY 1, 2""".stripMargin

  /** Stream-stream interval join (click → purchase within 2 h per
    * user) over TWO independent 12-slice file sources advancing in
    * lockstep (maxFilesPerTrigger = 1 each), so matches genuinely
    * span micro-batch boundaries and ride the join state store. The
    * slices are globally time-ordered, hence no late data, hence the
    * engine's watermark-correctness guarantee makes the emitted
    * inner-join set EXACTLY the batch interval join — which is the
    * oracle. The range condition is evaluated at the stream's native
    * µs precision; the oracle replays it on epoch_us.
    */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val clicks = slicedEventStream(s, dir, 12).toDF()
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("value").as("c_value"))
    val purchases = slicedEventStream(s, dir, 12).toDF()
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    runToSink(
      Streaming.streamStreamIntervalJoin(clicks, purchases,
        "user_id", "c_ts", "p_user", "p_ts", maxDelayMs = 7200000L),
      "stream_join_sink")
      .select(col("user_id"),
        unix_micros(col("c_ts")).as("c_us"),
        unix_micros(col("p_ts")).as("p_us"),
        fp6(col("c_value")).as("c_fp"), fp6(col("p_value")).as("p_fp"))
      .orderBy("user_id", "c_us", "p_us", "c_fp", "p_fp")
  }

  private val streamStreamJoinSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS t_us, value FROM events
       |)
       |SELECT c.user_id, c.t_us AS c_us, p.t_us AS p_us,
       |  ${fpSql("c.value", "1e6")} AS c_fp, ${fpSql("p.value", "1e6")} AS p_fp
       |FROM e c JOIN e p ON p.user_id = c.user_id
       |  AND c.event_type = 'click' AND p.event_type = 'purchase'
       |  AND p.t_us >= c.t_us AND p.t_us <= c.t_us + 7200000000
       |ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** LEFT-OUTER stream-stream interval join: same two-source sliced
    * setup as [[streamStreamJoin]], but unmatched clicks ALSO emit
    * (with null purchase columns) — and only once the watermark
    * proves no matching purchase can still arrive (the state-eviction
    * pass removes a left row when c_ts ≤ wm − 2 h, emitting its null
    * row; the final no-data batch runs it at the final watermark).
    * The watermark here is SUBTLER than the other streaming oracles':
    * each side's watermark node sits AFTER the event-type filter, so
    * it tracks only that side's events, and the query watermark is
    * the MIN across sides (multipleWatermarkPolicy=min) — i.e.
    * min(max click ts, max purchase ts) − 10 min, at the engine's ms
    * granularity. Clicks above the final eviction threshold stay in
    * state unsaid — the oracle replays exactly that population
    * split, like the sessionize last-session rule (verified against
    * the engine's actual final state via the statestore reader).
    */
  def streamStreamJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val clicks = slicedEventStream(s, dir, 12).toDF()
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("value").as("c_value"))
    val purchases = slicedEventStream(s, dir, 12).toDF()
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    runToSink(
      Streaming.streamStreamIntervalJoin(clicks, purchases,
        "user_id", "c_ts", "p_user", "p_ts", maxDelayMs = 7200000L,
        joinType = "left_outer"),
      "stream_join_outer_sink")
      .select(col("user_id"),
        unix_micros(col("c_ts")).as("c_us"),
        unix_micros(col("p_ts")).as("p_us"),
        fp6(col("c_value")).as("c_fp"), fp6(col("p_value")).as("p_fp"))
      .orderBy("user_id", "c_us", "p_us", "c_fp", "p_fp")
  }

  private val streamStreamJoinOuterSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS t_us, value FROM events
       |), j AS (
       |  SELECT c.user_id, c.t_us AS c_us, p.t_us AS p_us,
       |    c.value AS c_value, p.value AS p_value
       |  FROM e c LEFT JOIN e p ON p.user_id = c.user_id
       |    AND p.event_type = 'purchase'
       |    AND p.t_us >= c.t_us AND p.t_us <= c.t_us + 7200000000
       |  WHERE c.event_type = 'click'
       |), m AS (
       |  -- the engine's global watermark: each side's watermark node
       |  -- sits AFTER the event-type filter, so it tracks that side's
       |  -- own max event time (ms granularity) and the query watermark
       |  -- is the MIN across sides, minus the 10-min lateness bound
       |  SELECT LEAST(
       |    (SELECT MAX(t_us) // 1000 FROM e WHERE event_type = 'click'),
       |    (SELECT MAX(t_us) // 1000 FROM e WHERE event_type = 'purchase'))
       |    - 600000 AS wm_ms
       |)
       |SELECT user_id, c_us, p_us,
       |  ${fpSql("c_value", "1e6")} AS c_fp, ${fpSql("p_value", "1e6")} AS p_fp
       |FROM j, m
       |WHERE p_us IS NOT NULL
       |   OR c_us <= (m.wm_ms - 7200000) * 1000
       |ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** Online quality filtering: the SAME stateless gopherRules operator
    * the batch pipeline uses, applied to a document stream — no state
    * store, so the streaming result must be row-identical to the batch
    * rules; what this pins is that the filter column expressions are
    * streaming-safe (no window/agg sneaking in). The oracle is the
    * batch rule replay restricted to the same columns.
    */
  def streamQuality(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = s.read.parquet(path).schema
    val docsStream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    runToSink(
      graft.operators.TextOps.gopherRules(docsStream.toDF(), "text")
        .select(col("doc_id"), col("n_words"), col("n_stop"),
          col("r_words"), col("r_stop"), col("keep")),
      "stream_quality_sink")
      .orderBy("doc_id")
  }

  private val streamQualitySql: String =
    """WITH w AS (
      |  SELECT doc_id, text, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws FROM documents
      |), f AS (
      |  SELECT doc_id,
      |    len(ws) AS n_words,
      |    CASE WHEN len(ws) > 0
      |      THEN CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws)
      |      ELSE 0.0 END AS mwl,
      |    CASE WHEN len(ws) > 0
      |      THEN CAST((length(text) - length(replace(text, '#', ''))) +
      |                (length(text) - length(replace(text, '...', ''))) // 3 AS DOUBLE) / len(ws)
      |      ELSE 0.0 END AS sym,
      |    CASE WHEN len(ws) > 0
      |      THEN CAST(len(list_filter(ws, x -> regexp_matches(x, '\p{L}'))) AS DOUBLE) / len(ws)
      |      ELSE 0.0 END AS af,
      |    len(list_filter(ws, x -> x IN ('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'))) AS n_stop
      |  FROM w
      |)
      |SELECT doc_id, CAST(n_words AS INT) AS n_words, CAST(n_stop AS INT) AS n_stop,
      |  (n_words >= 50 AND n_words <= 100000) AS r_words,
      |  (n_stop >= 2) AS r_stop,
      |  (n_words >= 50 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
      |   AND sym <= 0.1 AND af >= 0.8 AND n_stop >= 2) AS keep
      |FROM f ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_sosfilt" -> (streamSosfilt _),
    "stream_exactly_once" -> (streamExactlyOnce _),
    "stream_sosfilt_ttl" -> (streamSosfiltTtl _),
    "stream_anomaly" -> (streamAnomaly _),
    "stream_approx_users" -> (streamApproxUsers _),
    "stream_windowed_counts" -> (streamWindowedCounts _),
    "stream_ledger_counts" -> (streamLedgerCounts _),
    "stream_ledger_exactly_once" -> (streamLedgerExactlyOnce _),
    "stream_manifest_sink" -> (streamManifestSink _),
    "stream_manifest_merge_sink" -> (streamManifestMergeSink _),
    "stream_manifest_source" -> (streamManifestSource _),
    "stream_manifest_cdc" -> (streamManifestCdc _),
    "stream_sessionize" -> (streamSessionize _),
    "stream_session_window" -> (streamSessionWindow _),
    "stream_session_window_append" -> (streamSessionWindowAppend _),
    "stream_stft" -> (streamStft _),
    "stream_stft_ttl" -> (streamStftTtl _),
    "stream_dedup" -> (streamDedup _),
    "stream_quality" -> (streamQuality _),
    "stream_enrich" -> (streamEnrich _),
    "stream_join" -> (streamStreamJoin _),
    "stream_join_outer" -> (streamStreamJoinOuter _))

  /** stream_sosfilt replays the batch sosfilt semantics, so its oracle
    * IS the batch oracle. */
  val oracleSql: Map[String, String] = Map(
    "stream_sosfilt" -> Sig.sigSosfiltSql,
    "stream_exactly_once" -> Sig.sigSosfiltSql,
    "stream_sosfilt_ttl" -> streamSosfiltTtlSql,
    "stream_anomaly" -> streamAnomalySql,
    "stream_approx_users" -> streamApproxUsersSql,
    "stream_windowed_counts" -> streamWindowedCountsSql,
    "stream_ledger_counts" -> streamWindowedCountsSql,
    "stream_ledger_exactly_once" -> streamWindowedCountsSql,
    "stream_manifest_sink" -> streamWindowedCountsSql,
    "stream_manifest_merge_sink" -> streamManifestMergeSinkSql,
    "stream_manifest_source" -> streamManifestSourceSql,
    "stream_manifest_cdc" -> streamManifestCdcSql,
    "stream_sessionize" -> streamSessionizeSql,
    "stream_session_window" -> streamSessionWindowSql,
    "stream_session_window_append" -> streamSessionWindowAppendSql,
    "stream_stft" -> streamStftSql,
    "stream_stft_ttl" -> streamStftTtlSql,
    "stream_dedup" -> streamDedupSql,
    "stream_quality" -> streamQualitySql,
    "stream_enrich" -> streamEnrichSql,
    "stream_join" -> streamStreamJoinSql,
    "stream_join_outer" -> streamStreamJoinOuterSql)
}
