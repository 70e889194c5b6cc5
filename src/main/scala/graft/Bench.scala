package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Cal-normalized slowdown ratio (VERDICT r19 #4): compares
    * hardware-speed-adjusted times, (t/cal) / (min/calMin), so a host
    * running uniformly 2× slower than the era that set the standing
    * MIN can neither manufacture a drift finding (every row 2× raw)
    * nor mask one (a real 2× regression still reads 2× after both
    * sides normalize). Falls back to the raw ratio when either cal is
    * unknown (≤ 0 — legacy MIN rows carry no cal).
    */
  private[graft] def normRatio(t: Double, cal: Double,
                               min: Double, calMin: Double): Double =
    if (cal > 0 && calMin > 0) (t / cal) / (min / calMin) else t / min

  /** This process's consumed CPU (utime+stime) in clock ticks, from
    * /proc/self/stat. -1 when unreadable (non-Linux) — callers then
    * fall back to the raw loadavg.
    */
  private[graft] def ownCpuTicks(): Long = try {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")),
      java.nio.charset.StandardCharsets.US_ASCII)
    // comm (field 2) may contain spaces — parse after the LAST ')';
    // the next token is field 3, so utime/stime (fields 14/15) sit at
    // offsets 11/12
    val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
    rest(11).toLong + rest(12).toLong
  } catch { case _: Throwable => -1L }

  /** External load = loadavg minus this process's own CPU share over
    * the sampled window (floored at the 60 s loadavg horizon — CPU
    * burned before that barely weighs in the EWMA). Pure, so the flag
    * logic is unit-testable with no sleeps: it cannot self-trigger
    * (own work subtracts out) and cannot self-suppress a real
    * external spike (nothing waits for decay). Degrades to the raw
    * loadavg when tick sampling is unavailable.
    */
  private[graft] def externalLoad(loadavg: Double, dTicks: Long,
                                  windowSec: Double, clkTck: Double): Double =
    if (dTicks < 0 || windowSec <= 0 || clkTck <= 0) loadavg
    else math.max(0.0, loadavg - dTicks / clkTck / math.max(windowSec, 60.0))

  /** Fixed single-thread ALU probe (a few hundred ms on an unloaded
    * host): hash-mix loop, no memory traffic, no JIT variance after
    * the first call. Host throttling or noisy-neighbor contention
    * inflates this number roughly proportionally to how it inflates
    * CPU-bound query times, so the bench line carries a
    * hardware-speed anchor: r18's uniform shared-row "drift"
    * (VERDICT r18 #2) reproduced on untouched control queries at the
    * same factor — environmental — and this makes that diagnosis one
    * division instead of a cross-round argument.
    */
  private[graft] def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
      x ^= x >>> 29; i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("calibrate: improbable fixpoint")
    dt
  }

  /** Parallel-cal probe (VERDICT r20 "Next" #2): the SAME hash-mix
    * loop run on `n` threads at once, reporting the max wall across
    * threads. A co-tenant loading OTHER cores inflates this while the
    * 1-thread [[calibrate]] stays flat — exactly the host effect the
    * r20 sig_fft 2× adjudication could not see. Ships in the bench
    * JSON as cal_par_start/cal_par_end.
    */
  private[graft] def calibratePar(n: Int): Double = {
    val walls = new java.util.concurrent.atomic.AtomicLong(0L) // max, in ns
    val ts = (0 until n).map { _ =>
      new Thread(() => {
        val t0 = System.nanoTime()
        var x = 0x9E3779B97F4A7C15L
        var i = 0
        while (i < 200000000) {
          x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
          x ^= x >>> 29; i += 1
        }
        if (x == 42L) System.err.println("calibratePar: improbable fixpoint")
        val dt = System.nanoTime() - t0
        var cur = walls.get()
        while (dt > cur && !walls.compareAndSet(cur, dt)) cur = walls.get()
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    walls.get() / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession()
    val cpus = spark.sparkContext.defaultParallelism
    // Warm up the session once (Hadoop FS init, codegen compiler,
    // broadcast pools) so the alphabetically-first query doesn't absorb
    // several seconds of one-time JVM/session startup cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq("documents", "embeddings", "events", "lineitem").foreach { t =>
      Tables.load(spark, s"$sfDir", t).count()
    }
    calibrate() // JIT warm-up; the measured runs follow
    val calStart = calibrate()
    val calParStart = calibratePar(cpus)
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // EXTERNAL load = loadavg minus this JVM's own CPU share over the
    // trailing ~minute (VERDICT r17 #6: the r17 settle-loop could
    // absorb a real external spike that ended within its 80 s window —
    // it biased the flag toward false; the subtraction can neither
    // self-trigger NOR self-suppress, and needs no sleeps at the end).
    val clkTck: Double = try {
      val p = new ProcessBuilder("getconf", "CLK_TCK").start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      p.waitFor()
      out.toDouble
    } catch { case _: Throwable => 100.0 } // Linux USER_HZ default
    val cpuSamples =
      scala.collection.mutable.ArrayBuffer[(Long, Long)](
        (System.nanoTime(), Bench.ownCpuTicks()))
    def sampleCpu(): Unit =
      cpuSamples += ((System.nanoTime(), Bench.ownCpuTicks()))
    def externalLoadNow(): Double = {
      val now = System.nanoTime()
      val ticks = Bench.ownCpuTicks()
      val target = now - 60L * 1000000000L // the loadavg window
      val (t0, k0) = cpuSamples.minBy(s => math.abs(s._1 - target))
      Bench.externalLoad(loadAvg,
        if (ticks < 0 || k0 < 0) -1L else ticks - k0,
        (now - t0) / 1e9, clkTck)
    }
    // Self-adjudicating start (VERDICT r10): a run that STARTS on a
    // loaded host prices phantom regressions into the artifact of
    // record (BENCH_r10 showed 10 queries 2-7x over that a clean twin
    // re-priced at 0.92-1.61x). Wait — bounded — for the EXTERNAL
    // 1-minute load to drop under the same 2.5 threshold the
    // third-run rule uses; if it never does, the JSON says
    // "contended": true so the numbers can't be read as a regression.
    val loadStart = {
      var l = externalLoadNow()
      var waited = 0
      while (l > 2.5 && waited < 6) {
        System.err.println(f"[bench] host contended (external load $l%.2f), waiting 20s...")
        Thread.sleep(20000)
        waited += 1
        sampleCpu()
        l = externalLoadNow()
      }
      l
    }
    val contended = loadStart > 2.5
    // A failed query is reported as negative elapsed time so failures
    // are visible in the bench JSON (ADVICE r1), and flagged in "failed".
    // Evaluation is a noop-sink write, NOT count(): under count(1)
    // Catalyst prunes the feature/fp projection columns and eliminates
    // the final sort, so map-side queries would time little more than
    // the parquet scan. The noop sink materializes every output column
    // (what a real pipeline pays) and discards rows executor-side.
    //
    // Each query runs TWICE and reports the min: a one-shot cold run is
    // contention-fragile — a busy host inflates arbitrary queries 5-10x
    // (BENCH_r05 showed 7-12x on queries that re-measure at parity), and
    // min-of-2 restores a trustworthy round-over-round signal. The
    // loadavg markers date-stamp any residual contention.
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      if (ok) dt else -dt
    }
    // Contention self-defense (VERDICT r7): a loaded host at start gets
    // a THIRD run per query, and the per-run times ship in the artifact
    // ("runs_detail") so a reviewer can read the spread off the JSON
    // instead of burning a re-run to disprove phantom regressions.
    val nRuns = if (contended) 3 else 2
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // every run is attempted even when an earlier one failed: a
      // transient first-run failure is the mirror image of the run-2
      // contention noise min-of-N absorbs (ADVICE r7) — the query only
      // reports failed when ALL runs fail
      val runs = (0 until nRuns).map(_ => once(name, fn))
      val oks = runs.filter(_ >= 0)
      val best = if (oks.nonEmpty) oks.min else runs.max // all failed: least-negative
      // Per-query cache isolation (round 14): when queries' caches
      // lived for the session, across 206 alphabetical queries the
      // accumulated cache blocks squeezed the 8 GiB bench heap —
      // BENCH_r13 showed sort/window-heavy queries late in the
      // alphabet at 5-20x their solo wall (q5_interval 8.0 s vs 0.9 s
      // solo) from GC/eviction pressure. Every cache is now freed by
      // its graft.CacheUtil scope; clearing AFTER a query's runs still
      // prices every query against a clean store, like the solo
      // BenchOne runs BASELINE.md anchors.
      spark.catalog.clearCache()
      sampleCpu() // trailing own-CPU record for the external-load math
      (name, best, runs)
    }
    // Auto-re-run defense (VERDICT r14 #1): the r14 artifact of record
    // was poisoned by MID-run host load (load 2.19->3.08, under the
    // start gate) — 12 queries priced >2x vs the standing MINs yet all
    // re-measured <=1.6x in the same round's earlier clean pass.
    // Min-of-2 can't absorb contention spanning both runs of a query,
    // so before the artifact is written, any query pricing over 2x its
    // standing MIN (BASELINE_MINS.json — per-query min over every
    // clean run plus the BASELINE.md tables) is re-run solo: wait for
    // load to settle, then two more runs, min over all four. Genuine
    // regressions survive the re-run; contention phantoms don't.
    // Entries are either a bare number (legacy: seconds, no cal era)
    // or {"min": seconds, "cal": calibrate-seconds-of-that-era}
    // (round 20, VERDICT r19 #4) — the 2x criterion then compares
    // cal-NORMALIZED ratios via [[normRatio]], so host speed divides
    // out instead of living in adjudication prose.
    val standingMins: Map[String, (Double, Double)] = {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BASELINE_MINS", "/root/repo/BASELINE_MINS.json"))
      if (java.nio.file.Files.exists(p)) {
        // real JSON parse (jackson rides in with Spark), not a regex
        // over the file — a regex would ingest any future numeric
        // metadata field as a query floor (ADVICE r15/r16).
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(p))
        require(root.isObject, s"$p: expected a flat JSON object")
        val it = root.fields()
        val b = Map.newBuilder[String, (Double, Double)]
        while (it.hasNext) {
          val e = it.next()
          val v = e.getValue
          if (v.isNumber) b += e.getKey -> (v.asDouble(), -1.0)
          else {
            require(v.isObject && v.has("min") && v.get("min").isNumber,
              s"$p: entry '${e.getKey}' must be a number or {min, cal}: $v")
            b += e.getKey -> (v.get("min").asDouble(),
              if (v.has("cal") && v.get("cal").isNumber) v.get("cal").asDouble() else -1.0)
          }
        }
        b.result()
      } else Map.empty
    }
    val rerun = results.map { case (name, best, runs) =>
      val floor = standingMins.get(name)
      if (best > 0 && floor.exists { case (f, fc) =>
            normRatio(best, calStart, f, fc) > 2.0 }) {
        var waited = 0
        while (externalLoadNow() > 2.5 && waited < 6) {
          Thread.sleep(20000); sampleCpu(); waited += 1
        }
        System.err.println(f"[bench] $name ${best}%.2fs > 2x standing " +
          f"${floor.get._1}%.2fs (cal-normalized) — solo re-run")
        val extra = (0 until 2).map(_ => once(name, fn = SparkEntry.queries(name)))
        spark.catalog.clearCache()
        val all = runs ++ extra
        val oks = all.filter(_ >= 0)
        (name, if (oks.nonEmpty) oks.min else all.max, all)
      } else (name, best, runs)
    }
    val results2 = rerun
    // The end-point load must measure EXTERNAL contention, not the
    // bench's own tail: the raw 1-minute loadavg read the instant the
    // last (streaming-heavy) query finishes is dominated by our own
    // just-quiesced executors and self-flagged every run (seen twice
    // at r17). Subtracting our own trailing-minute CPU share measures
    // the genuinely external component directly — no settle sleeps,
    // and a real external spike can't be absorbed by waiting it out.
    val loadEnd = externalLoadNow()
    // contended keys on BOTH endpoints (VERDICT r14 #1): a run that
    // starts idle and ends loaded is just as untrustworthy as one that
    // starts loaded.
    val contendedAny = contended || loadEnd > 2.5
    // Locale.ROOT: the f interpolator is locale-sensitive — a JVM
    // default locale with comma decimal separators would make both the
    // stdout line and BENCH_DETAIL.json invalid JSON (ADVICE r10).
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results2.map { case (k, v, _) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val failed = results2.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val detail = results2.map { case (k, _, rs) =>
      "\"" + k + "\":[" + rs.map(r3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val rerunNames = results2.collect { case (k, _, rs) if rs.size > nRuns => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results2.map { case (_, v, _) => math.abs(v) }.sum
    // Full per-query JSON → a repo file: the line the driver captures is
    // only the LAST ~2000 chars of stdout (ADVICE r9 — "parsed": null
    // every round once the query map outgrew the tail window), so the
    // stdout line must stay compact. It carries per-FAMILY totals plus a
    // pointer to the full detail file the judge can read directly.
    val calEnd = calibrate()
    val calParEnd = calibratePar(cpus)
    val fullJson = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"failed":$failed,"runs":$nRuns,"reruns":$rerunNames,"runs_detail":$detail,"contended":$contendedAny,"load_start":$loadStart,"load_end":$loadEnd,"cal_start":${r3(calStart)},"cal_end":${r3(calEnd)},"cal_par_start":${r3(calParStart)},"cal_par_end":${r3(calParEnd)},"sf":"$sfDir"}"""
    // core count stamped into the default detail filename (VERDICT r21
    // #7: the driver's 8-core run overwrote the 32-core detail — runs
    // at different SPARK_GRAFT_CPUS must not clobber each other). An
    // explicit SPARK_GRAFT_BENCH_DETAIL still wins unchanged.
    val detailFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      s"/root/repo/BENCH_DETAIL_c$cpus.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(detailFile), fullJson + "\n")
    def family(name: String): String =
      if (name.startsWith("q")) "rel" else name.takeWhile(_ != '_')
    val fams = results2.groupBy { case (k, _, _) => family(k) }.toSeq.sortBy(_._1)
      .map { case (f, rs) => "\"" + f + "\":" + r3(rs.map(t => math.abs(t._2)).sum) }
      .mkString("{", ",", "}")
    // one headline query per operator family keeps the stdout "queries"
    // map inside the tail window; everything else lives in detail_file
    val headline = Seq("q1_agg", "q3_window", "q4_asof", "q5_interval",
      "sig_fft", "sig_convolve_full", "sig_fftconvolve", "sig_sosfilt",
      "sig_resample", "sig_stft", "dedup_exact", "dedup_minhash_lsh",
      "dedup_clusters", "ann_topk_bruteforce", "ann_topk_ivf_trained",
      "text_tokens", "text_quality", "text_pack", "text_bpe_encode",
      "text_shards", "mm_image_features", "stream_windowed_counts",
      "stream_sessionize", "stream_dedup").toSet
    val head = results2.collect { case (k, v, _) if headline(k) =>
      "\"" + k + "\":" + r3(v)
    }.mkString("{", ",", "}")
    // The stdout line must fit the driver's ~2000-char tail window.
    // The rerun NAME list is unbounded (a noisy host can rerun half
    // the suite — the x10 refresh rerun 150 rows, a 3.7 KB line):
    // stdout carries only the COUNT; names stay in detail_file.
    val rerunCount = results2.count { case (_, _, rs) => rs.size > nRuns }
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results2.size},"queries":$head,"families":$fams,"failed":$failed,"runs":$nRuns,"n_reruns":$rerunCount,"detail_file":"$detailFile","contended":$contendedAny,"load_start":$loadStart,"load_end":$loadEnd,"cal_start":${r3(calStart)},"cal_end":${r3(calEnd)},"cal_par_start":${r3(calParStart)},"cal_par_end":${r3(calParEnd)},"sf":"$sfDir"}"""
    // Teardown BEFORE the metric line, then halt: the RocksDB
    // StateStore maintenance thread otherwise logs a post-shutdown
    // "SparkEnv not active" ERROR AFTER the JSON, so the driver's
    // stdout-tail parse saw garbage and BENCH_r18 recorded
    // "parsed": null (VERDICT r18 #3/#7). Order: stop any straggler
    // streaming queries, stop the StateStore maintenance task, stop
    // the session, print the line LAST, then halt(0) so no shutdown
    // hook can append to stdout after it.
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
    println(line)
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
