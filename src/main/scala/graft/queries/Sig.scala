package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load, fp, fp2, fp4, fp6, fpSql}
import graft.dsp.Design
import graft.operators.Signal

/** Signal-operator anchor queries over the events table (SURVEY.md
  * §2.1), one per reference op, with DuckDB oracles where the op is
  * SQL-expressible (naive DFT; O(n²) per series is fine at the oracle
  * SF) and rows-only + golden/e2e ScalaTest coverage for the recursive
  * filters (SURVEY.md §5 rule 3).
  *
  * Series = per-user event values ordered by time; coords are epoch
  * seconds (`ts`/1e9). Both engines order ties by (t, value) — (user,
  * ts) is unique in TESTDATA, so ordering is deterministic. The
  * "64-frame" restricts to users with ≥64 events, first 64 samples,
  * coord = sample index — an equispaced frame for ops whose semantics
  * need a known even length.
  */
object Sig {

  private def installed(s: SparkSession): SparkSession = {
    graft.functions.Functions.install(s); s
  }

  /** events as long frame: user_id, t (epoch seconds, double), value.
    * t is truncated to microseconds first: DuckDB reads the parquet
    * TIMESTAMP(NANOS) as µs-precision TIMESTAMP, so the oracle can
    * only see epoch_us — `ts div 1000` reproduces it exactly.
    */
  private def evReal(s: SparkSession, dir: String): DataFrame =
    load(installed(s), dir, "events")
      .select(col("user_id"),
        (expr("ts div 1000").cast("double") / lit(1e6)).as("t"),
        col("value"))

  /** SQL twin of [[evReal]] + (j, n) indexing per user. */
  private val sSql: String =
    """WITH raw AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE)/1e6 AS t, value FROM events
      |), s AS (
      |  SELECT user_id,
      |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, value) - 1 AS j,
      |         COUNT(*) OVER (PARTITION BY user_id) AS n,
      |         t, value
      |  FROM raw
      |)""".stripMargin

  /** 64-frame: users with >=64 events, first 64 samples, coord = index. */
  private def ev64(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("t", "value")
    evReal(s, dir)
      .withColumn("j", row_number().over(w) - 1)
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("cnt") >= 64 && col("j") < 64)
      .select(col("user_id"), col("j").cast("double").as("t"), col("value"))
  }

  private val s64Sql: String =
    """WITH raw AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE)/1e6 AS t, value FROM raw0
      |), b AS (
      |  SELECT user_id,
      |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, value) - 1 AS j,
      |         COUNT(*) OVER (PARTITION BY user_id) AS cnt,
      |         value
      |  FROM raw
      |), s AS (
      |  SELECT user_id, j, CAST(j AS DOUBLE) AS t, value FROM b
      |  WHERE cnt >= 64 AND j < 64
      |)""".stripMargin.replace("FROM raw0", "FROM events")

  // ------------------------------------------------------------------
  // FFT family
  // ------------------------------------------------------------------

  /** rfft per user on real-time coords; freq = rfftfreq(n, delta/n). */
  def sigRfft(s: SparkSession, dir: String): DataFrame =
    Signal.rfft(evReal(s, dir), Seq("user_id"), "t", "value", newdim = "freq")
      .select(col("user_id"), col("pos"),
        fp(col("freq"), 1e9).as("freq_fp"),
        fp4(col("re")).as("re_fp"), fp4(col("im")).as("im_fp"))
      .orderBy("user_id", "pos")

  private val sigRfftSql: String =
    s"""$sSql, d AS (
       |  SELECT user_id, CASE WHEN COUNT(*) > 1 THEN (MAX(t) - MIN(t))/(COUNT(*) - 1) ELSE 1.0 END AS delta, COUNT(*) AS n
       |  FROM s GROUP BY 1
       |)
       |SELECT a.user_id, CAST(a.j AS INT) AS pos,
       |  ${fpSql("a.j * (1.0/(d.n * (d.delta/d.n)))", "1e9")} AS freq_fp,
       |  ${fpSql("SUM(b.value * COS(-2*PI()*a.j*b.j/a.n))", "1e4")} AS re_fp,
       |  ${fpSql("SUM(b.value * SIN(-2*PI()*a.j*b.j/a.n))", "1e4")} AS im_fp
       |FROM s a JOIN s b ON a.user_id = b.user_id JOIN d ON d.user_id = a.user_id
       |WHERE a.j <= a.n // 2
       |GROUP BY a.user_id, a.j, a.n, d.n, d.delta
       |ORDER BY 1, 2""".stripMargin

  /** rfft over the PRE-GROUPED series layout — the telemetry-at-rest
    * fast path (SURVEY §4): one row per series with sorted coord/value
    * arrays, read straight from parquet and entered via
    * [[Signal.fromGrouped]], so the signal op pays ZERO hash exchanges
    * (SignalSpec pins the plan; this query is the bench evidence). The
    * grouped variant is materialized once per sf under /tmp (checked
    * via the _SUCCESS marker) by the same seriesify the long-frame
    * path uses, so the output — and therefore the oracle — is
    * identical to sig_rfft.
    */
  def sigRfftPregrouped(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.fixtureDir("graft_grouped", dir, "events")
    val path = s"$base/events_series"
    // atomic scratch-dir build: concurrent bench/verify JVMs can race
    // here, and Spark's own _SUCCESS can't be trusted across a
    // concurrent overwrite (ADVICE r8)
    graft.Tables.materializeOnce(new java.io.File(path), "_SUCCESS") { scratch =>
      Signal.seriesify(evReal(s, dir), Seq("user_id"), "t", Seq("value"))
        .select(col("user_id"), col("coords"), col("value"))
        .write.mode("overwrite").parquet(scratch.getAbsolutePath)
    }
    Signal.rfft(Signal.fromGrouped(s.read.parquet(path), "coords"),
        Seq("user_id"), "t", "value", newdim = "freq")
      .select(col("user_id"), col("pos"),
        fp(col("freq"), 1e9).as("freq_fp"),
        fp4(col("re")).as("re_fp"), fp4(col("im")).as("im_fp"))
      .orderBy("user_id", "pos")
  }

  /** rfft with norm="ortho" end-to-end — the DFT sum scaled by 1/√n
    * (reference signal.py:168,184 exposes the norm parameter; the
    * kernels implement all three norms but every other oracle runs
    * backward, leaving ortho kernel-tested only). Runs on the 64-frame
    * so √n = 8 exactly, encoded at scale 800: v×800 = (DFT sum)×100,
    * which is exactly integral at the DC/Nyquist bins whose sums are
    * exact 2-decimals — on real-length frames those bins land ON the
    * .5 floor boundary whenever n is a perfect square (sum/√n is an
    * exact decimal) and engine ulp noise flips the encoding (1-4 flaky
    * rows observed at scales 1e2/1e4).
    */
  def sigRfftOrtho(s: SparkSession, dir: String): DataFrame =
    Signal.rfft(ev64(s, dir), Seq("user_id"), "t", "value",
        newdim = "freq", norm = "ortho")
      .select(col("user_id"), col("pos"),
        fp(col("re"), 800d).as("re_fp"), fp(col("im"), 800d).as("im_fp"))
      .orderBy("user_id", "pos")

  private val sigRfftOrthoSql: String =
    s"""$s64Sql
       |SELECT a.user_id, CAST(a.j AS INT) AS pos,
       |  ${fpSql("SUM(b.value * COS(-2*PI()*a.j*b.j/64)) / 8", "800")} AS re_fp,
       |  ${fpSql("SUM(b.value * SIN(-2*PI()*a.j*b.j/64)) / 8", "800")} AS im_fp
       |FROM s a JOIN s b ON a.user_id = b.user_id
       |WHERE a.j <= 32
       |GROUP BY a.user_id, a.j
       |ORDER BY 1, 2""".stripMargin

  /** rfft with norm="forward" end-to-end — completes the norm trio in
    * CORRECTNESS (backward is every default query, ortho is
    * sig_rfft_ortho): the DFT sum scaled by 1/n. On the 64-frame the
    * exact bins are I/100/64 = I/6400 rationals — integral at 6.4e4,
    * same boundary-safety argument as sig_ihfft.
    */
  def sigRfftFwd(s: SparkSession, dir: String): DataFrame =
    Signal.rfft(ev64(s, dir), Seq("user_id"), "t", "value",
        newdim = "freq", norm = "forward")
      .select(col("user_id"), col("pos"),
        fp(col("re"), 6.4e4).as("re_fp"), fp(col("im"), 6.4e4).as("im_fp"))
      .orderBy("user_id", "pos")

  private val sigRfftFwdSql: String =
    s"""$s64Sql
       |SELECT a.user_id, CAST(a.j AS INT) AS pos,
       |  ${fpSql("SUM(b.value * COS(-2*PI()*a.j*b.j/64)) / 64", "6.4e4")} AS re_fp,
       |  ${fpSql("SUM(b.value * SIN(-2*PI()*a.j*b.j/64)) / 64", "6.4e4")} AS im_fp
       |FROM s a JOIN s b ON a.user_id = b.user_id
       |WHERE a.j <= 32
       |GROUP BY a.user_id, a.j
       |ORDER BY 1, 2""".stripMargin

  /** fft (complex input, im=0) per user: all n bins. */
  def sigFft(s: SparkSession, dir: String): DataFrame =
    Signal.fft(
      evReal(s, dir).select(col("user_id"), col("t"),
        col("value").as("re"), lit(0.0).as("im")),
      Seq("user_id"), "t", "re", "im", newdim = "freq")
      .select(col("user_id"), col("pos"),
        fp(col("freq"), 1e9).as("freq_fp"),
        fp4(col("re")).as("re_fp"), fp4(col("im")).as("im_fp"))
      .orderBy("user_id", "pos")

  private val sigFftSql: String =
    s"""$sSql, d AS (
       |  SELECT user_id, CASE WHEN COUNT(*) > 1 THEN (MAX(t) - MIN(t))/(COUNT(*) - 1) ELSE 1.0 END AS delta, COUNT(*) AS n
       |  FROM s GROUP BY 1
       |)
       |SELECT a.user_id, CAST(a.j AS INT) AS pos,
       |  ${fpSql("(CASE WHEN a.j < (a.n - 1) // 2 + 1 THEN a.j ELSE a.j - a.n END) * (1.0/(d.n * (d.delta/d.n)))", "1e9")} AS freq_fp,
       |  ${fpSql("SUM(b.value * COS(-2*PI()*a.j*b.j/a.n))", "1e4")} AS re_fp,
       |  ${fpSql("SUM(b.value * SIN(-2*PI()*a.j*b.j/a.n))", "1e4")} AS im_fp
       |FROM s a JOIN s b ON a.user_id = b.user_id JOIN d ON d.user_id = a.user_id
       |GROUP BY a.user_id, a.j, a.n, d.n, d.delta
       |ORDER BY 1, 2""".stripMargin

  /** ifft(fft(x)) via two Spark ops (inverse over the pos dim) — must
    * reproduce x exactly (to fp6).
    */
  def sigIfftRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val f = Signal.fft(
      evReal(s, dir).select(col("user_id"), col("t"),
        col("value").as("re"), lit(0.0).as("im")),
      Seq("user_id"), "t", "re", "im", newdim = "freq")
    Signal.ifft(f, Seq("user_id"), "pos", "re", "im", newdim = "t2")
      .select(col("user_id"), col("pos"),
        fp6(col("re")).as("re_fp"), fp6(col("im")).as("im_fp"))
      .orderBy("user_id", "pos")
  }

  private val sigIfftRoundtripSql: String =
    s"""$sSql
       |SELECT user_id, CAST(j AS INT) AS pos,
       |  ${fpSql("value", "1e6")} AS re_fp, CAST(0 AS BIGINT) AS im_fp
       |FROM s ORDER BY 1, 2""".stripMargin

  /** fft→ifft roundtrips under norm=ortho AND norm=forward — the
    * INVERSE-side scaling of the non-default norms (1/√n twice; 1/n
    * then 1) was kernel-golden-tested but had no CORRECTNESS row; a
    * matched-norm roundtrip must reproduce the input exactly, so the
    * oracle is the identity. Tagged by norm in one query.
    */
  def sigFftNormRoundtrips(s: SparkSession, dir: String): DataFrame = {
    def leg(norm: String): DataFrame = {
      val f = Signal.fft(
        evReal(s, dir).select(col("user_id"), col("t"),
          col("value").as("re"), lit(0.0).as("im")),
        Seq("user_id"), "t", "re", "im", newdim = "freq", norm = norm)
      Signal.ifft(f, Seq("user_id"), "pos", newdim = "t2", norm = norm)
        .select(col("user_id"), lit(norm).as("norm"), col("pos"),
          fp6(col("re")).as("re_fp"), fp6(col("im")).as("im_fp"))
    }
    leg("ortho").union(leg("forward")).orderBy("user_id", "norm", "pos")
  }

  private val sigFftNormRoundtripsSql: String =
    s"""$sSql, l AS (
       |  SELECT 'ortho' AS norm UNION ALL SELECT 'forward'
       |)
       |SELECT user_id, l.norm, CAST(j AS INT) AS pos,
       |  ${fpSql("value", "1e6")} AS re_fp, CAST(0 AS BIGINT) AS im_fp
       |FROM s, l ORDER BY 1, 2, 3""".stripMargin

  /** irfft(rfft(x)) on the 64-frame: recovers x (even length). */
  def sigIrfftRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val f = Signal.rfft(ev64(s, dir), Seq("user_id"), "t", "value", newdim = "freq")
    Signal.irfft(f, Seq("user_id"), "pos")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")
  }

  private val sigIrfftRoundtripSql: String =
    s"""$s64Sql
       |SELECT user_id, CAST(j AS INT) AS pos, ${fpSql("value", "1e6")} AS value_fp
       |FROM s ORDER BY 1, 2""".stripMargin

  /** hfft of the 64-frame taken as a real half-spectrum (im=0):
    * y_k = a_0 + (-1)^k a_63 + 2 Σ_{j=1}^{62} a_j cos(2πjk/126).
    */
  def sigHfft(s: SparkSession, dir: String): DataFrame =
    Signal.hfft(
      ev64(s, dir).select(col("user_id"), col("t"),
        col("value").as("re"), lit(0.0).as("im")),
      Seq("user_id"), "t")
      .select(col("user_id"), col("pos"),
        fp6(col("frequency")).as("freq_fp"), fp4(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigHfftSql: String =
    s"""$s64Sql, d AS (
       |  SELECT user_id, CASE WHEN COUNT(*) > 1 THEN (MAX(t) - MIN(t))/(COUNT(*) - 1) ELSE 1.0 END AS delta FROM s GROUP BY 1
       |), grid AS (
       |  SELECT user_id, k FROM (SELECT DISTINCT user_id FROM s), range(126) r(k)
       |)
       |SELECT g.user_id, CAST(g.k AS INT) AS pos,
       |  ${fpSql("(CASE WHEN g.k < (126 - 1) // 2 + 1 THEN g.k ELSE g.k - 126 END) * (1.0/(126 * (d.delta/126)))", "1e6")} AS freq_fp,
       |  ${fpSql("SUM(CASE WHEN s.j = 0 THEN s.value WHEN s.j = 63 THEN (CASE WHEN g.k % 2 = 0 THEN s.value ELSE -s.value END) ELSE 2 * s.value * COS(2*PI()*s.j*g.k/126) END)", "1e4")} AS value_fp
       |FROM grid g JOIN s ON s.user_id = g.user_id JOIN d ON d.user_id = g.user_id
       |GROUP BY g.user_id, g.k, d.delta
       |ORDER BY 1, 2""".stripMargin

  /** ihfft of the 64-frame: conj(rfft(x))/64; freq = k exactly.
    * Outputs are encoded at scale 64e5: at resonant bins (k=0, 16, 32)
    * the true value is an exact 2-decimal sum / 64, which at a 10^k
    * scale lands exactly on floor half-integer boundaries — 64e5 makes
    * those encode to integers, away from any boundary.
    */
  def sigIhfft(s: SparkSession, dir: String): DataFrame =
    Signal.ihfft(ev64(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"),
        fp6(col("frequency")).as("freq_fp"),
        fp(col("re"), 6.4e4).as("re_fp"), fp(col("im"), 6.4e4).as("im_fp"))
      .orderBy("user_id", "pos")

  private val sigIhfftSql: String =
    s"""$s64Sql
       |SELECT a.user_id, CAST(a.j AS INT) AS pos,
       |  ${fpSql("CAST(a.j AS DOUBLE)", "1e6")} AS freq_fp,
       |  ${fpSql("SUM(b.value * COS(2*PI()*a.j*b.j/64)) / 64", "6.4e4")} AS re_fp,
       |  ${fpSql("SUM(b.value * SIN(2*PI()*a.j*b.j/64)) / 64", "6.4e4")} AS im_fp
       |FROM s a JOIN s b ON a.user_id = b.user_id
       |WHERE a.j <= 32
       |GROUP BY a.user_id, a.j
       |ORDER BY 1, 2""".stripMargin

  /** DCT-II per user (scipy.fft.dct type 2, norm=backward): the
    * real-even sibling of the fft family, computed by the Makhoul
    * even-permutation FFT kernel; the oracle replays the DEFINITION
    * sum y[k] = 2 Σ x[j] cos(πk(2j+1)/(2n)) — two independent
    * derivations, same one-shuffle signal-op shape.
    */
  def sigDct(s: SparkSession, dir: String): DataFrame =
    Signal.dct(evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"), fp4(col("value")).as("v_fp"))
      .orderBy("user_id", "pos")

  private val sigDctSql: String =
    s"""$sSql
       |SELECT a.user_id, CAST(a.j AS INT) AS pos,
       |  ${fpSql("SUM(2 * b.value * COS(PI() * a.j * (2*b.j + 1) / (2*a.n)))", "1e4")} AS v_fp
       |FROM s a JOIN s b ON a.user_id = b.user_id
       |GROUP BY a.user_id, a.j, a.n
       |ORDER BY 1, 2""".stripMargin

  /** DST-II per user (scipy.fft.dst type 2, norm=backward), via the
    * reversed alternating-sign dct2 identity in the kernel; oracle is
    * the direct sine definition sum.
    */
  def sigDst(s: SparkSession, dir: String): DataFrame =
    Signal.dst(evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"), fp4(col("value")).as("v_fp"))
      .orderBy("user_id", "pos")

  private val sigDstSql: String =
    s"""$sSql
       |SELECT a.user_id, CAST(a.j AS INT) AS pos,
       |  ${fpSql("SUM(2 * b.value * SIN(PI() * (a.j + 1) * (2*b.j + 1) / (2*a.n)))", "1e4")} AS v_fp
       |FROM s a JOIN s b ON a.user_id = b.user_id
       |GROUP BY a.user_id, a.j, a.n
       |ORDER BY 1, 2""".stripMargin

  /** dct→idct (norm=ortho) and dst→idst (norm=backward) roundtrips —
    * the INVERSE kernels' CORRECTNESS rows. A matched-norm roundtrip
    * must reproduce the input exactly, so the oracle is the identity,
    * tagged per leg (same pattern as sig_fft_norm_roundtrips).
    */
  def sigDctRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val base = evReal(s, dir)
    val dctLeg = Signal.idct(
      Signal.dct(base, Seq("user_id"), "t", "value", norm = "ortho"),
      Seq("user_id"), "pos", "value", norm = "ortho")
      .select(col("user_id"), lit("dct").as("op"), col("pos"),
        fp6(col("value")).as("v_fp"))
    val dstLeg = Signal.idst(
      Signal.dst(base, Seq("user_id"), "t", "value"),
      Seq("user_id"), "pos", "value")
      .select(col("user_id"), lit("dst").as("op"), col("pos"),
        fp6(col("value")).as("v_fp"))
    dctLeg.unionByName(dstLeg).orderBy("user_id", "op", "pos")
  }

  private val sigDctRoundtripSql: String =
    s"""$sSql
       |SELECT user_id, op, CAST(j AS INT) AS pos,
       |  ${fpSql("value", "1e6")} AS v_fp
       |FROM s CROSS JOIN (VALUES ('dct'), ('dst')) ops(op)
       |ORDER BY 1, 2, 3""".stripMargin

  /** 2-D FFT of the per-user 8×8 grid (numpy.fft.fft2 over the
    * reference's per-dim fft loop): one multi-value gridify shuffle,
    * one strided N-D kernel call. Oracle is the naive double DFT sum.
    */
  def sigFft2(s: SparkSession, dir: String): DataFrame = {
    val grid = ev64(s, dir)
      .withColumn("r", expr("CAST(t AS INT) div 8"))
      .withColumn("c", expr("CAST(t AS INT) % 8"))
    Signal.fftNd(grid, Seq("user_id"), Seq("r", "c"), "value")
      .select(col("user_id"), col("pos1"), col("pos2"),
        fp4(col("re")).as("re_fp"), fp4(col("im")).as("im_fp"))
      .orderBy("user_id", "pos1", "pos2")
  }

  private val sigFft2Sql: String =
    s"""$s64Sql
       |SELECT a.user_id, CAST(a.j // 8 AS INT) AS pos1, CAST(a.j % 8 AS INT) AS pos2,
       |  ${fpSql("SUM(b.value * COS(-2*PI()*((a.j//8)*(b.j//8)/8.0 + (a.j%8)*(b.j%8)/8.0)))", "1e4")} AS re_fp,
       |  ${fpSql("SUM(b.value * SIN(-2*PI()*((a.j//8)*(b.j//8)/8.0 + (a.j%8)*(b.j%8)/8.0)))", "1e4")} AS im_fp
       |FROM s a JOIN s b ON a.user_id = b.user_id
       |GROUP BY a.user_id, a.j // 8, a.j % 8
       |ORDER BY 1, 2, 3""".stripMargin

  /** fft2 → ifft2 (norm=ortho) roundtrip: the N-D INVERSE kernel's
    * CORRECTNESS row; a matched-norm roundtrip reproduces the grid.
    */
  def sigFft2Roundtrip(s: SparkSession, dir: String): DataFrame = {
    val grid = ev64(s, dir)
      .withColumn("r", expr("CAST(t AS INT) div 8"))
      .withColumn("c", expr("CAST(t AS INT) % 8"))
    val f = Signal.fftNd(grid, Seq("user_id"), Seq("r", "c"), "value", norm = "ortho")
    Signal.ifftNd(f, Seq("user_id"), Seq("pos1", "pos2"), "re", "im", norm = "ortho")
      .select(col("user_id"), col("pos1"), col("pos2"),
        fp6(col("re")).as("re_fp"), fp6(col("im")).as("im_fp"))
      .orderBy("user_id", "pos1", "pos2")
  }

  private val sigFft2RoundtripSql: String =
    s"""$s64Sql
       |SELECT user_id, CAST(j // 8 AS INT) AS pos1, CAST(j % 8 AS INT) AS pos2,
       |  ${fpSql("value", "1e6")} AS re_fp, CAST(0 AS BIGINT) AS im_fp
       |FROM s ORDER BY 1, 2, 3""".stripMargin

  /** Waveform synthesis (scipy.signal chirp/square/sawtooth) on the
    * 64-frame index coordinate — pure codegen'd column math, zero
    * kernel calls. Oracle replays the identical closed forms; phase
    * branches go through exact IEEE fmod so both engines pick the
    * same side, and the chirp's rate coefficient is interpolated as a
    * Scala double literal so both parse the same value.
    */
  def sigWaveforms(s: SparkSession, dir: String): DataFrame = {
    val base = ev64(s, dir)
    val out = Signal.sawtooth(
      Signal.square(
        Signal.chirp(base, "t", "chirp_v", f0 = 0.01, t1 = 64.0, f1 = 0.05),
        "t", "square_v", duty = 0.3),
      "t", "saw_v", width = 0.7)
    out.select(col("user_id"), col("t").cast("int").as("pos"),
        fp6(col("chirp_v")).as("chirp_fp"),
        col("square_v").cast("bigint").as("square_v"),
        fp6(col("saw_v")).as("saw_fp"))
      .orderBy("user_id", "pos")
  }

  private val sigWaveformsSql: String = {
    val rate = (0.05 - 0.01) / (2.0 * 64.0)
    s"""$s64Sql
       |SELECT user_id, CAST(j AS INT) AS pos,
       |  ${fpSql(s"COS(2*PI()*(0.01*t + $rate*t*t))", "1e6")} AS chirp_fp,
       |  CAST(CASE WHEN fmod(t, 2*PI()) < 2*PI()*0.3 THEN 1 ELSE -1 END AS BIGINT) AS square_v,
       |  ${fpSql(
           "CASE WHEN fmod(t, 2*PI())/(2*PI()) < 0.7" +
           " THEN -1.0 + 2.0*(fmod(t, 2*PI())/(2*PI()))/0.7" +
           " ELSE 1.0 - 2.0*((fmod(t, 2*PI())/(2*PI())) - 0.7)/(1.0 - 0.7) END", "1e6")} AS saw_fp
       |FROM s ORDER BY 1, 2""".stripMargin
  }

  /** vectorstrength (scipy.signal): phase locking of each user's raw
    * event times to a 60 s period — strength = |mean e^{2πi·t/T}| and
    * its phase angle. A plain partial-aggregatable groupBy, the only
    * signal op with NO series materialization at all.
    */
  def sigVectorstrength(s: SparkSession, dir: String): DataFrame =
    Signal.vectorstrength(evReal(s, dir), Seq("user_id"), "t", period = 60.0)
      .select(col("user_id"),
        fp6(col("strength")).as("strength_fp"), fp6(col("phase")).as("phase_fp"))
      .orderBy("user_id")

  private val sigVectorstrengthSql: String =
    s"""WITH raw AS (
       |  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE)/1e6 AS t, value FROM events
       |), v AS (
       |  SELECT user_id, 2*PI()*fmod(t, 60.0)/60.0 AS a FROM raw
       |), g AS (
       |  SELECT user_id, SUM(COS(a)) AS sc, SUM(SIN(a)) AS ss, COUNT(*) AS n
       |  FROM v GROUP BY 1
       |)
       |SELECT user_id,
       |  ${fpSql("SQRT(sc*sc + ss*ss) / n", "1e6")} AS strength_fp,
       |  ${fpSql("ATAN2(ss, sc)", "1e6")} AS phase_fp
       |FROM g ORDER BY 1""".stripMargin

  /** deconvolve∘convolve identity (scipy.signal.deconvolve): convolve
    * each series with divisor (1, 0.5) then long-divide it back out —
    * the quotient must reproduce the input. Exercises the synthetic
    * division end-to-end with the identity as the oracle.
    */
  def sigDeconvolve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val div = Seq((0.0, 1.0), (1.0, 0.5)).toDF("t", "value")
    val conv = Signal.convolve(evReal(s, dir), div, Seq("user_id"), "t", "value", "full")
    Signal.deconvolve(conv, Seq("user_id"), "pos", "value", Array(1.0, 0.5))
      .select(col("user_id"), col("pos"), fp6(col("value")).as("v_fp"))
      .orderBy("user_id", "pos")
  }

  private val sigDeconvolveSql: String =
    s"""$sSql
       |SELECT user_id, CAST(j AS INT) AS pos, ${fpSql("value", "1e6")} AS v_fp
       |FROM s ORDER BY 1, 2""".stripMargin

  /** 2-D median filter (scipy.signal.medfilt2d, 3×3, zero-padded
    * edges) on the per-user 8×8 grid. The oracle rebuilds every
    * neighborhood with a 9-offset cross join (LEFT JOIN nulls are the
    * zero padding) and takes MEDIAN — 9 values per cell, odd count, so
    * both engines select the exact middle element bit-identically.
    */
  def sigMedfilt2d(s: SparkSession, dir: String): DataFrame = {
    val grid = ev64(s, dir)
      .withColumn("r", expr("CAST(t AS INT) div 8"))
      .withColumn("c", expr("CAST(t AS INT) % 8"))
    Signal.medfilt2d(grid, Seq("user_id"), "r", "c", "value")
      .select(col("user_id"), col("pos1"), col("pos2"),
        fp6(col("value")).as("v_fp"))
      .orderBy("user_id", "pos1", "pos2")
  }

  private val sigMedfilt2dSql: String =
    s"""$s64Sql, g AS (
       |  SELECT user_id, CAST(j // 8 AS INT) AS r, CAST(j % 8 AS INT) AS c, value FROM s
       |)
       |SELECT a.user_id, a.r AS pos1, a.c AS pos2,
       |  ${fpSql("MEDIAN(COALESCE(b.value, 0.0))", "1e6")} AS v_fp
       |FROM g a
       |CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) k(dr, dc)
       |LEFT JOIN g b ON b.user_id = a.user_id AND b.r = a.r + k.dr AND b.c = a.c + k.dc
       |GROUP BY a.user_id, a.r, a.c
       |ORDER BY 1, 2, 3""".stripMargin

  /** fft with an explicit n=56 (reference parameterizes every FFT test
    * over n, tests/test_signal.py:358-373): per-user series are 49-86
    * samples at the oracle SF, so ONE n exercises BOTH paths — users
    * with more than 56 events are cropped, users with fewer are
    * zero-padded. The output coordinate follows the n-override rule
    * fftfreq(n, delta/n) with delta still computed from the FULL input
    * series (seriesify runs before the kernel sees n).
    */
  def sigFftN(s: SparkSession, dir: String): DataFrame =
    Signal.fft(
      evReal(s, dir).select(col("user_id"), col("t"),
        col("value").as("re"), lit(0.0).as("im")),
      Seq("user_id"), "t", "re", "im", newdim = "freq", n = 56)
      .select(col("user_id"), col("pos"),
        fp(col("freq"), 1e9).as("freq_fp"),
        fp4(col("re")).as("re_fp"), fp4(col("im")).as("im_fp"))
      .orderBy("user_id", "pos")

  /** Direct n-point DFT over the first min(n, 56) samples (zero padding
    * adds nothing to the sum); freq mirrors the engine's exact
    * fftfreq(56, delta/56) expression shape. mid = (56-1)//2+1 = 28.
    */
  private val sigFftNSql: String =
    s"""$sSql, d AS (
       |  SELECT user_id, CASE WHEN COUNT(*) > 1 THEN (MAX(t) - MIN(t))/(COUNT(*) - 1) ELSE 1.0 END AS delta
       |  FROM s GROUP BY 1
       |), grid AS (
       |  SELECT user_id, k FROM (SELECT DISTINCT user_id FROM s), range(56) r(k)
       |)
       |SELECT g.user_id, CAST(g.k AS INT) AS pos,
       |  ${fpSql("(CASE WHEN g.k < 28 THEN g.k ELSE g.k - 56 END) * (1.0/(56 * (d.delta/56)))", "1e9")} AS freq_fp,
       |  ${fpSql("SUM(b.value * COS(-2*PI()*g.k*b.j/56))", "1e4")} AS re_fp,
       |  ${fpSql("SUM(b.value * SIN(-2*PI()*g.k*b.j/56))", "1e4")} AS im_fp
       |FROM grid g JOIN s b ON b.user_id = g.user_id AND b.j < 56
       |JOIN d ON d.user_id = g.user_id
       |GROUP BY g.user_id, g.k, d.delta
       |ORDER BY 1, 2""".stripMargin

  /** irfft with explicit n on the 64-frame rfft (33 bins): n=48 CROPS
    * the spectrum (bins 0..24, bin 24 becomes the real Nyquist) and
    * n=96 ZERO-PADS it (bins 33..48 empty) — the two halves of the
    * reference's n-parameterized irfft tests
    * (tests/test_signal.py:448-467) in one query, tagged by `nfft`.
    * Output coord pins the n-override rule fftfreq(n, delta/n) with
    * the spectrum's pos spacing delta=1 → integer frequencies.
    * Scale 4.8e4: resonant outputs are exact I/4800 (n=48) or I/9600
    * (n=96) rationals — 48000 maps both to integers (10·I / 5·I), off
    * the .5 floor boundary that a power-of-10 scale would hit.
    */
  def sigIrfftN(s: SparkSession, dir: String): DataFrame = {
    val f = Signal.rfft(ev64(s, dir), Seq("user_id"), "t", "value", newdim = "freq")
    def leg(nn: Int): DataFrame =
      Signal.irfft(f, Seq("user_id"), "pos", newdim = "co", n = nn)
        .select(col("user_id"), lit(nn).as("nfft"), col("pos"),
          fp6(col("co")).as("co_fp"), fp(col("value"), 4.8e4).as("value_fp"))
    leg(48).union(leg(96)).orderBy("user_id", "nfft", "pos")
  }

  private val sigIrfftNSql: String =
    s"""$s64Sql, X AS (
       |  SELECT a.user_id, a.j AS k,
       |    SUM(b.value * COS(-2*PI()*a.j*b.j/64)) AS re,
       |    SUM(b.value * SIN(-2*PI()*a.j*b.j/64)) AS im
       |  FROM s a JOIN s b ON a.user_id = b.user_id
       |  WHERE a.j <= 32 GROUP BY 1, 2
       |), u AS (
       |  SELECT DISTINCT user_id FROM s
       |), y48 AS (
       |  SELECT g.user_id, g.tt,
       |    SUM(CASE WHEN x.k = 0 THEN x.re
       |             WHEN x.k = 24 THEN (CASE WHEN g.tt % 2 = 0 THEN x.re ELSE -x.re END)
       |             WHEN x.k < 24 THEN 2*(x.re*COS(2*PI()*x.k*g.tt/48) - x.im*SIN(2*PI()*x.k*g.tt/48))
       |             ELSE 0 END) / 48 AS v
       |  FROM (SELECT user_id, tt FROM u, range(48) r(tt)) g
       |  JOIN X x ON x.user_id = g.user_id
       |  GROUP BY 1, 2
       |), y96 AS (
       |  SELECT g.user_id, g.tt,
       |    SUM(CASE WHEN x.k = 0 THEN x.re
       |             ELSE 2*(x.re*COS(2*PI()*x.k*g.tt/96) - x.im*SIN(2*PI()*x.k*g.tt/96)) END) / 96 AS v
       |  FROM (SELECT user_id, tt FROM u, range(96) r(tt)) g
       |  JOIN X x ON x.user_id = g.user_id
       |  GROUP BY 1, 2
       |)
       |SELECT user_id, 48 AS nfft, CAST(tt AS INT) AS pos,
       |  ${fpSql("CAST(CASE WHEN tt < 24 THEN tt ELSE tt - 48 END AS DOUBLE) * (1.0/(48 * (1.0/48)))", "1e6")} AS co_fp,
       |  ${fpSql("v", "4.8e4")} AS value_fp
       |FROM y48
       |UNION ALL
       |SELECT user_id, 96 AS nfft, CAST(tt AS INT) AS pos,
       |  ${fpSql("CAST(CASE WHEN tt < 48 THEN tt ELSE tt - 96 END AS DOUBLE) * (1.0/(96 * (1.0/96)))", "1e6")} AS co_fp,
       |  ${fpSql("v", "4.8e4")} AS value_fp
       |FROM y96
       |ORDER BY 1, 2, 3""".stripMargin

  /** fftshift rotates values and coords together; pos is the
    * post-shift position: p = (j + n/2) mod n.
    */
  def sigFftshift(s: SparkSession, dir: String): DataFrame =
    Signal.fftshift(evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"),
        fp6(col("t")).as("t_fp"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigFftshiftSql: String =
    s"""$sSql
       |SELECT user_id, CAST((j + n // 2) % n AS INT) AS pos,
       |  ${fpSql("t", "1e6")} AS t_fp, ${fpSql("value", "1e6")} AS value_fp
       |FROM s ORDER BY 1, 2""".stripMargin

  /** ifftshift: p = (j + n - n/2) mod n (inverse rotation). */
  def sigIfftshift(s: SparkSession, dir: String): DataFrame =
    Signal.ifftshift(evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"),
        fp6(col("t")).as("t_fp"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigIfftshiftSql: String =
    s"""$sSql
       |SELECT user_id, CAST((j + n - n // 2) % n AS INT) AS pos,
       |  ${fpSql("t", "1e6")} AS t_fp, ${fpSql("value", "1e6")} AS value_fp
       |FROM s ORDER BY 1, 2""".stripMargin

  /** 2-D fftshift over a 9×7 grid (first 63 of the 64-frame; ODD dims
    * so the forward roll ceil(n/2) differs from the inverse floor —
    * an even grid would mask a direction bug). The reference signature
    * is the `dims` tuple (signal.py:245-268); values roll in one N-D
    * kernel call, each dim's coordinate axis rolls alongside. pos1/
    * pos2 are the post-shift positions p_i = (r_i + n_i/2) mod n_i
    * with original (coord, value) triples travelling together.
    */
  def sigFftshift2d(s: SparkSession, dir: String): DataFrame = {
    val grid = ev64(s, dir).filter(col("t") < 63)
      .withColumn("r", expr("CAST(t AS INT) div 7").cast("double"))
      .withColumn("c", expr("CAST(t AS INT) % 7").cast("double"))
    Signal.fftshiftNd(grid, Seq("user_id"), Seq("r", "c"), "value")
      .select(col("user_id"), col("pos1"), col("pos2"),
        fp6(col("r")).as("r_fp"), fp6(col("c")).as("c_fp"),
        fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos1", "pos2")
  }

  private val sigFftshift2dSql: String =
    s"""$s64Sql
       |SELECT user_id,
       |  CAST((j // 7 + 4) % 9 AS INT) AS pos1,
       |  CAST((j % 7 + 3) % 7 AS INT) AS pos2,
       |  ${fpSql("CAST(j // 7 AS DOUBLE)", "1e6")} AS r_fp,
       |  ${fpSql("CAST(j % 7 AS DOUBLE)", "1e6")} AS c_fp,
       |  ${fpSql("value", "1e6")} AS value_fp
       |FROM s WHERE j < 63 ORDER BY 1, 2, 3""".stripMargin

  /** Complex fftshift — the (re, im) overload with shared coordinate
    * handling (numpy shifts complex arrays natively; see
    * Signal.fftshiftComplex). Same rotation rule as sig_fftshift on
    * both components at once.
    */
  def sigFftshiftComplex(s: SparkSession, dir: String): DataFrame =
    Signal.fftshiftComplex(
      evReal(s, dir).select(col("user_id"), col("t"),
        col("value").as("re"), (col("value") * lit(-0.5)).as("im")),
      Seq("user_id"), "t", "re", "im")
      .select(col("user_id"), col("pos"), fp6(col("t")).as("t_fp"),
        fp6(col("re")).as("re_fp"), fp6(col("im")).as("im_fp"))
      .orderBy("user_id", "pos")

  private val sigFftshiftComplexSql: String =
    s"""$sSql
       |SELECT user_id, CAST((j + n // 2) % n AS INT) AS pos,
       |  ${fpSql("t", "1e6")} AS t_fp, ${fpSql("value", "1e6")} AS re_fp,
       |  ${fpSql("value * -0.5", "1e6")} AS im_fp
       |FROM s ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // convolution
  // ------------------------------------------------------------------

  private def kernel3(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0.0, 0.25), (1.0, 0.5), (2.0, 0.25)).toDF("t", "value")
  }

  private val h3Sql = "(VALUES (0, 0.25), (1, 0.5), (2, 0.25)) h(i, w)"

  def sigConvolveFull(s: SparkSession, dir: String): DataFrame =
    Signal.convolve(evReal(s, dir), kernel3(s), Seq("user_id"), "t", "value", "full")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigConvolveFullSql: String =
    s"""$sSql
       |SELECT s.user_id, CAST(s.j + h.i AS INT) AS pos,
       |  ${fpSql("SUM(s.value * h.w)", "1e6")} AS value_fp
       |FROM s, $h3Sql
       |GROUP BY s.user_id, s.j + h.i
       |ORDER BY 1, 2""".stripMargin

  def sigConvolveSame(s: SparkSession, dir: String): DataFrame =
    Signal.convolve(evReal(s, dir), kernel3(s), Seq("user_id"), "t", "value", "same")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigConvolveSameSql: String =
    s"""$sSql
       |SELECT s.user_id, CAST(s.j + h.i - 1 AS INT) AS pos,
       |  ${fpSql("SUM(s.value * h.w)", "1e6")} AS value_fp
       |FROM s, $h3Sql
       |WHERE s.j + h.i - 1 >= 0 AND s.j + h.i - 1 < s.n
       |GROUP BY s.user_id, s.j + h.i - 1
       |ORDER BY 1, 2""".stripMargin

  /** FFT-method convolution must agree with the direct oracle. */
  def sigFftconvolve(s: SparkSession, dir: String): DataFrame =
    Signal.fftconvolve(evReal(s, dir), kernel3(s), Seq("user_id"), "t", "value", "full")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  def sigConvolveValid(s: SparkSession, dir: String): DataFrame =
    Signal.convolve(evReal(s, dir), kernel3(s), Seq("user_id"), "t", "value", "valid")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigConvolveValidSql: String =
    s"""$sSql
       |SELECT s.user_id, CAST(s.j + h.i - 2 AS INT) AS pos,
       |  ${fpSql("SUM(s.value * h.w)", "1e6")} AS value_fp
       |FROM s, $h3Sql
       |WHERE s.j + h.i - 2 >= 0 AND s.j + h.i - 2 <= s.n - 3
       |GROUP BY s.user_id, s.j + h.i - 2
       |ORDER BY 1, 2""".stripMargin

  /** Complex long frame: re = value, im = event_id % 97 — an
    * imaginary part genuinely independent of re (a scalar multiple
    * would make the complex product degenerate to a scaled real one,
    * hiding sign/swap bugs in one quadrant of the multiply).
    */
  private def evCx(s: SparkSession, dir: String): DataFrame =
    load(installed(s), dir, "events")
      .select(col("user_id"),
        (expr("ts div 1000").cast("double") / lit(1e6)).as("t"),
        col("value").as("re"),
        (col("event_id") % 97).cast("double").as("im"))

  private val sCxSql: String =
    """WITH raw AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE)/1e6 AS t, value AS re,
      |         CAST(event_id % 97 AS DOUBLE) AS im
      |  FROM events
      |), s AS (
      |  SELECT user_id,
      |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, re) - 1 AS j,
      |         re, im
      |  FROM raw
      |)""".stripMargin

  /** Complex convolve (scipy accepts complex input, signal.py:34-38)
    * against a broadcast 3-tap complex kernel; the oracle expands the
    * complex multiply into its four real products. re is 2-dp data,
    * im is integral, weights are 1-dp → every product is an exact
    * 3-decimal, integral at the 1e6 encoding.
    */
  def sigConvolveComplex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = Seq((0.0, 0.5, -0.2), (1.0, 0.3, 0.1), (2.0, 0.2, 0.4))
      .toDF("t", "re", "im")
    Signal.convolveComplex(evCx(s, dir), k, Seq("user_id"), "t", "re", "im", "full")
      .select(col("user_id"), col("pos"),
        fp6(col("re")).as("re_fp"), fp6(col("im")).as("im_fp"))
      .orderBy("user_id", "pos")
  }

  private val sigConvolveComplexSql: String =
    s"""$sCxSql
       |SELECT s.user_id, CAST(s.j + h.i AS INT) AS pos,
       |  ${fpSql("SUM(s.re * h.wr - s.im * h.wi)", "1e6")} AS re_fp,
       |  ${fpSql("SUM(s.re * h.wi + s.im * h.wr)", "1e6")} AS im_fp
       |FROM s, (VALUES (0, 0.5, -0.2), (1, 0.3, 0.1), (2, 0.2, 0.4)) h(i, wr, wi)
       |GROUP BY s.user_id, s.j + h.i
       |ORDER BY 1, 2""".stripMargin

  /** Complex correlate — scipy CONJUGATES in2: out = Σ a·conj(b), at
    * lag pos = j + (m-1-i). The oracle carries the conjugation as the
    * sign flips on the wi terms.
    */
  def sigCorrelateComplex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = Seq((0.0, 0.5, -0.2), (1.0, 0.3, 0.1), (2.0, 0.2, 0.4))
      .toDF("t", "re", "im")
    Signal.correlateComplex(evCx(s, dir), k, Seq("user_id"), "t", "re", "im", "full")
      .select(col("user_id"), col("pos"),
        fp6(col("re")).as("re_fp"), fp6(col("im")).as("im_fp"))
      .orderBy("user_id", "pos")
  }

  private val sigCorrelateComplexSql: String =
    s"""$sCxSql
       |SELECT s.user_id, CAST(s.j + (2 - h.i) AS INT) AS pos,
       |  ${fpSql("SUM(s.re * h.wr + s.im * h.wi)", "1e6")} AS re_fp,
       |  ${fpSql("SUM(s.im * h.wr - s.re * h.wi)", "1e6")} AS im_fp
       |FROM s, (VALUES (0, 0.5, -0.2), (1, 0.3, 0.1), (2, 0.2, 0.4)) h(i, wr, wi)
       |GROUP BY s.user_id, s.j + (2 - h.i)
       |ORDER BY 1, 2""".stripMargin

  /** sCxSql + per-user length n (the same/valid mode windows need it). */
  private val sCxnSql: String =
    """WITH raw AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE)/1e6 AS t, value AS re,
      |         CAST(event_id % 97 AS DOUBLE) AS im
      |  FROM events
      |), s AS (
      |  SELECT user_id,
      |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, re) - 1 AS j,
      |         COUNT(*) OVER (PARTITION BY user_id) AS n,
      |         re, im
      |  FROM raw
      |)""".stripMargin

  /** Complex convolve/correlate in modes same AND valid — the trim
    * arithmetic for two-sided complex kernels (same start (m-1)//2,
    * valid start m-1, correlate lag reversal j+(m-1-i)) was previously
    * golden-only; this pins all four combinations end-to-end in one
    * query, tagged (op, mode). The four legs plan as independent
    * subtrees (DataFrame union has no common-subexpression
    * elimination); AQE's runtime shuffle-stage cache can reuse the
    * identical seriesify exchanges, and the whole query stays a small
    * bench row either way.
    */
  def sigComplexModes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = Seq((0.0, 0.5, -0.2), (1.0, 0.3, 0.1), (2.0, 0.2, 0.4))
      .toDF("t", "re", "im")
    def leg(op: String, mode: String): DataFrame = {
      val f =
        if (op == "conv")
          Signal.convolveComplex(evCx(s, dir), k, Seq("user_id"), "t", "re", "im", mode)
        else
          Signal.correlateComplex(evCx(s, dir), k, Seq("user_id"), "t", "re", "im", mode)
      f.select(col("user_id"), lit(op).as("op"), lit(mode).as("mode"),
        col("pos"), fp6(col("re")).as("re_fp"), fp6(col("im")).as("im_fp"))
    }
    leg("conv", "same").union(leg("conv", "valid"))
      .union(leg("corr", "same")).union(leg("corr", "valid"))
      .orderBy("user_id", "op", "mode", "pos")
  }

  /** The four windowed direct sums. m=3: conv same pos = j+i-1 in
    * [0, n); conv valid pos = j+i-2 in [0, n-3]; corr flips the kernel
    * (lag j+(2-i)) and conjugates (sign flips on wi), same windows.
    */
  private val sigComplexModesSql: String = {
    val hh = "(VALUES (0, 0.5, -0.2), (1, 0.3, 0.1), (2, 0.2, 0.4)) h(i, wr, wi)"
    s"""$sCxnSql
       |SELECT s.user_id, 'conv' AS op, 'same' AS mode, CAST(s.j + h.i - 1 AS INT) AS pos,
       |  ${fpSql("SUM(s.re * h.wr - s.im * h.wi)", "1e6")} AS re_fp,
       |  ${fpSql("SUM(s.re * h.wi + s.im * h.wr)", "1e6")} AS im_fp
       |FROM s, $hh
       |WHERE s.j + h.i - 1 >= 0 AND s.j + h.i - 1 < s.n
       |GROUP BY s.user_id, s.j + h.i - 1
       |UNION ALL
       |SELECT s.user_id, 'conv' AS op, 'valid' AS mode, CAST(s.j + h.i - 2 AS INT) AS pos,
       |  ${fpSql("SUM(s.re * h.wr - s.im * h.wi)", "1e6")} AS re_fp,
       |  ${fpSql("SUM(s.re * h.wi + s.im * h.wr)", "1e6")} AS im_fp
       |FROM s, $hh
       |WHERE s.j + h.i - 2 >= 0 AND s.j + h.i - 2 <= s.n - 3
       |GROUP BY s.user_id, s.j + h.i - 2
       |UNION ALL
       |SELECT s.user_id, 'corr' AS op, 'same' AS mode, CAST(s.j + 1 - h.i AS INT) AS pos,
       |  ${fpSql("SUM(s.re * h.wr + s.im * h.wi)", "1e6")} AS re_fp,
       |  ${fpSql("SUM(s.im * h.wr - s.re * h.wi)", "1e6")} AS im_fp
       |FROM s, $hh
       |WHERE s.j + 1 - h.i >= 0 AND s.j + 1 - h.i < s.n
       |GROUP BY s.user_id, s.j + 1 - h.i
       |UNION ALL
       |SELECT s.user_id, 'corr' AS op, 'valid' AS mode, CAST(s.j - h.i AS INT) AS pos,
       |  ${fpSql("SUM(s.re * h.wr + s.im * h.wi)", "1e6")} AS re_fp,
       |  ${fpSql("SUM(s.im * h.wr - s.re * h.wi)", "1e6")} AS im_fp
       |FROM s, $hh
       |WHERE s.j - h.i >= 0 AND s.j - h.i <= s.n - 3
       |GROUP BY s.user_id, s.j - h.i
       |ORDER BY 1, 2, 3, 4""".stripMargin
  }

  /** EVEN-length kernel in modes same and valid, convolve AND
    * correlate: the trim arithmetic is asymmetric for even kernels
    * (same starts at (m-1)//2 = 1 of 4, leaving the window OFF-center;
    * correlate's lag reversal shifts by m-1 = 3) and every other mode
    * query uses odd kernels where those expressions degenerate
    * symmetrically. m=4: conv same pos = j+i-1 in [0, n); conv valid
    * pos = j+i-3 in [0, n-4]; corr lag j+(3-i), same windows.
    */
  def sigEvenModes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = Seq((0.0, 0.4), (1.0, 0.3), (2.0, 0.2), (3.0, 0.1)).toDF("t", "value")
    def leg(op: String, mode: String): DataFrame = {
      val f =
        if (op == "conv") Signal.convolve(evReal(s, dir), k, Seq("user_id"), "t", "value", mode)
        else Signal.correlate(evReal(s, dir), k, Seq("user_id"), "t", "value", mode)
      f.select(col("user_id"), lit(op).as("op"), lit(mode).as("mode"),
        col("pos"), fp6(col("value")).as("value_fp"))
    }
    leg("conv", "same").union(leg("conv", "valid"))
      .union(leg("corr", "same")).union(leg("corr", "valid"))
      .orderBy("user_id", "op", "mode", "pos")
  }

  private val sigEvenModesSql: String = {
    val hh = "(VALUES (0, 0.4), (1, 0.3), (2, 0.2), (3, 0.1)) h(i, w)"
    s"""$sSql
       |SELECT s.user_id, 'conv' AS op, 'same' AS mode, CAST(s.j + h.i - 1 AS INT) AS pos,
       |  ${fpSql("SUM(s.value * h.w)", "1e6")} AS value_fp
       |FROM s, $hh
       |WHERE s.j + h.i - 1 >= 0 AND s.j + h.i - 1 < s.n
       |GROUP BY s.user_id, s.j + h.i - 1
       |UNION ALL
       |SELECT s.user_id, 'conv' AS op, 'valid' AS mode, CAST(s.j + h.i - 3 AS INT) AS pos,
       |  ${fpSql("SUM(s.value * h.w)", "1e6")} AS value_fp
       |FROM s, $hh
       |WHERE s.j + h.i - 3 >= 0 AND s.j + h.i - 3 <= s.n - 4
       |GROUP BY s.user_id, s.j + h.i - 3
       |UNION ALL
       |SELECT s.user_id, 'corr' AS op, 'same' AS mode, CAST(s.j + 2 - h.i AS INT) AS pos,
       |  ${fpSql("SUM(s.value * h.w)", "1e6")} AS value_fp
       |FROM s, $hh
       |WHERE s.j + 2 - h.i >= 0 AND s.j + 2 - h.i < s.n
       |GROUP BY s.user_id, s.j + 2 - h.i
       |UNION ALL
       |SELECT s.user_id, 'corr' AS op, 'valid' AS mode, CAST(s.j - h.i AS INT) AS pos,
       |  ${fpSql("SUM(s.value * h.w)", "1e6")} AS value_fp
       |FROM s, $hh
       |WHERE s.j - h.i >= 0 AND s.j - h.i <= s.n - 4
       |GROUP BY s.user_id, s.j - h.i
       |ORDER BY 1, 2, 3, 4""".stripMargin
  }

  /** Overlap-save chunked convolution (chunk=32 → ~3 chunks/series at
    * the oracle SF) must agree with the direct full-mode oracle
    * bit-for-bit.
    */
  def sigConvolveLong(s: SparkSession, dir: String): DataFrame =
    Signal.convolveLong(evReal(installed(s), dir), Seq("user_id"), "t", "value",
      Array(0.25, 0.5, 0.25), chunkSize = 32)
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  /** Overlap-save with FORCED-FFT chunks — true overlap-save, the
    * O(n log m) path for long kernels (each 39-sample haloed chunk
    * convolves via FFT instead of the direct sum). The oracle is the
    * direct full-mode sum; parity is held by the fixed-point grid, not
    * bit-identity: kernel taps are 1/2^k (k=1..8) over 2-decimal data,
    * so every true output is an exact multiple of 1/25600 — scale
    * 2.56e4 encodes them as integers, and the FFT's ~1e-12 noise can
    * never move an integer across the .5 floor boundary (same
    * power-of-two-taps trick as sig_fftconvolve3d).
    */
  def sigConvolveLongFft(s: SparkSession, dir: String): DataFrame =
    Signal.convolveLong(evReal(installed(s), dir), Seq("user_id"), "t", "value",
      Array(0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125, 0.00390625),
      chunkSize = 32, method = "fft")
      .select(col("user_id"), col("pos"), fp(col("value"), 2.56e4).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigConvolveLongFftSql: String =
    s"""$sSql
       |SELECT s.user_id, CAST(s.j + h.i AS INT) AS pos,
       |  ${fpSql("SUM(s.value * h.w)", "2.56e4")} AS value_fp
       |FROM s, (VALUES (0, 0.5), (1, 0.25), (2, 0.125), (3, 0.0625), (4, 0.03125),
       |                (5, 0.015625), (6, 0.0078125), (7, 0.00390625)) h(i, w)
       |GROUP BY s.user_id, s.j + h.i
       |ORDER BY 1, 2""".stripMargin

  /** 2-D fftconvolve on the 64-frame reshaped to an 8×8 grid
    * (r = j div 8, c = j mod 8) with an asymmetric 2×2 kernel; the
    * oracle is the direct 2-D sum.
    */
  def sigFftconvolve2d(s: SparkSession, dir: String): DataFrame = {
    val grid = ev64(s, dir)
      .withColumn("r", expr("CAST(t AS INT) div 8"))
      .withColumn("c", expr("CAST(t AS INT) % 8"))
    Signal.fftconvolve2d(grid, Seq("user_id"), "r", "c", "value",
      Array(1.0, 0.5, 0.25, 0.125), kernelRows = 2)
      .select(col("user_id"), col("pos1"), col("pos2"),
        fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos1", "pos2")
  }

  private val sigFftconvolve2dSql: String =
    s"""$s64Sql
       |SELECT s.user_id,
       |  CAST(s.j // 8 + k.ki AS INT) AS pos1,
       |  CAST(s.j % 8 + k.kj AS INT) AS pos2,
       |  ${fpSql("SUM(s.value * k.w)", "1e6")} AS value_fp
       |FROM s, (VALUES (0, 0, 1.0), (0, 1, 0.5), (1, 0, 0.25), (1, 1, 0.125)) k(ki, kj, w)
       |GROUP BY s.user_id, s.j // 8 + k.ki, s.j % 8 + k.kj
       |ORDER BY 1, 2, 3""".stripMargin

  /** correlate2d (full): the flat-reversed-kernel identity end-to-end —
    * the oracle convolves with the EXPLICITLY 180°-rotated weight
    * table, so the two sides derive the rotation independently.
    */
  def sigCorrelate2d(s: SparkSession, dir: String): DataFrame = {
    val grid = ev64(s, dir)
      .withColumn("r", expr("CAST(t AS INT) div 8"))
      .withColumn("c", expr("CAST(t AS INT) % 8"))
    Signal.correlate2d(grid, Seq("user_id"), "r", "c", "value",
      Array(1.0, 0.5, 0.25, 0.125), kernelRows = 2)
      .select(col("user_id"), col("pos1"), col("pos2"),
        fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos1", "pos2")
  }

  private val sigCorrelate2dSql: String =
    s"""$s64Sql
       |SELECT s.user_id,
       |  CAST(s.j // 8 + k.ki AS INT) AS pos1,
       |  CAST(s.j % 8 + k.kj AS INT) AS pos2,
       |  ${fpSql("SUM(s.value * k.w)", "1e6")} AS value_fp
       |FROM s, (VALUES (0, 0, 0.125), (0, 1, 0.25), (1, 0, 0.5), (1, 1, 1.0)) k(ki, kj, w)
       |GROUP BY s.user_id, s.j // 8 + k.ki, s.j % 8 + k.kj
       |ORDER BY 1, 2, 3""".stripMargin

  /** Two-frame KEYED 2-D fftconvolve — the reference's
    * `fftconvolve(in1, in2, dims=[d1, d2])` with BOTH operands
    * labelled arrays (signal.py:41-48): in1 is the 8×8 grid; in2 is a
    * per-user 2×2 grid built from that user's first four samples
    * (j < 4 → (j div 2, j mod 2)). Exercises the keyed
    * joinSecondGrid path end-to-end; the oracle is the direct
    * per-user 2-D sum. Products are data×data of 2-decimal values —
    * EXACTLY 4-decimal results — so fixed-point encodes at 1e4: the
    * scaled true value is an integer, `+0.5` lands mid-interval, and
    * both engines' ulp-level summation noise is orders below the 5e-5
    * margin. (1e3 puts every 4th-decimal-5 value ON the .5 boundary,
    * where ulp noise flips floor — SURVEY.md §5 rule 1.)
    */
  def sigFftconvolve2dKeyed(s: SparkSession, dir: String): DataFrame = {
    val grid = ev64(s, dir)
      .withColumn("r", expr("CAST(t AS INT) div 8"))
      .withColumn("c", expr("CAST(t AS INT) % 8"))
    val kern = ev64(s, dir).filter(col("t") < 4)
      .select(col("user_id"),
        expr("CAST(t AS INT) div 2").as("r"),
        expr("CAST(t AS INT) % 2").as("c"),
        col("value"))
    Signal.fftconvolve2d(grid, kern, Seq("user_id"), "r", "c", "value", "full")
      .select(col("user_id"), col("pos1"), col("pos2"),
        fp4(col("value")).as("value_fp"))
      .orderBy("user_id", "pos1", "pos2")
  }

  private val sigFftconvolve2dKeyedSql: String =
    s"""$s64Sql
       |SELECT a.user_id,
       |  CAST(a.j // 8 + b.j // 2 AS INT) AS pos1,
       |  CAST(a.j % 8 + b.j % 2 AS INT) AS pos2,
       |  ${fpSql("SUM(a.value * b.value)", "1e4")} AS value_fp
       |FROM s a JOIN s b ON a.user_id = b.user_id AND b.j < 4
       |GROUP BY a.user_id, a.j // 8 + b.j // 2, a.j % 8 + b.j % 2
       |ORDER BY 1, 2, 3""".stripMargin

  /** 3-D fftconvolve on the 64-frame reshaped to a 4×4×4 cube
    * (d1 = j div 16, d2 = (j div 4) mod 4, d3 = j mod 4) with an
    * asymmetric 2×2×2 kernel (powers of ½, so every tap contributes a
    * distinct weight); the oracle is the direct 3-D sum.
    */
  def sigFftconvolve3d(s: SparkSession, dir: String): DataFrame = {
    val cube = ev64(s, dir)
      .withColumn("d1", expr("CAST(t AS INT) div 16"))
      .withColumn("d2", expr("(CAST(t AS INT) div 4) % 4"))
      .withColumn("d3", expr("CAST(t AS INT) % 4"))
    Signal.fftconvolveNd(cube, Seq("user_id"), Seq("d1", "d2", "d3"), "value",
      Array(1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125),
      Array(2, 2, 2))
      // scale 1.28e4, not a power of 10: events.value is an exact
      // 2-decimal grid and the kernel taps are 1/2^k (k<=7), so every
      // output is a rational with denominator 100*128 = 12800 — at a
      // power-of-10 scale those land EXACTLY on .5 rounding boundaries
      // and the engine's FFT noise (~1e-12) flips buckets vs the
      // oracle's direct sum. At scale 12800 every exact output maps to
      // an integer, where floor(n + 0.5 ± ε) is stable on both engines.
      .select(col("user_id"), col("pos1"), col("pos2"), col("pos3"),
        fp(col("value"), 1.28e4).as("value_fp"))
      .orderBy("user_id", "pos1", "pos2", "pos3")
  }

  private val sigFftconvolve3dSql: String =
    s"""$s64Sql
       |SELECT s.user_id,
       |  CAST(s.j // 16 + k.ki AS INT) AS pos1,
       |  CAST((s.j // 4) % 4 + k.kj AS INT) AS pos2,
       |  CAST(s.j % 4 + k.kl AS INT) AS pos3,
       |  ${fpSql("SUM(s.value * k.w)", "1.28e4")} AS value_fp
       |FROM s, (VALUES (0,0,0, 1.0), (0,0,1, 0.5), (0,1,0, 0.25), (0,1,1, 0.125),
       |                (1,0,0, 0.0625), (1,0,1, 0.03125), (1,1,0, 0.015625),
       |                (1,1,1, 0.0078125)) k(ki, kj, kl, w)
       |GROUP BY s.user_id, s.j // 16 + k.ki, (s.j // 4) % 4 + k.kj, s.j % 4 + k.kl
       |ORDER BY 1, 2, 3, 4""".stripMargin

  /** Cross-correlation with an asymmetric kernel (a symmetric one
    * would make correlate == convolve and test nothing).
    */
  def sigCorrelate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = Seq((0.0, 0.5), (1.0, 0.3), (2.0, 0.2)).toDF("t", "value")
    Signal.correlate(evReal(s, dir), k, Seq("user_id"), "t", "value", "full")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")
  }

  private val sigCorrelateSql: String =
    s"""$sSql
       |SELECT s.user_id, CAST(s.j + (2 - h.i) AS INT) AS pos,
       |  ${fpSql("SUM(s.value * h.w)", "1e6")} AS value_fp
       |FROM s, (VALUES (0, 0.5), (1, 0.3), (2, 0.2)) h(i, w)
       |GROUP BY s.user_id, s.j + (2 - h.i)
       |ORDER BY 1, 2""".stripMargin

  /** Batch STFT (window 16, hop 8) over the real-ts series — the batch
    * spectrogram twin of stream_stft (same window placement, same DFT,
    * no streaming harness): one seriesify shuffle, map-side window
    * explode, one kernel call per window. Output pins window ordinal,
    * start index, the window-closing coordinate, and all 9 bins.
    */
  def sigStft(s: SparkSession, dir: String): DataFrame =
    Signal.stft(evReal(s, dir), Seq("user_id"), "t", "value", w = 16, h = 8,
        window = "boxcar")
      .select(col("user_id"), col("win"), col("start"),
        fp6(col("coord")).as("coord_fp"), col("bin"),
        fp4(col("re")).as("re_fp"), fp4(col("im")).as("im_fp"))
      .orderBy("user_id", "start", "bin")

  private val sigStftSql: String =
    s"""$sSql, win AS (
       |  SELECT user_id, j AS st FROM s WHERE j % 8 = 0 AND j + 16 <= n
       |)
       |SELECT w.user_id, CAST(w.st // 8 AS INT) AS win, CAST(w.st AS INT) AS start,
       |  ${fpSql("anchor.t", "1e6")} AS coord_fp,
       |  CAST(k.b AS INT) AS bin,
       |  ${fpSql("SUM(x.value * COS(-2*PI()*k.b*(x.j - w.st)/16))", "1e4")} AS re_fp,
       |  ${fpSql("SUM(x.value * SIN(-2*PI()*k.b*(x.j - w.st)/16))", "1e4")} AS im_fp
       |FROM win w
       |JOIN s anchor ON anchor.user_id = w.user_id AND anchor.j = w.st + 15
       |JOIN s x ON x.user_id = w.user_id AND x.j >= w.st AND x.j < w.st + 16
       |CROSS JOIN range(9) k(b)
       |GROUP BY w.user_id, w.st, anchor.t, k.b
       |ORDER BY 1, 3, 5""".stripMargin

  /** Batch STFT with the DEFAULT hann taper (scipy.signal.stft's
    * convention, VERDICT r8 #3): each 16-sample window is multiplied
    * by the periodic hann weights 0.5 − 0.5·cos(2πi/16) before the
    * rfft. The oracle replays the same weight formula inside the DFT
    * sum; both engines evaluate the identical IEEE expression, so fp4
    * absorbs the cross-libm ulp noise exactly as in sig_stft.
    */
  def sigStftHann(s: SparkSession, dir: String): DataFrame =
    Signal.stft(evReal(s, dir), Seq("user_id"), "t", "value", w = 16, h = 8)
      .select(col("user_id"), col("win"), col("start"),
        fp6(col("coord")).as("coord_fp"), col("bin"),
        fp4(col("re")).as("re_fp"), fp4(col("im")).as("im_fp"))
      .orderBy("user_id", "start", "bin")

  private val sigStftHannSql: String =
    s"""$sSql, win AS (
       |  SELECT user_id, j AS st FROM s WHERE j % 8 = 0 AND j + 16 <= n
       |)
       |SELECT w.user_id, CAST(w.st // 8 AS INT) AS win, CAST(w.st AS INT) AS start,
       |  ${fpSql("anchor.t", "1e6")} AS coord_fp,
       |  CAST(k.b AS INT) AS bin,
       |  ${fpSql("SUM(x.value * (0.5 - 0.5*COS(2*PI()*(x.j - w.st)/16)) * COS(-2*PI()*k.b*(x.j - w.st)/16))", "1e4")} AS re_fp,
       |  ${fpSql("SUM(x.value * (0.5 - 0.5*COS(2*PI()*(x.j - w.st)/16)) * SIN(-2*PI()*k.b*(x.j - w.st)/16))", "1e4")} AS im_fp
       |FROM win w
       |JOIN s anchor ON anchor.user_id = w.user_id AND anchor.j = w.st + 15
       |JOIN s x ON x.user_id = w.user_id AND x.j >= w.st AND x.j < w.st + 16
       |CROSS JOIN range(9) k(b)
       |GROUP BY w.user_id, w.st, anchor.t, k.b
       |ORDER BY 1, 3, 5""".stripMargin

  /** STFT → ISTFT round trip (window 16, hop 8, hann): the overlap-add
    * inverse with scipy's squared-window-envelope normalization
    * reconstructs the original series EXACTLY wherever the envelope is
    * nonzero — for a periodic hann that is every covered sample except
    * sample 0 (its only covering tap is w[0] = 0, scipy's NOLA edge).
    * The oracle is therefore the ORIGINAL series with sample 0 zeroed,
    * restricted to the span the windows cover — a genuinely
    * independent derivation (no DFT replay at all); the fp6 grid
    * absorbs the kernel's FFT round-trip noise (~1e-12).
    */
  def sigIstft(s: SparkSession, dir: String): DataFrame = {
    val spec = Signal.stft(evReal(s, dir), Seq("user_id"), "t", "value",
      w = 16, h = 8)
    Signal.istft(spec, Seq("user_id"), w = 16, h = 8)
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")
  }

  private val sigIstftSql: String =
    s"""$sSql, par AS (
       |  SELECT user_id, n, ((n - 16) // 8) * 8 + 16 AS covered
       |  FROM s WHERE n >= 16 GROUP BY user_id, n
       |)
       |SELECT s.user_id, CAST(s.j AS INT) AS pos,
       |  ${fpSql("CASE WHEN s.j = 0 THEN 0.0 ELSE s.value END", "1e6")} AS value_fp
       |FROM s JOIN par ON par.user_id = s.user_id
       |WHERE s.j < par.covered
       |ORDER BY 1, 2""".stripMargin

  private val cwtWidths = Array(1.0, 2.0, 4.0)

  /** scipy.signal.cwt with the ricker wavelet at widths 1/2/4: one
    * "same"-mode convolution per width. The kernel receives the tap
    * doubles as plan literals fixed at the driver, and the oracle
    * inlines the IDENTICAL literals (shortest-repr printing round-trips
    * bit-exactly through DuckDB's parser), so both engines convolve the
    * same numbers and only summation order differs — the 1e4 grid
    * absorbs that (SURVEY §5 rule 1). Tap values themselves are
    * golden-tested against the published ricker closed form.
    */
  def sigCwt(s: SparkSession, dir: String): DataFrame =
    Signal.cwt(evReal(s, dir), Seq("user_id"), "t", "value", cwtWidths)
      .select(col("user_id"), col("width_idx"), col("pos"),
        fp4(col("value")).as("value_fp"))
      .orderBy("user_id", "width_idx", "pos")

  private val sigCwtSql: String = {
    val rows = cwtWidths.zipWithIndex.flatMap { case (a, wi) =>
      val taps = graft.dsp.Wavelet.ricker((10 * a).toInt, a)
      taps.zipWithIndex.map { case (v, ti) => s"($wi, ${taps.length}, $ti, $v)" }
    }.mkString(",\n       |  ").stripMargin
    s"""$sSql, taps(wi, m, ti, w) AS (VALUES
       |  $rows
       |)
       |SELECT s.user_id, CAST(t.wi AS INT) AS width_idx,
       |  CAST(s.j + t.ti - ((t.m - 1) // 2) AS INT) AS pos,
       |  ${fpSql("SUM(s.value * t.w)", "1e4")} AS value_fp
       |FROM s JOIN taps t
       |  ON s.j + t.ti - ((t.m - 1) // 2) >= 0
       | AND s.j + t.ti - ((t.m - 1) // 2) < s.n
       |GROUP BY s.user_id, t.wi, s.j + t.ti - ((t.m - 1) // 2)
       |ORDER BY 1, 2, 3""".stripMargin
  }

  private val lsFreqs = Array(0.5, 1.0, 2.0, 4.0)

  /** scipy.signal.lombscargle over the RAW (irregular) event times —
    * the one spectral estimator that needs no equispaced contract.
    * precenter=true (subtract the mean), center=true (per-series time
    * origin at the first event; the periodogram is shift-invariant and
    * small trig arguments keep cross-engine sin/cos within an ulp).
    * Kernel and oracle both evaluate the 2×2 normal-equation form
    * P = ½(c²ss − 2c·s·cs + s²cc)/(cc·ss − cs²) term by term — the
    * τ-rotation form's algebraic twin (equality spec-pinned), which
    * SQL can replay where atan2-based τ could not.
    */
  def sigLombscargle(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val src = evReal(s, dir)
      .withColumn("_cnt", count(lit(1)).over(w))
      .filter(col("_cnt") >= 2).drop("_cnt")
    Signal.lombscargle(src, Seq("user_id"), "t", "value", lsFreqs,
        precenter = true)
      .select(col("user_id"), col("fidx"), fp6(col("freq")).as("freq_fp"),
        fp4(col("pgram")).as("pgram_fp"))
      .orderBy("user_id", "fidx")
  }

  private val sigLombscargleSql: String = {
    val rows = lsFreqs.zipWithIndex
      .map { case (f, i) => s"($i, $f)" }.mkString(", ")
    s"""$sSql, ctr AS (
       |  SELECT user_id, MIN(t) AS t0, AVG(value) AS m
       |  FROM s WHERE n >= 2 GROUP BY 1
       |), f(fi, w) AS (VALUES $rows),
       |acc AS (
       |  SELECT s.user_id, f.fi, f.w,
       |    SUM((s.value - c.m) * COS(f.w * (s.t - c.t0))) AS cth,
       |    SUM((s.value - c.m) * SIN(f.w * (s.t - c.t0))) AS sth,
       |    SUM(COS(f.w * (s.t - c.t0)) * COS(f.w * (s.t - c.t0))) AS cc,
       |    SUM(SIN(f.w * (s.t - c.t0)) * SIN(f.w * (s.t - c.t0))) AS ss,
       |    SUM(COS(f.w * (s.t - c.t0)) * SIN(f.w * (s.t - c.t0))) AS cs
       |  FROM s JOIN ctr c ON c.user_id = s.user_id CROSS JOIN f
       |  GROUP BY 1, 2, 3
       |)
       |SELECT user_id, CAST(fi AS INT) AS fidx,
       |  ${fpSql("w", "1e6")} AS freq_fp,
       |  ${fpSql("0.5 * (cth*cth*ss - 2*cth*sth*cs + sth*sth*cc) / (cc*ss - cs*cs)", "1e4")} AS pgram_fp
       |FROM acc ORDER BY 1, 2""".stripMargin
  }

  /** scipy.signal.detrend(type="linear") per user: remove the
    * per-series least-squares line over the sample index. The oracle
    * recomputes the closed-form slope/intercept with SQL aggregates —
    * a structurally different float association from the kernel's
    * sequential sums, so residuals encode at the 1e4 grid (SURVEY §5
    * rule 1).
    */
  // value_fp back on the 1e4 grid (r15 coarsened it to 1e2): the old
  // oracle's PARALLEL slope summation carried load-dependent ~1e-12
  // jitter that clipped one of a million ×10 rows across a boundary;
  // the oracle now folds each series' sums in a FIXED order (list
  // aggregation ordered by j + list_dot_product — the kmeans-oracle
  // fix pattern), so the replay is bit-stable across DuckDB thread
  // schedules and the fine grid is safe again (VERDICT r16 #4).
  def sigDetrend(s: SparkSession, dir: String): DataFrame =
    Signal.detrend(evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"), fp6(col("t")).as("t_fp"),
        fp4(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigDetrendSql: String =
    s"""$sSql, lv AS (
       |  SELECT user_id, list(value ORDER BY j) AS vl, COUNT(*) AS n
       |  FROM s GROUP BY 1
       |), st AS (
       |  SELECT user_id, list_sum(vl) / n AS vbar, (n - 1) / 2.0 AS jbar, vl
       |  FROM lv
       |), sl AS (
       |  SELECT user_id, jbar, vbar,
       |    list_dot_product(
       |      list_transform(vl, (x, i) -> CAST(i - 1 AS DOUBLE) - jbar),
       |      list_transform(vl, (x, i) -> x - vbar)) /
       |    list_dot_product(
       |      list_transform(vl, (x, i) -> CAST(i - 1 AS DOUBLE) - jbar),
       |      list_transform(vl, (x, i) -> CAST(i - 1 AS DOUBLE) - jbar)) AS b
       |  FROM st
       |)
       |SELECT s.user_id, CAST(s.j AS INT) AS pos,
       |  ${fpSql("s.t", "1e6")} AS t_fp,
       |  ${fpSql("s.value - (sl.vbar + sl.b * (s.j - sl.jbar))", "1e4")} AS value_fp
       |FROM s JOIN sl ON sl.user_id = s.user_id
       |ORDER BY 1, 2""".stripMargin

  /** scipy.signal.welch per user (nperseg=16, noverlap=8, hann,
    * detrend="constant", fs=2.0 — scipy's explicit-fs path so the
    * frequency axis b·fs/16 = b/8 is exact binary): averaged
    * periodogram, onesided density scaling with DC and Nyquist not
    * doubled. The whole estimate is ONE kernel call per series after
    * the seriesify shuffle. The oracle replays segmentation (same
    * window placement as sig_stft), per-segment AVG removal, the
    * hann-tapered naive DFT, the |X|² mean, and the 1/(fs·Σw²)
    * scaling; everything float reassociates, hence the 1e4 grid.
    */
  def sigWelch(s: SparkSession, dir: String): DataFrame =
    Signal.welch(evReal(s, dir), Seq("user_id"), "t", "value",
        nperseg = 16, fs = 2.0)
      .select(col("user_id"), col("pos"), fp6(col("frequency")).as("freq_fp"),
        fp4(col("psd")).as("psd_fp"))
      .orderBy("user_id", "pos")

  private val sigWelchSql: String =
    s"""$sSql, win AS (
       |  SELECT user_id, j AS st FROM s WHERE j % 8 = 0 AND j + 16 <= n
       |), nseg AS (
       |  SELECT user_id, COUNT(*) AS ns FROM win GROUP BY 1
       |), sm AS (
       |  SELECT w.user_id, w.st, AVG(x.value) AS m
       |  FROM win w JOIN s x ON x.user_id = w.user_id AND x.j >= w.st AND x.j < w.st + 16
       |  GROUP BY 1, 2
       |), spec AS (
       |  SELECT w.user_id, w.st, k.b,
       |    SUM((x.value - sm.m) * (0.5 - 0.5*COS(2*PI()*(x.j - w.st)/16))
       |        * COS(-2*PI()*k.b*(x.j - w.st)/16)) AS re,
       |    SUM((x.value - sm.m) * (0.5 - 0.5*COS(2*PI()*(x.j - w.st)/16))
       |        * SIN(-2*PI()*k.b*(x.j - w.st)/16)) AS im
       |  FROM win w
       |  JOIN sm ON sm.user_id = w.user_id AND sm.st = w.st
       |  JOIN s x ON x.user_id = w.user_id AND x.j >= w.st AND x.j < w.st + 16
       |  CROSS JOIN range(9) k(b)
       |  GROUP BY 1, 2, 3
       |), w2 AS (
       |  SELECT SUM(POWER(0.5 - 0.5*COS(2*PI()*i/16), 2)) AS v FROM range(16) r(i)
       |)
       |SELECT sp.user_id, CAST(sp.b AS INT) AS pos,
       |  ${fpSql("sp.b * (1.0/(16 * 0.5))", "1e6")} AS freq_fp,
       |  ${fpSql("SUM(sp.re*sp.re + sp.im*sp.im) / (2.0 * (SELECT v FROM w2) * ANY_VALUE(ns.ns)) * (CASE WHEN sp.b = 0 OR sp.b = 8 THEN 1.0 ELSE 2.0 END)", "1e4")} AS psd_fp
       |FROM spec sp JOIN nseg ns ON ns.user_id = sp.user_id
       |GROUP BY sp.user_id, sp.b
       |ORDER BY 1, 2""".stripMargin

  /** scipy.signal.spectrogram per user with scipy's exact defaults:
    * ('tukey', 0.25) window, per-window constant detrend, psd mode,
    * density scaling, hop = nperseg − nperseg//8 = 14, fs=2.0. The
    * tukey weights are fixed at the driver and the oracle inlines the
    * IDENTICAL literals (same scheme as sig_cwt); the rest replays the
    * demeaned tapered naive DFT and the 1/(fs·Σw²) scaling.
    */
  def sigSpectrogram(s: SparkSession, dir: String): DataFrame =
    Signal.spectrogram(evReal(s, dir), Seq("user_id"), "t", "value",
        w = 16, h = 14, fs = 2.0)
      .select(col("user_id"), col("win"), col("start"),
        fp6(col("coord")).as("coord_fp"), col("bin"),
        fp6(col("frequency")).as("freq_fp"),
        // per-window psd is |X|^2-scaled (magnitudes 1e3-1e4, squaring
        // doubles the relative reassociation error) — the 1e2 grid
        // keeps the boundary ~100x above the cross-engine noise where
        // fp4 collided a few-in-250k times at sf0.1
        fp(col("psd"), 1e2).as("psd_fp"))
      .orderBy("user_id", "start", "bin")

  private val sigSpectrogramSql: String = {
    val wts = graft.dsp.Resample.tukeyPeriodic(16, 0.25)
    val rows = wts.zipWithIndex.map { case (v, i) => s"($i, $v)" }.mkString(", ")
    s"""$sSql, wt(i, v) AS (VALUES $rows),
       |win AS (
       |  SELECT user_id, j AS st FROM s WHERE j % 14 = 0 AND j + 16 <= n
       |), sm AS (
       |  SELECT w.user_id, w.st, AVG(x.value) AS m
       |  FROM win w JOIN s x ON x.user_id = w.user_id AND x.j >= w.st AND x.j < w.st + 16
       |  GROUP BY 1, 2
       |), spec AS (
       |  SELECT w.user_id, w.st, k.b,
       |    SUM((x.value - sm.m) * wt.v * COS(-2*PI()*k.b*(x.j - w.st)/16)) AS re,
       |    SUM((x.value - sm.m) * wt.v * SIN(-2*PI()*k.b*(x.j - w.st)/16)) AS im
       |  FROM win w
       |  JOIN sm ON sm.user_id = w.user_id AND sm.st = w.st
       |  JOIN s x ON x.user_id = w.user_id AND x.j >= w.st AND x.j < w.st + 16
       |  JOIN wt ON wt.i = x.j - w.st
       |  CROSS JOIN range(9) k(b)
       |  GROUP BY 1, 2, 3
       |), w2 AS (
       |  SELECT SUM(v*v) AS v FROM wt
       |)
       |SELECT sp.user_id, CAST(sp.st // 14 AS INT) AS win, CAST(sp.st AS INT) AS start,
       |  ${fpSql("anchor.t", "1e6")} AS coord_fp,
       |  CAST(sp.b AS INT) AS bin,
       |  ${fpSql("(sp.b * 2.0) / 16", "1e6")} AS freq_fp,
       |  ${fpSql("(sp.re*sp.re + sp.im*sp.im) * (CASE WHEN sp.b = 0 OR sp.b = 8 THEN 1.0 ELSE 2.0 END) / (2.0 * (SELECT v FROM w2))", "1e2")} AS psd_fp
       |FROM spec sp
       |JOIN s anchor ON anchor.user_id = sp.user_id AND anchor.j = sp.st + 15
       |ORDER BY 1, 3, 5""".stripMargin
  }

  /** scipy.signal.welch(average="median") per user — Welch's robust
    * variant: the per-bin MEDIAN of the per-segment raw powers
    * replaces the mean (one spiky segment no longer poisons the
    * estimate), divided by scipy's _median_bias(ns) small-sample
    * correction 1 + Σ_{k=1}^{(ns−1)/2}(1/(2k+1) − 1/(2k)). Same
    * segmentation/taper/scaling as sig_welch. The oracle's MEDIAN is
    * DuckDB's quantile_cont(0.5) — the kernel interpolates even counts
    * by the identical lo + (hi−lo)·0.5 — and the bias sum replays via
    * a bounded lateral range join.
    */
  def sigWelchMedian(s: SparkSession, dir: String): DataFrame =
    Signal.welch(evReal(s, dir), Seq("user_id"), "t", "value",
        nperseg = 16, fs = 2.0, average = "median")
      .select(col("user_id"), col("pos"), fp6(col("frequency")).as("freq_fp"),
        fp4(col("psd")).as("psd_fp"))
      .orderBy("user_id", "pos")

  private val sigWelchMedianSql: String =
    s"""$sSql, win AS (
       |  SELECT user_id, j AS st FROM s WHERE j % 8 = 0 AND j + 16 <= n
       |), nseg AS (
       |  SELECT user_id, COUNT(*) AS ns FROM win GROUP BY 1
       |), bias AS (
       |  SELECT n.user_id,
       |    1 + COALESCE(SUM(1.0/(2*(i.i+1)+1) - 1.0/(2*(i.i+1))), 0) AS v
       |  FROM nseg n LEFT JOIN range(5000) i(i) ON i.i + 1 <= (n.ns - 1) // 2
       |  GROUP BY 1
       |), sm AS (
       |  SELECT w.user_id, w.st, AVG(x.value) AS m
       |  FROM win w JOIN s x ON x.user_id = w.user_id AND x.j >= w.st AND x.j < w.st + 16
       |  GROUP BY 1, 2
       |), spec AS (
       |  SELECT w.user_id, w.st, k.b,
       |    SUM((x.value - sm.m) * (0.5 - 0.5*COS(2*PI()*(x.j - w.st)/16))
       |        * COS(-2*PI()*k.b*(x.j - w.st)/16)) AS re,
       |    SUM((x.value - sm.m) * (0.5 - 0.5*COS(2*PI()*(x.j - w.st)/16))
       |        * SIN(-2*PI()*k.b*(x.j - w.st)/16)) AS im
       |  FROM win w
       |  JOIN sm ON sm.user_id = w.user_id AND sm.st = w.st
       |  JOIN s x ON x.user_id = w.user_id AND x.j >= w.st AND x.j < w.st + 16
       |  CROSS JOIN range(9) k(b)
       |  GROUP BY 1, 2, 3
       |), w2 AS (
       |  SELECT SUM(POWER(0.5 - 0.5*COS(2*PI()*i/16), 2)) AS v FROM range(16) r(i)
       |)
       |SELECT sp.user_id, CAST(sp.b AS INT) AS pos,
       |  ${fpSql("sp.b * (1.0/(16 * 0.5))", "1e6")} AS freq_fp,
       |  ${fpSql("MEDIAN(sp.re*sp.re + sp.im*sp.im) / ANY_VALUE(bi.v) / (2.0 * (SELECT v FROM w2)) * (CASE WHEN sp.b = 0 OR sp.b = 8 THEN 1.0 ELSE 2.0 END)", "1e4")} AS psd_fp
       |FROM spec sp JOIN bias bi ON bi.user_id = sp.user_id
       |GROUP BY sp.user_id, sp.b
       |ORDER BY 1, 2""".stripMargin

  /** scipy.signal.periodogram per user (boxcar, constant detrend,
    * fs=2.0): the whole series as one Welch segment. The oracle is a
    * naive demeaned DFT over all n/2+1 bins with the density scaling
    * |X|²/(fs·n) and the one-sided doubling (Nyquist bin undoubled via
    * the 2j = n test, which also covers odd n).
    */
  def sigPeriodogram(s: SparkSession, dir: String): DataFrame =
    // psd compares on a 0.1 grid, NOT fp4: the kernel's radix-2 FFT
    // and the oracle's naive DFT sum agree only to the double
    // rounding envelope (measured max |diff| 3.0e-10 psd-units over
    // every (user, bin) at sf0.1 — trig/summation-order ulps on
    // squared ~1e4-scale spectra), so a 1e-4 grid has ~9 measured
    // boundary hits at sf0.1 (the round-12 ×10 gate caught exactly
    // this; fp2 still clips one). 0.1 puts the boundary odds at
    // ~3e-9/row while still pinning psd to 5 significant digits —
    // far tighter than any real windowing/scaling defect.
    Signal.periodogram(evReal(s, dir), Seq("user_id"), "t", "value", fs = 2.0)
      .select(col("user_id"), col("pos"), fp6(col("frequency")).as("freq_fp"),
        graft.Tables.fp(col("psd"), 10).as("psd_fp"))
      .orderBy("user_id", "pos")

  private val sigPeriodogramSql: String =
    s"""$sSql, st AS (
       |  SELECT user_id, AVG(value) AS vbar FROM s GROUP BY 1
       |)
       |SELECT a.user_id, CAST(a.j AS INT) AS pos,
       |  ${fpSql("a.j * (1.0/(a.n * 0.5))", "1e6")} AS freq_fp,
       |  ${fpSql("(POWER(SUM((b.value - st.vbar) * COS(-2*PI()*a.j*b.j/a.n)), 2) + POWER(SUM((b.value - st.vbar) * SIN(-2*PI()*a.j*b.j/a.n)), 2)) / (2.0 * a.n) * (CASE WHEN a.j = 0 OR 2*a.j = a.n THEN 1.0 ELSE 2.0 END)", "10")} AS psd_fp
       |FROM s a JOIN s b ON a.user_id = b.user_id
       |JOIN st ON st.user_id = a.user_id
       |WHERE a.j <= a.n // 2
       |GROUP BY a.user_id, a.j, a.n, st.vbar
       |ORDER BY 1, 2""".stripMargin

  /** scipy.signal.zoom_fft per user: 20 spectrum points on the band
    * [0.1, 0.5) only (endpoint=false). The oracle evaluates the same
    * band-limited DFT sum per (user, bin) with the frequency grid
    * written as the same double expression ((0.5−0.1)/20 step), so the
    * axes agree bitwise and only the trig sums ride the fp4 grid.
    */
  def sigZoomFft(s: SparkSession, dir: String): DataFrame =
    Signal.zoomFft(evReal(s, dir), Seq("user_id"), "t", "value",
        f1 = 0.1, f2 = 0.5, m = 20, fs = 2.0)
      .select(col("user_id"), col("pos"), fp6(col("frequency")).as("freq_fp"),
        fp4(col("re")).as("re_fp"), fp4(col("im")).as("im_fp"))
      .orderBy("user_id", "pos")

  private val sigZoomFftSql: String = {
    val fk = "(0.1 + k.k * ((0.5 - 0.1) / 20))"
    s"""$sSql
       |SELECT b.user_id, CAST(k.k AS INT) AS pos,
       |  ${fpSql(fk, "1e6")} AS freq_fp,
       |  ${fpSql(s"SUM(b.value * COS(-2*PI()*$fk*b.j/2.0))", "1e4")} AS re_fp,
       |  ${fpSql(s"SUM(b.value * SIN(-2*PI()*$fk*b.j/2.0))", "1e4")} AS im_fp
       |FROM s b CROSS JOIN range(20) k(k)
       |GROUP BY b.user_id, k.k
       |ORDER BY 1, 2""".stripMargin
  }

  /** scipy.signal.czt per user on a genuinely SPIRAL contour
    * (|a| = 1.001 start, |w| = 0.9995 step — both off the unit
    * circle, the case zoom_fft cannot express), m = 16 points with
    * DFT-spaced phases. Exponents stay bounded on real series
    * lengths (≤ a few hundred samples → |exponent| < 3). The oracle
    * replays the polar term sum; LN/EXP/trig ulp skew between engines
    * is ~1e-10 at these magnitudes, far under the fp4 grid.
    */
  def sigCzt(s: SparkSession, dir: String): DataFrame =
    Signal.czt(evReal(s, dir), Seq("user_id"), "t", "value",
        m = 16, wMod = 0.9995, wPhi = -2.0 * math.Pi / 16,
        aMod = 1.001, aPhi = 0.05)
      .select(col("user_id"), col("pos"), col("k"),
        fp4(col("re")).as("re_fp"), fp4(col("im")).as("im_fp"))
      .orderBy("user_id", "pos")

  private val sigCztSql: String = {
    val mag = "EXP(-b.j * LN(1.001) + b.j * k.k * LN(0.9995))"
    val ang = "(-b.j * 0.05 + b.j * k.k * (-2 * PI() / 16))"
    s"""$sSql
       |SELECT b.user_id, CAST(k.k AS INT) AS pos, CAST(k.k AS INT) AS k,
       |  ${fpSql(s"SUM(b.value * $mag * COS($ang))", "1e4")} AS re_fp,
       |  ${fpSql(s"SUM(b.value * $mag * SIN($ang))", "1e4")} AS im_fp
       |FROM s b CROSS JOIN range(16) k(k)
       |GROUP BY b.user_id, k.k
       |ORDER BY 1, 2""".stripMargin
  }

  /** scipy.signal.medfilt(kernel_size=5) per user: sliding median,
    * zero-padded edges. The oracle rebuilds each window by an offset
    * join (LEFT JOIN nulls become the zero padding) and takes DuckDB's
    * MEDIAN — with an odd window the median SELECTS an input value
    * (no interpolation arithmetic), so both engines emit bit-identical
    * doubles and the fp grid only normalizes representation.
    */
  def sigMedfilt(s: SparkSession, dir: String): DataFrame =
    Signal.medfilt(evReal(s, dir), Seq("user_id"), "t", "value", kernelSize = 5)
      .select(col("user_id"), col("pos"), fp6(col("t")).as("t_fp"),
        fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigMedfiltSql: String =
    s"""$sSql
       |SELECT s.user_id, CAST(s.j AS INT) AS pos,
       |  ${fpSql("s.t", "1e6")} AS t_fp,
       |  ${fpSql("MEDIAN(COALESCE(x.value, 0.0))", "1e6")} AS value_fp
       |FROM s CROSS JOIN range(-2, 3) o(o)
       |LEFT JOIN s x ON x.user_id = s.user_id AND x.j = s.j + o.o
       |GROUP BY s.user_id, s.j, s.t
       |ORDER BY 1, 2""".stripMargin

  /** scipy.signal.order_filter(size=5, rank=1) per user: the second
    * smallest of each zero-padded window. The oracle collects each
    * offset-join window into a list and indexes its sort — pure
    * selection, so both engines emit bit-identical doubles.
    */
  def sigOrderFilter(s: SparkSession, dir: String): DataFrame =
    Signal.orderFilter(evReal(s, dir), Seq("user_id"), "t", "value",
        size = 5, rank = 1)
      .select(col("user_id"), col("pos"), fp6(col("t")).as("t_fp"),
        fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigOrderFilterSql: String =
    s"""$sSql
       |SELECT s.user_id, CAST(s.j AS INT) AS pos,
       |  ${fpSql("s.t", "1e6")} AS t_fp,
       |  ${fpSql("list_sort(list(COALESCE(x.value, 0.0)))[2]", "1e6")} AS value_fp
       |FROM s CROSS JOIN range(-2, 3) o(o)
       |LEFT JOIN s x ON x.user_id = s.user_id AND x.j = s.j + o.o
       |GROUP BY s.user_id, s.j, s.t
       |ORDER BY 1, 2""".stripMargin

  /** scipy.signal.wiener(size=5) per user: adaptive local-statistics
    * filter, noise floor estimated as the per-series mean local
    * variance. The oracle rebuilds lMean/lVar from the same offset
    * join and replays the lVar < noise branch; float association
    * differs everywhere (sequential kernel sums vs SQL aggregates), so
    * values encode at the 1e4 grid. The branch compare itself is
    * strict on floats — same accepted hazard as the TTL oracles, and
    * the continuous inputs keep |lVar - noise| far from the epsilon.
    */
  def sigWiener(s: SparkSession, dir: String): DataFrame =
    Signal.wiener(evReal(s, dir), Seq("user_id"), "t", "value", size = 5)
      .select(col("user_id"), col("pos"), fp6(col("t")).as("t_fp"),
        fp4(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigWienerSql: String =
    s"""$sSql, lm AS (
       |  SELECT s.user_id, s.j, s.t, s.value,
       |    SUM(COALESCE(x.value, 0.0)) / 5.0 AS m,
       |    SUM(COALESCE(x.value, 0.0) * COALESCE(x.value, 0.0)) / 5.0 AS s2
       |  FROM s CROSS JOIN range(-2, 3) o(o)
       |  LEFT JOIN s x ON x.user_id = s.user_id AND x.j = s.j + o.o
       |  GROUP BY 1, 2, 3, 4
       |), lv AS (
       |  SELECT *, s2 - m*m AS var FROM lm
       |), nz AS (
       |  SELECT user_id, AVG(var) AS noise FROM lv GROUP BY 1
       |)
       |SELECT lv.user_id, CAST(lv.j AS INT) AS pos,
       |  ${fpSql("lv.t", "1e6")} AS t_fp,
       |  ${fpSql("CASE WHEN lv.var < nz.noise THEN lv.m ELSE lv.m + (lv.value - lv.m) * (1.0 - nz.noise / lv.var) END", "1e4")} AS value_fp
       |FROM lv JOIN nz ON nz.user_id = lv.user_id
       |ORDER BY 1, 2""".stripMargin

  /** xarray-style grid resample per user: linear interpolation onto a
    * 64-point 60-second grid anchored at each series' first sample,
    * numpy.interp clamp-to-edge outside the span (the grid outruns
    * short series, exercising the clamp). Oracle rebuilds the
    * bracketing samples with FILTERed ARG_MAX/ARG_MIN and replays the
    * identical interpolation expression.
    */
  def sigInterpGrid(s: SparkSession, dir: String): DataFrame =
    Signal.interpGrid(evReal(s, dir), Seq("user_id"), "t", "value",
        step = 60.0, n = 64)
      .select(col("user_id"), col("pos"), fp6(col("t")).as("t_fp"),
        fp4(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigInterpGridSql: String =
    s"""$sSql, nn AS (
       |  SELECT user_id, MIN(t) AS t0 FROM s GROUP BY 1
       |), gp AS (
       |  SELECT user_id, unnest(generate_series(0, 63)) AS gi,
       |    t0 + unnest(generate_series(0, 63)) * CAST(60.0 AS DOUBLE) AS g
       |  FROM nn
       |), br AS (
       |  SELECT gp.user_id, gp.gi, gp.g,
       |    MAX(x.t) FILTER (x.t <= gp.g) AS tlo,
       |    ARG_MAX(x.value, x.t) FILTER (x.t <= gp.g) AS vlo,
       |    MIN(x.t) FILTER (x.t > gp.g) AS thi,
       |    ARG_MIN(x.value, x.t) FILTER (x.t > gp.g) AS vhi
       |  FROM gp JOIN s x ON x.user_id = gp.user_id
       |  GROUP BY 1, 2, 3
       |)
       |SELECT user_id, CAST(gi AS INT) AS pos,
       |  ${fpSql("g", "1e6")} AS t_fp,
       |  ${fpSql("CASE WHEN tlo IS NULL THEN vhi WHEN thi IS NULL THEN vlo ELSE vlo + (vhi - vlo) * ((g - tlo) / (thi - tlo)) END", "1e4")} AS value_fp
       |FROM br
       |ORDER BY 1, 2""".stripMargin

  /** scipy.signal.upfirdn(h, x, up=3, down=2) per user with literal
    * taps. The oracle evaluates the polyphase identity directly:
    * y[m] = Σⱼ x[j]·h[m·down − j·up] over in-range taps, with the
    * output index set generated per series from its length
    * (out_len = ceil(((n−1)·up + L)/down)).
    */
  def sigUpfirdn(s: SparkSession, dir: String): DataFrame =
    Signal.upfirdn(evReal(s, dir), Seq("user_id"), "t", "value",
        Array(0.25, 0.5, 1.0, 0.5, 0.25), up = 3, down = 2)
      .select(col("user_id"), col("pos"), fp4(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigUpfirdnSql: String =
    s"""$sSql, nn AS (
       |  SELECT user_id, MAX(n) AS n FROM s GROUP BY 1
       |), m AS (
       |  SELECT user_id, unnest(generate_series(0, CAST(((n-1)*3 + 5 - 1) // 2 AS INT))) AS pos
       |  FROM nn
       |)
       |SELECT m.user_id, CAST(m.pos AS INT) AS pos,
       |  ${fpSql("SUM(b.value * (CASE m.pos*2 - b.j*3 WHEN 0 THEN 0.25 WHEN 1 THEN 0.5 WHEN 2 THEN 1.0 WHEN 3 THEN 0.5 WHEN 4 THEN 0.25 END))", "1e4")} AS value_fp
       |FROM m JOIN s b ON b.user_id = m.user_id
       |  AND m.pos*2 - b.j*3 BETWEEN 0 AND 4
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** scipy.signal.resample_poly(x, 3, 2) per user. The kaiser-windowed
    * anti-alias taps cannot be designed in SQL, so the oracle inlines
    * the 61 golden-tested taps (Design.firwinLowpassW × up — verified
    * against numpy.kaiser in UpfirdnSpec) as literals and replays the
    * published padding arithmetic: joined tap index
    * (pos + n_pre_remove)·down − j·up − n_pre_pad, output sliced to
    * ceil(n·up/down). The oracle therefore independently verifies the
    * distributed machinery and the polyphase evaluation; the tap
    * VALUES are design constants, like the savgol table.
    */
  def sigResamplePoly(s: SparkSession, dir: String): DataFrame =
    Signal.resamplePoly(evReal(s, dir), Seq("user_id"), "t", "value",
        up = 3, down = 2)
      .select(col("user_id"), col("pos"), fp4(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigResamplePolySql: String = {
    // up=3, down=2: maxRate 3, halfLen 30, 61 taps, nPrePad = 2-30%2 = 2,
    // nPreRemove = (30+2)/2 = 16 — the same arithmetic the kernel runs
    val up = 3
    val down = 2
    val halfLen = 10 * math.max(up, down)
    val h0 = graft.dsp.Design.firwinLowpassW(2 * halfLen + 1,
      1.0 / math.max(up, down), graft.dsp.Design.kaiser(2 * halfLen + 1, 5.0))
      .map(_ * up)
    val nPrePad = down - halfLen % down
    val nPreRemove = (halfLen + nPrePad) / down
    val taps = h0.zipWithIndex
      .map { case (w, k) => s"($k, ${"%.17g".format(w)})" }.mkString(", ")
    s"""$sSql, nn AS (
       |  SELECT user_id, MAX(n) AS n FROM s GROUP BY 1
       |), taps(k, w) AS (
       |  SELECT * FROM (VALUES $taps)
       |), m AS (
       |  SELECT user_id, unnest(generate_series(0, CAST(($up*n + $down - 1) // $down AS INT) - 1)) AS pos
       |  FROM nn
       |)
       |SELECT m.user_id, CAST(m.pos AS INT) AS pos,
       |  ${fpSql("SUM(b.value * t.w)", "1e4")} AS value_fp
       |FROM m JOIN s b ON b.user_id = m.user_id
       |JOIN taps t ON t.k = (m.pos + $nPreRemove)*$down - b.j*$up - $nPrePad
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  /** scipy.signal.savgol_filter(window=5, polyorder=2, mode=constant)
    * per user. The kernel derives coefficients by solving the normal
    * equations; the oracle convolves with the PUBLISHED Savitzky-Golay
    * table (-3,12,17,12,-3)/35 over the same offset join as medfilt —
    * two fully independent derivations of the same filter.
    */
  def sigSavgol(s: SparkSession, dir: String): DataFrame =
    Signal.savgol(evReal(s, dir), Seq("user_id"), "t", "value",
        window = 5, polyorder = 2, mode = "constant")
      .select(col("user_id"), col("pos"), fp6(col("t")).as("t_fp"),
        fp4(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigSavgolSql: String =
    s"""$sSql
       |SELECT s.user_id, CAST(s.j AS INT) AS pos,
       |  ${fpSql("s.t", "1e6")} AS t_fp,
       |  ${fpSql("SUM((CASE o.o WHEN -2 THEN -3.0 WHEN -1 THEN 12.0 WHEN 0 THEN 17.0 WHEN 1 THEN 12.0 WHEN 2 THEN -3.0 END / 35.0) * COALESCE(x.value, 0.0))", "1e4")} AS value_fp
       |FROM s CROSS JOIN range(-2, 3) o(o)
       |LEFT JOIN s x ON x.user_id = s.user_id AND x.j = s.j + o.o
       |GROUP BY s.user_id, s.j, s.t
       |ORDER BY 1, 2""".stripMargin

  /** savgol deriv=1 (the least-squares SLOPE filter): the oracle
    * convolves with the classic published (-2,-1,0,1,2)/10 derivative
    * table — the kernel derives the same taps from the generic normal
    * equations (spec-pinned), two independent derivations again.
    */
  def sigSavgolDeriv(s: SparkSession, dir: String): DataFrame =
    Signal.savgol(evReal(s, dir), Seq("user_id"), "t", "value",
        window = 5, polyorder = 2, mode = "constant", deriv = 1)
      .select(col("user_id"), col("pos"), fp4(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigSavgolDerivSql: String =
    s"""$sSql
       |SELECT s.user_id, CAST(s.j AS INT) AS pos,
       |  ${fpSql("SUM((o.o / 10.0) * COALESCE(x.value, 0.0))", "1e4")} AS value_fp
       |FROM s CROSS JOIN range(-2, 3) o(o)
       |LEFT JOIN s x ON x.user_id = s.user_id AND x.j = s.j + o.o
       |GROUP BY s.user_id, s.j
       |ORDER BY 1, 2""".stripMargin

  /** scipy.signal.find_peaks(height=0, prominence=0.5) per user: the
    * filtered front door of the peaks family (distance left at 1 — its
    * greedy selection is sequential and spec-pinned instead). The
    * oracle reuses the peak/prominence SQL chain: plateau-midpoint
    * local maxima, strict-greater base search, prominence = hp −
    * GREATEST(lm, rm); the filters compare exact sample doubles, so
    * both engines cut identically.
    */
  def sigFindPeaks(s: SparkSession, dir: String): DataFrame =
    Signal.findPeaks(evReal(s, dir), Seq("user_id"), "t", "value",
        height = 0.0, distance = 1, prominence = 0.5, wlen = -1)
      .select(col("user_id"), col("pos"), col("peak"),
        fp6(col("height")).as("height_fp"))
      .orderBy("user_id", "pos")

  private val sigFindPeaksSql: String =
    s"""$sSql, nx AS (
       |  SELECT cur.user_id, cur.j, cur.value, nxt.value AS vnext
       |  FROM s cur JOIN s nxt ON nxt.user_id = cur.user_id AND nxt.j = cur.j + 1
       |), pk0 AS (
       |  SELECT a.user_id, a.j AS i, a.value AS v, a.n
       |  FROM s a JOIN s l ON l.user_id = a.user_id AND l.j = a.j - 1
       |  WHERE l.value < a.value AND a.j <= a.n - 2
       |), pe AS (
       |  SELECT p.user_id, p.i, p.v, p.n,
       |    MIN(nx.j) FILTER (WHERE nx.vnext != p.v) AS jend
       |  FROM pk0 p JOIN nx ON nx.user_id = p.user_id AND nx.j >= p.i
       |  GROUP BY 1, 2, 3, 4
       |), pk AS (
       |  SELECT pe.user_id, (pe.i + pe.jend) // 2 AS p, pe.v AS hp, pe.n
       |  FROM pe JOIN nx e ON e.user_id = pe.user_id AND e.j = pe.jend
       |  WHERE pe.jend IS NOT NULL AND e.vnext < pe.v
       |), st AS (
       |  SELECT pk.user_id, pk.p, pk.hp, pk.n,
       |    COALESCE(MAX(b.j) FILTER (WHERE b.j < pk.p AND b.value > pk.hp) + 1, 0) AS lo,
       |    COALESCE(MIN(b.j) FILTER (WHERE b.j > pk.p AND b.value > pk.hp) - 1, pk.n - 1) AS hi
       |  FROM pk JOIN s b ON b.user_id = pk.user_id
       |  GROUP BY 1, 2, 3, 4
       |), mn AS (
       |  SELECT st.user_id, st.p, st.hp,
       |    MIN(b.value) FILTER (WHERE b.j >= st.lo AND b.j <= st.p) AS lm,
       |    MIN(b.value) FILTER (WHERE b.j >= st.p AND b.j <= st.hi) AS rm
       |  FROM st JOIN s b ON b.user_id = st.user_id
       |  GROUP BY 1, 2, 3
       |), kept AS (
       |  SELECT user_id, p, hp FROM mn
       |  WHERE hp >= 0.0 AND hp - GREATEST(lm, rm) >= 0.5
       |)
       |SELECT user_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p) - 1 AS INT) AS pos,
       |  CAST(p AS INT) AS peak,
       |  ${fpSql("hp", "1e6")} AS height_fp
       |FROM kept
       |ORDER BY 1, 2""".stripMargin

  /** find_peaks with the `threshold` filter (the remaining scipy
    * filter kwarg): floor 0.015 on the minimum IMMEDIATE-neighbor
    * drop. Plateau peaks die under any floor (zero drop on the
    * plateau side) — the oracle replays exactly that: the same
    * plateau-midpoint peak chain as sig_find_peaks, then the LEAST
    * drop test against the p±1 samples. 0.015 sits strictly between
    * the 2-decimal data's drop grid points, so no comparison ties.
    */
  def sigFindPeaksThr(s: SparkSession, dir: String): DataFrame =
    Signal.findPeaks(evReal(s, dir), Seq("user_id"), "t", "value",
        height = Double.NaN, distance = 1, prominence = Double.NaN,
        wlen = -1, thresholdMin = 0.015)
      .select(col("user_id"), col("pos"), col("peak"),
        fp6(col("height")).as("height_fp"))
      .orderBy("user_id", "pos")

  private val sigFindPeaksThrSql: String =
    s"""$sSql, nx AS (
       |  SELECT cur.user_id, cur.j, cur.value, nxt.value AS vnext
       |  FROM s cur JOIN s nxt ON nxt.user_id = cur.user_id AND nxt.j = cur.j + 1
       |), pk0 AS (
       |  SELECT a.user_id, a.j AS i, a.value AS v, a.n
       |  FROM s a JOIN s l ON l.user_id = a.user_id AND l.j = a.j - 1
       |  WHERE l.value < a.value AND a.j <= a.n - 2
       |), pe AS (
       |  SELECT p.user_id, p.i, p.v, p.n,
       |    MIN(nx.j) FILTER (WHERE nx.vnext != p.v) AS jend
       |  FROM pk0 p JOIN nx ON nx.user_id = p.user_id AND nx.j >= p.i
       |  GROUP BY 1, 2, 3, 4
       |), pk AS (
       |  SELECT pe.user_id, (pe.i + pe.jend) // 2 AS p, pe.v AS hp
       |  FROM pe JOIN nx e ON e.user_id = pe.user_id AND e.j = pe.jend
       |  WHERE pe.jend IS NOT NULL AND e.vnext < pe.v
       |), kept AS (
       |  SELECT pk.user_id, pk.p, pk.hp
       |  FROM pk
       |  JOIN s lm ON lm.user_id = pk.user_id AND lm.j = pk.p - 1
       |  JOIN s rm ON rm.user_id = pk.user_id AND rm.j = pk.p + 1
       |  WHERE LEAST(pk.hp - lm.value, pk.hp - rm.value) >= 0.015
       |)
       |SELECT user_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p) - 1 AS INT) AS pos,
       |  CAST(p AS INT) AS peak,
       |  ${fpSql("hp", "1e6")} AS height_fp
       |FROM kept
       |ORDER BY 1, 2""".stripMargin

  /** find_peaks with the `plateau_size` kwarg — the LAST scipy peak
    * filter (VERDICT r11 #4), applied FIRST in scipy's filter order
    * (plateau_size, height, threshold, distance, prominence, width;
    * PeaksSpec pins the ordering against distance). The raw 2-decimal
    * values almost never tie across CONSECUTIVE samples, so the
    * series quantizes to a 5-unit grid first (FLOOR(value/5) — the
    * identical integer expression on both engines), which produces
    * genuine 2–3-sample flat tops at every SF; the filter keeps only
    * those. The oracle reuses the plateau-resolving peak chain —
    * `pe.jend` is already the plateau's right edge, so plateau_size =
    * jend − i + 1 falls out of the existing CTE for free.
    */
  def sigFindPeaksPlateau(s: SparkSession, dir: String): DataFrame =
    Signal.findPeaks(
        evReal(s, dir).withColumn("value", floor(col("value") / 5.0)),
        Seq("user_id"), "t", "value",
        height = Double.NaN, distance = 1, prominence = Double.NaN,
        wlen = -1, plateauMin = 2, plateauMax = 3)
      .select(col("user_id"), col("pos"), col("peak"),
        fp6(col("height")).as("height_fp"))
      .orderBy("user_id", "pos")

  private val sigFindPeaksPlateauSql: String =
    s"""WITH raw AS (
       |  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE)/1e6 AS t,
       |         FLOOR(value / 5.0) AS value
       |  FROM events
       |), s AS (
       |  SELECT user_id,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, value) - 1 AS j,
       |         COUNT(*) OVER (PARTITION BY user_id) AS n,
       |         t, value
       |  FROM raw
       |), nx AS (
       |  SELECT cur.user_id, cur.j, cur.value, nxt.value AS vnext
       |  FROM s cur JOIN s nxt ON nxt.user_id = cur.user_id AND nxt.j = cur.j + 1
       |), pk0 AS (
       |  SELECT a.user_id, a.j AS i, a.value AS v, a.n
       |  FROM s a JOIN s l ON l.user_id = a.user_id AND l.j = a.j - 1
       |  WHERE l.value < a.value AND a.j <= a.n - 2
       |), pe AS (
       |  SELECT p.user_id, p.i, p.v, p.n,
       |    MIN(nx.j) FILTER (WHERE nx.vnext != p.v) AS jend
       |  FROM pk0 p JOIN nx ON nx.user_id = p.user_id AND nx.j >= p.i
       |  GROUP BY 1, 2, 3, 4
       |), kept AS (
       |  SELECT pe.user_id, (pe.i + pe.jend) // 2 AS p, pe.v AS hp
       |  FROM pe JOIN nx e ON e.user_id = pe.user_id AND e.j = pe.jend
       |  WHERE pe.jend IS NOT NULL AND e.vnext < pe.v
       |    AND pe.jend - pe.i + 1 BETWEEN 2 AND 3
       |)
       |SELECT user_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p) - 1 AS INT) AS pos,
       |  CAST(p AS INT) AS peak,
       |  ${fpSql("hp", "1e6")} AS height_fp
       |FROM kept
       |ORDER BY 1, 2""".stripMargin

  /** find_peaks with the `distance` AND `width` kwargs end-to-end —
    * the last spec-only corner of the reference surface (VERDICT r10
    * #1; mirrors tests/test_signal.py:189-285's parameterized widths).
    * `height=0` first (scipy's filter order), then `distance=4`
    * exercises the greedy selection: peaks walked highest-first with
    * the RIGHTMOST of exact-tied heights processed first (the
    * 2-decimal data ties constantly), each kept peak erasing unkept
    * neighbors strictly closer than 4 samples. Survivors are width-
    * filtered at rel_height 0.5 with full-range (wlen=-1) prominence
    * bases, keeping widths in [1.5, 6]. The oracle replays the greedy
    * rule with a recursive CTE stepping the per-user priority order
    * and carrying the kept-position list — suppression comes only
    * from KEPT peaks, so "kept iff no higher-priority kept peak
    * within distance" is exactly scipy's loop — then evaluates widths
    * on survivors through the same interpolation chain as
    * sig_peak_widths_at. Every filter comparison is on bit-identical
    * IEEE expressions, so both engines cut identically.
    */
  def sigFindPeaksDw(s: SparkSession, dir: String): DataFrame =
    Signal.findPeaks(evReal(s, dir), Seq("user_id"), "t", "value",
        height = 0.0, distance = 4, prominence = Double.NaN, wlen = -1,
        widthMin = 1.5, widthMax = 6.0)
      .select(col("user_id"), col("pos"), col("peak"),
        fp6(col("height")).as("height_fp"))
      .orderBy("user_id", "pos")

  private lazy val sigFindPeaksDwSql: String =
    s"""${recBase(sSql)}, nx AS (
       |  SELECT cur.user_id, cur.j, cur.value, nxt.value AS vnext
       |  FROM s cur JOIN s nxt ON nxt.user_id = cur.user_id AND nxt.j = cur.j + 1
       |), pk0 AS (
       |  SELECT a.user_id, a.j AS i, a.value AS v, a.n
       |  FROM s a JOIN s l ON l.user_id = a.user_id AND l.j = a.j - 1
       |  WHERE l.value < a.value AND a.j <= a.n - 2
       |), pe AS (
       |  SELECT p.user_id, p.i, p.v, p.n,
       |    MIN(nx.j) FILTER (WHERE nx.vnext != p.v) AS jend
       |  FROM pk0 p JOIN nx ON nx.user_id = p.user_id AND nx.j >= p.i
       |  GROUP BY 1, 2, 3, 4
       |), pk AS (
       |  SELECT pe.user_id, (pe.i + pe.jend) // 2 AS p, pe.v AS hp, pe.n
       |  FROM pe JOIN nx e ON e.user_id = pe.user_id AND e.j = pe.jend
       |  WHERE pe.jend IS NOT NULL AND e.vnext < pe.v
       |), cand AS MATERIALIZED (
       |  SELECT user_id, p, hp, n,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY hp DESC, p DESC) AS rn
       |  FROM pk WHERE hp >= 0.0
       |), sel AS (
       |  SELECT user_id, 0 AS step, CAST([] AS BIGINT[]) AS kept
       |  FROM (SELECT DISTINCT user_id FROM cand)
       |  UNION ALL
       |  SELECT s0.user_id, s0.step + 1,
       |    CASE WHEN len(list_filter(s0.kept, q -> abs(q - c.p) < 4)) = 0
       |         THEN list_append(s0.kept, CAST(c.p AS BIGINT)) ELSE s0.kept END
       |  FROM sel s0 JOIN cand c ON c.user_id = s0.user_id AND c.rn = s0.step + 1
       |), fin AS (
       |  SELECT user_id, kept FROM (
       |    SELECT user_id, kept,
       |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY step DESC) AS rk
       |    FROM sel) WHERE rk = 1
       |), dkp AS (
       |  SELECT c.user_id, c.p, c.hp, c.n
       |  FROM cand c
       |  JOIN (SELECT f.user_id, u.q AS p FROM fin f, UNNEST(f.kept) AS u(q)) dk
       |    ON dk.user_id = c.user_id AND dk.p = c.p
       |), st AS (
       |  SELECT k.user_id, k.p, k.hp, k.n,
       |    COALESCE(MAX(b.j) FILTER (WHERE b.j < k.p AND b.value > k.hp) + 1, 0) AS lo,
       |    COALESCE(MIN(b.j) FILTER (WHERE b.j > k.p AND b.value > k.hp) - 1, k.n - 1) AS hi
       |  FROM dkp k JOIN s b ON b.user_id = k.user_id
       |  GROUP BY 1, 2, 3, 4
       |), mn AS (
       |  SELECT st.user_id, st.p, st.hp, st.lo, st.hi,
       |    MIN(b.value) FILTER (WHERE b.j >= st.lo AND b.j <= st.p) AS lm,
       |    MIN(b.value) FILTER (WHERE b.j >= st.p AND b.j <= st.hi) AS rm
       |  FROM st JOIN s b ON b.user_id = st.user_id
       |  GROUP BY 1, 2, 3, 4, 5
       |), bs AS (
       |  SELECT m.user_id, m.p, m.hp,
       |    (m.hp - 0.5 * (m.hp - GREATEST(m.lm, m.rm))) AS height,
       |    MAX(b.j) FILTER (WHERE b.j >= m.lo AND b.j <= m.p AND b.value = m.lm) AS lbase,
       |    MIN(b.j) FILTER (WHERE b.j >= m.p AND b.j <= m.hi AND b.value = m.rm) AS rbase
       |  FROM mn m JOIN s b ON b.user_id = m.user_id
       |  GROUP BY 1, 2, 3, 4, m.lo, m.hi, m.lm, m.rm
       |), ip AS (
       |  SELECT d.user_id, d.p, d.hp, d.height,
       |    COALESCE(MAX(b.j) FILTER (WHERE b.j >= d.lbase AND b.j <= d.p AND b.value <= d.height), d.lbase) AS i1,
       |    COALESCE(MIN(b.j) FILTER (WHERE b.j >= d.p AND b.j <= d.rbase AND b.value <= d.height), d.rbase) AS r1
       |  FROM bs d JOIN s b ON b.user_id = d.user_id
       |  GROUP BY 1, 2, 3, 4, d.lbase, d.rbase
       |), wd AS (
       |  SELECT lg.user_id, lg.p, lg.hp,
       |    (CAST(lg.r1 AS DOUBLE) -
       |      CASE WHEN xr.value < lg.height
       |           THEN (lg.height - xr.value) / (xrm.value - xr.value) ELSE 0 END)
       |    -
       |    (CAST(lg.i1 AS DOUBLE) +
       |      CASE WHEN xi.value < lg.height
       |           THEN (lg.height - xi.value) / (xip.value - xi.value) ELSE 0 END) AS w
       |  FROM ip lg
       |  JOIN s xi ON xi.user_id = lg.user_id AND xi.j = lg.i1
       |  LEFT JOIN s xip ON xip.user_id = lg.user_id AND xip.j = lg.i1 + 1
       |  JOIN s xr ON xr.user_id = lg.user_id AND xr.j = lg.r1
       |  LEFT JOIN s xrm ON xrm.user_id = lg.user_id AND xrm.j = lg.r1 - 1
       |)
       |SELECT user_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p) - 1 AS INT) AS pos,
       |  CAST(p AS INT) AS peak,
       |  ${fpSql("hp", "1e6")} AS height_fp
       |FROM wd WHERE w >= 1.5 AND w <= 6.0
       |ORDER BY 1, 2""".stripMargin

  /** Chunked Welch on the same data and parameters as [[sigWelch]],
    * chunkSize 32 → 4+ chunks per 100-sample series with live forward
    * halos. Same oracle as sig_welch: the distributed partial-sum path
    * must reproduce the single-kernel estimate (fp4 absorbs the
    * cross-chunk summation reassociation).
    */
  def sigWelchLong(s: SparkSession, dir: String): DataFrame =
    Signal.welchLong(evReal(s, dir), Seq("user_id"), "t", "value",
        nperseg = 16, fs = 2.0, chunkSize = 32)
      .select(col("user_id"), col("pos"), fp6(col("frequency")).as("freq_fp"),
        fp4(col("psd")).as("psd_fp"))
      .orderBy("user_id", "pos")

  /** scipy.signal.csd per user between value and its lag-1 (zero
    * seeded) — the cross-spectrum of a unit delay has a known phase
    * ramp, so re AND im are both exercised. Same Welch segmentation
    * as [[sigWelch]]; the oracle replays it with the four per-segment
    * DFT sums and the conj(X)·Y cross products. fp4 per SURVEY §5.
    */
  def sigCsd(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("t", "value")
    val df = evReal(s, dir).withColumn("y", lag("value", 1, 0.0).over(w))
    Signal.csd(df, Seq("user_id"), "t", "value", "y", nperseg = 16, fs = 2.0)
      .select(col("user_id"), col("pos"), fp6(col("frequency")).as("freq_fp"),
        fp4(col("re")).as("re_fp"), fp4(col("im")).as("im_fp"))
      .orderBy("user_id", "pos")
  }

  /** Shared CTE chain for the cross-spectral oracles, parameterized by
    * the second channel's SQL definition: window starts, per-segment
    * means of both channels, and the four hann-tapered DFT sums per
    * (user, segment, bin).
    */
  private def csdBaseSqlFor(yExpr: String): String =
    s"""$sSql, s2 AS (
       |  SELECT user_id, j, n, value,
       |    $yExpr AS y
       |  FROM s
       |), win AS (
       |  SELECT user_id, j AS st FROM s2 WHERE j % 8 = 0 AND j + 16 <= n
       |), nseg AS (
       |  SELECT user_id, COUNT(*) AS ns FROM win GROUP BY 1
       |), sm AS (
       |  SELECT w.user_id, w.st, AVG(x.value) AS mx, AVG(x.y) AS my
       |  FROM win w JOIN s2 x ON x.user_id = w.user_id AND x.j >= w.st AND x.j < w.st + 16
       |  GROUP BY 1, 2
       |), spec AS (
       |  SELECT w.user_id, w.st, k.b,
       |    SUM((x.value - sm.mx) * (0.5 - 0.5*COS(2*PI()*(x.j - w.st)/16))
       |        * COS(-2*PI()*k.b*(x.j - w.st)/16)) AS rex,
       |    SUM((x.value - sm.mx) * (0.5 - 0.5*COS(2*PI()*(x.j - w.st)/16))
       |        * SIN(-2*PI()*k.b*(x.j - w.st)/16)) AS imx,
       |    SUM((x.y - sm.my) * (0.5 - 0.5*COS(2*PI()*(x.j - w.st)/16))
       |        * COS(-2*PI()*k.b*(x.j - w.st)/16)) AS rey,
       |    SUM((x.y - sm.my) * (0.5 - 0.5*COS(2*PI()*(x.j - w.st)/16))
       |        * SIN(-2*PI()*k.b*(x.j - w.st)/16)) AS imy
       |  FROM win w
       |  JOIN sm ON sm.user_id = w.user_id AND sm.st = w.st
       |  JOIN s2 x ON x.user_id = w.user_id AND x.j >= w.st AND x.j < w.st + 16
       |  CROSS JOIN range(9) k(b)
       |  GROUP BY 1, 2, 3
       |), w2 AS (
       |  SELECT SUM(POWER(0.5 - 0.5*COS(2*PI()*i/16), 2)) AS v FROM range(16) r(i)
       |)""".stripMargin

private val csdBaseSql: String =
    csdBaseSqlFor("LAG(value, 1, 0.0) OVER (PARTITION BY user_id ORDER BY j)")

  private val sigCsdSql: String =
    s"""$csdBaseSql
       |SELECT sp.user_id, CAST(sp.b AS INT) AS pos,
       |  ${fpSql("sp.b * (1.0/(16 * 0.5))", "1e6")} AS freq_fp,
       |  ${fpSql("SUM(sp.rex*sp.rey + sp.imx*sp.imy) / (2.0 * (SELECT v FROM w2) * ANY_VALUE(ns.ns)) * (CASE WHEN sp.b = 0 OR sp.b = 8 THEN 1.0 ELSE 2.0 END)", "1e4")} AS re_fp,
       |  ${fpSql("SUM(sp.rex*sp.imy - sp.imx*sp.rey) / (2.0 * (SELECT v FROM w2) * ANY_VALUE(ns.ns)) * (CASE WHEN sp.b = 0 OR sp.b = 8 THEN 1.0 ELSE 2.0 END)", "1e4")} AS im_fp
       |FROM spec sp JOIN nseg ns ON ns.user_id = sp.user_id
       |GROUP BY sp.user_id, sp.b
       |ORDER BY 1, 2""".stripMargin

  /** Two-frame csd: left = the events frame, right = a second "sensor"
    * frame on the SAME timestamps carrying value² — aligned by the
    * (user, t) equi-join inside csdFrames, then the identical Welch
    * cross-spectrum. The oracle swaps the lag channel for value².
    */
  def sigCsdFrames(s: SparkSession, dir: String): DataFrame = {
    val left = evReal(s, dir)
    val right = evReal(s, dir)
      .withColumn("y2", col("value") * col("value"))
      .select(col("user_id"), col("t"), col("y2"))
    Signal.csdFrames(left, right, Seq("user_id"), "t", "value", "y2",
        nperseg = 16, fs = 2.0)
      .select(col("user_id"), col("pos"), fp6(col("frequency")).as("freq_fp"),
        fp4(col("re")).as("re_fp"), fp4(col("im")).as("im_fp"))
      .orderBy("user_id", "pos")
  }

  private val sigCsdFramesSql: String =
    s"""${csdBaseSqlFor("value * value")}
       |SELECT sp.user_id, CAST(sp.b AS INT) AS pos,
       |  ${fpSql("sp.b * (1.0/(16 * 0.5))", "1e6")} AS freq_fp,
       |  ${fpSql("SUM(sp.rex*sp.rey + sp.imx*sp.imy) / (2.0 * (SELECT v FROM w2) * ANY_VALUE(ns.ns)) * (CASE WHEN sp.b = 0 OR sp.b = 8 THEN 1.0 ELSE 2.0 END)", "1e4")} AS re_fp,
       |  ${fpSql("SUM(sp.rex*sp.imy - sp.imx*sp.rey) / (2.0 * (SELECT v FROM w2) * ANY_VALUE(ns.ns)) * (CASE WHEN sp.b = 0 OR sp.b = 8 THEN 1.0 ELSE 2.0 END)", "1e4")} AS im_fp
       |FROM spec sp JOIN nseg ns ON ns.user_id = sp.user_id
       |GROUP BY sp.user_id, sp.b
       |ORDER BY 1, 2""".stripMargin

  /** scipy.signal.coherence per user between value and its lag-1.
    * Cxy = |Pxy|²/(Pxx·Pyy); every scale factor (fs·Σw²·nSeg, the
    * onesided doubling) cancels, so the oracle divides the raw
    * segment-averaged cross products directly.
    */
  def sigCoherence(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("t", "value")
    val df = evReal(s, dir).withColumn("y", lag("value", 1, 0.0).over(w))
    Signal.coherence(df, Seq("user_id"), "t", "value", "y", nperseg = 16, fs = 2.0)
      .select(col("user_id"), col("pos"), fp6(col("frequency")).as("freq_fp"),
        fp4(col("coh")).as("coh_fp"))
      .orderBy("user_id", "pos")
  }

  private val sigCoherenceSql: String =
    s"""$csdBaseSql
       |SELECT sp.user_id, CAST(sp.b AS INT) AS pos,
       |  ${fpSql("sp.b * (1.0/(16 * 0.5))", "1e6")} AS freq_fp,
       |  ${fpSql("(POWER(SUM(sp.rex*sp.rey + sp.imx*sp.imy), 2) + POWER(SUM(sp.rex*sp.imy - sp.imx*sp.rey), 2)) / (SUM(sp.rex*sp.rex + sp.imx*sp.imx) * SUM(sp.rey*sp.rey + sp.imy*sp.imy))", "1e4")} AS coh_fp
       |FROM spec sp
       |GROUP BY sp.user_id, sp.b
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // rate changes
  // ------------------------------------------------------------------

  /** decimate(q=2, fir, zero_phase) on the 64-frame: centered firwin
    * (41 taps, cutoff 1/2) pass sampled at even indices.
    */
  def sigDecimateFir(s: SparkSession, dir: String): DataFrame =
    Signal.decimate(ev64(s, dir), Seq("user_id"), "t", "value", q = 2, ftype = "fir")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigDecimateFirSql: String =
    s"""$s64Sql, tap AS (
       |  SELECT i,
       |    0.5 * (CASE WHEN i = 20 THEN 1.0
       |           ELSE SIN(PI()*(0.5*(i-20)))/(PI()*(0.5*(i-20))) END)
       |        * (0.54 - 0.46*COS(2*PI()*i/40)) AS hw
       |  FROM range(41) r(i)
       |), tapn AS (
       |  SELECT i, hw / (SELECT SUM(hw) FROM tap) AS w FROM tap
       |), conv AS (
       |  SELECT s.user_id, s.j + t.i AS fi, SUM(s.value * t.w) AS v
       |  FROM s, tapn t GROUP BY 1, 2
       |)
       |SELECT user_id, CAST((fi - 20) // 2 AS INT) AS pos, ${fpSql("v", "1e6")} AS value_fp
       |FROM conv
       |WHERE fi >= 20 AND (fi - 20) % 2 = 0 AND (fi - 20) // 2 < 32
       |ORDER BY 1, 2""".stripMargin

  /** decimate(q=2, fir, zero_phase=FALSE) — the causal path
    * (signal.py:116's zero_phase parameter): a single forward
    * lfilter(b, [1]) pass, i.e. the truncated FIR convolution
    * y[i] = Σ_{k<=i} b_k·x[i−k], then every q-th INDEX — no group-delay
    * compensation, so the output is shifted by the 20-sample delay the
    * zero-phase variant removes. Previously golden-only.
    */
  def sigDecimateFirCausal(s: SparkSession, dir: String): DataFrame =
    Signal.decimate(ev64(s, dir), Seq("user_id"), "t", "value", q = 2,
        ftype = "fir", zeroPhase = false)
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigDecimateFirCausalSql: String =
    s"""$s64Sql, tap AS (
       |  SELECT i,
       |    0.5 * (CASE WHEN i = 20 THEN 1.0
       |           ELSE SIN(PI()*(0.5*(i-20)))/(PI()*(0.5*(i-20))) END)
       |        * (0.54 - 0.46*COS(2*PI()*i/40)) AS hw
       |  FROM range(41) r(i)
       |), tapn AS (
       |  SELECT i, hw / (SELECT SUM(hw) FROM tap) AS w FROM tap
       |), conv AS (
       |  SELECT s.user_id, s.j + t.i AS fi, SUM(s.value * t.w) AS v
       |  FROM s, tapn t GROUP BY 1, 2
       |)
       |SELECT user_id, CAST(fi // 2 AS INT) AS pos, ${fpSql("v", "1e6")} AS value_fp
       |FROM conv
       |WHERE fi < 64 AND fi % 2 = 0
       |ORDER BY 1, 2""".stripMargin

  /** decimate(q=4, iir cheby1(8, 0.05 dB), zero-phase) — recursive,
    * not SQL-expressible: rows-only here; kernel and e2e behavior are
    * golden-tested in DesignSpec/SpectralSpec/SignalSpec.
    */
  def sigDecimateIir(s: SparkSession, dir: String): DataFrame =
    Signal.decimate(ev64(s, dir), Seq("user_id"), "t", "value", q = 4, ftype = "iir")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  /** Fourier resample 64 → 48 on the 64-frame. Scale 64e5 for the same
    * resonant-bin boundary reason as [[sigIhfft]] (the synthesis
    * divides exact sums by 48 and scales by 48/64 → /64).
    */
  def sigResample(s: SparkSession, dir: String): DataFrame =
    Signal.resample(ev64(s, dir), Seq("user_id"), "t", "value", num = 48)
      .select(col("user_id"), col("pos"), fp(col("value"), 6.4e4).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigResampleSql: String =
    s"""$s64Sql, X AS (
       |  SELECT a.user_id, a.j AS k,
       |    SUM(b.value * COS(-2*PI()*a.j*b.j/64)) AS re,
       |    SUM(b.value * SIN(-2*PI()*a.j*b.j/64)) AS im
       |  FROM s a JOIN s b ON a.user_id = b.user_id
       |  WHERE a.j <= 24 GROUP BY 1, 2
       |), Y AS (
       |  SELECT user_id, k,
       |    CASE WHEN k = 24 THEN 2*re ELSE re END AS re,
       |    CASE WHEN k = 24 THEN 2*im ELSE im END AS im
       |  FROM X
       |), grid AS (
       |  SELECT user_id, tt FROM (SELECT DISTINCT user_id FROM s), range(48) r(tt)
       |)
       |SELECT g.user_id, CAST(g.tt AS INT) AS pos,
       |  ${fpSql("(SUM(CASE WHEN y.k = 0 THEN y.re " +
         "WHEN y.k = 24 THEN (CASE WHEN g.tt % 2 = 0 THEN y.re ELSE -y.re END) " +
         "ELSE 2*(y.re*COS(2*PI()*y.k*g.tt/48) - y.im*SIN(2*PI()*y.k*g.tt/48)) END) / 48) * (48.0/64.0)", "6.4e4")} AS value_fp
       |FROM grid g JOIN Y y ON y.user_id = g.user_id
       |GROUP BY g.user_id, g.tt
       |ORDER BY 1, 2""".stripMargin

  /** Fourier resample 64 → 48 with a hann spectral window
    * (signal.py:375-382). For a periodic hann of even length n the
    * ifftshift + real-input fold collapses to W[k] = 0.5 +
    * 0.5·cos(2πk/n) — multiplicative on each retained bin, so the
    * oracle is [[sigResampleSql]] with that factor applied in X
    * (before the Nyquist doubling, exactly like the engine applies
    * the window before the truncate/pad copy).
    */
  def sigResampleWin(s: SparkSession, dir: String): DataFrame =
    Signal.resample(ev64(s, dir), Seq("user_id"), "t", "value", num = 48,
        window = "hann")
      .select(col("user_id"), col("pos"), fp(col("value"), 6.4e4).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigResampleWinSql: String =
    s"""$s64Sql, X AS (
       |  SELECT a.user_id, a.j AS k,
       |    (0.5 + 0.5*COS(2*PI()*a.j/64)) * SUM(b.value * COS(-2*PI()*a.j*b.j/64)) AS re,
       |    (0.5 + 0.5*COS(2*PI()*a.j/64)) * SUM(b.value * SIN(-2*PI()*a.j*b.j/64)) AS im
       |  FROM s a JOIN s b ON a.user_id = b.user_id
       |  WHERE a.j <= 24 GROUP BY 1, 2
       |), Y AS (
       |  SELECT user_id, k,
       |    CASE WHEN k = 24 THEN 2*re ELSE re END AS re,
       |    CASE WHEN k = 24 THEN 2*im ELSE im END AS im
       |  FROM X
       |), grid AS (
       |  SELECT user_id, tt FROM (SELECT DISTINCT user_id FROM s), range(48) r(tt)
       |)
       |SELECT g.user_id, CAST(g.tt AS INT) AS pos,
       |  ${fpSql("(SUM(CASE WHEN y.k = 0 THEN y.re " +
         "WHEN y.k = 24 THEN (CASE WHEN g.tt % 2 = 0 THEN y.re ELSE -y.re END) " +
         "ELSE 2*(y.re*COS(2*PI()*y.k*g.tt/48) - y.im*SIN(2*PI()*y.k*g.tt/48)) END) / 48) * (48.0/64.0)", "6.4e4")} AS value_fp
       |FROM grid g JOIN Y y ON y.user_id = g.user_id
       |GROUP BY g.user_id, g.tt
       |ORDER BY 1, 2""".stripMargin

  /** resample(num=48, domain="freq") on the 64-frame: the values are
    * interpreted as a real-valued packed rfft spectrum
    * (signal.py:375-382's freq path), so the kernel skips the forward
    * transform — bins 0..24 are kept, the new Nyquist bin doubles
    * (downsampling fold), and the synthesis is one inverse transform
    * scaled by num/nx. Exact outputs are I/6400 rationals (2-decimal
    * "spectrum" / 48 · 48/64), integral at scale 6.4e4.
    */
  def sigResampleFreq(s: SparkSession, dir: String): DataFrame =
    Signal.resample(ev64(s, dir), Seq("user_id"), "t", "value", num = 48,
        domain = "freq")
      .select(col("user_id"), col("pos"), fp(col("value"), 6.4e4).as("value_fp"))
      .orderBy("user_id", "pos")

  private val sigResampleFreqSql: String =
    s"""$s64Sql, grid AS (
       |  SELECT user_id, tt FROM (SELECT DISTINCT user_id FROM s), range(48) r(tt)
       |)
       |SELECT g.user_id, CAST(g.tt AS INT) AS pos,
       |  ${fpSql("(SUM(CASE WHEN s.j = 0 THEN s.value " +
         "WHEN s.j = 24 THEN 2 * (CASE WHEN g.tt % 2 = 0 THEN s.value ELSE -s.value END) " +
         "WHEN s.j < 24 THEN 2 * s.value * COS(2*PI()*s.j*g.tt/48) " +
         "ELSE 0 END) / 48) * (48.0/64.0)", "6.4e4")} AS value_fp
       |FROM grid g JOIN s ON s.user_id = g.user_id
       |GROUP BY g.user_id, g.tt
       |ORDER BY 1, 2""".stripMargin

  /** Two-frame KEYED 1-D convolve — in2 carries the key columns, so
    * each user's series convolves against that user's OWN kernel (the
    * first four samples of its 64-frame), exercising the
    * joinSecondSeries keyed path end-to-end (the 2-D twin is
    * sig_fftconvolve2d_keyed; the 1-D keyed join previously had only
    * spec coverage). Products are data×data 2-decimals — exact
    * 4-decimals, integral at fp4.
    */
  def sigConvolveKeyed(s: SparkSession, dir: String): DataFrame = {
    val kern = ev64(s, dir).filter(col("t") < 4)
    Signal.convolve(evReal(s, dir), kern, Seq("user_id"), "t", "value", "full")
      .select(col("user_id"), col("pos"), fp4(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")
  }

  private val sigConvolveKeyedSql: String =
    s"""WITH raw AS (
       |  SELECT user_id, CAST(epoch_us(ts) AS DOUBLE)/1e6 AS t, value FROM events
       |), ser AS (
       |  SELECT user_id,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t, value) - 1 AS j,
       |         COUNT(*) OVER (PARTITION BY user_id) AS cnt,
       |         value
       |  FROM raw
       |), kern AS (
       |  SELECT user_id, j AS i, value AS w FROM ser WHERE cnt >= 64 AND j < 4
       |)
       |SELECT a.user_id, CAST(a.j + k.i AS INT) AS pos,
       |  ${fpSql("SUM(a.value * k.w)", "1e4")} AS value_fp
       |FROM ser a JOIN kern k ON k.user_id = a.user_id
       |GROUP BY a.user_id, a.j + k.i
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // hilbert / filters / peaks
  // ------------------------------------------------------------------

  /** |hilbert(x)| per user (real-ts series): envelope via the weighted
    * double DFT, fp4 (two chained transforms in the oracle).
    */
  def sigHilbertEnvelope(s: SparkSession, dir: String): DataFrame =
    Signal.hilbert(evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"), fp4(col("envelope")).as("env_fp"))
      .orderBy("user_id", "pos")

  private val sigHilbertEnvelopeSql: String =
    s"""$sSql, X AS (
       |  SELECT a.user_id, a.j AS k, a.n,
       |    SUM(b.value * COS(-2*PI()*a.j*b.j/a.n)) AS re,
       |    SUM(b.value * SIN(-2*PI()*a.j*b.j/a.n)) AS im
       |  FROM s a JOIN s b ON a.user_id = b.user_id
       |  WHERE a.j <= a.n // 2 GROUP BY 1, 2, 3
       |), W AS (
       |  SELECT user_id, k, n,
       |    CASE WHEN k = 0 THEN 1.0
       |         WHEN n % 2 = 0 AND k = n // 2 THEN 1.0
       |         ELSE 2.0 END AS w,
       |    re, im
       |  FROM X
       |), A AS (
       |  SELECT g.user_id, g.j AS tt,
       |    SUM(x.w*(x.re*COS(2*PI()*x.k*g.j/g.n) - x.im*SIN(2*PI()*x.k*g.j/g.n)))/g.n AS are,
       |    SUM(x.w*(x.re*SIN(2*PI()*x.k*g.j/g.n) + x.im*COS(2*PI()*x.k*g.j/g.n)))/g.n AS aim
       |  FROM s g JOIN W x ON x.user_id = g.user_id
       |  GROUP BY g.user_id, g.j, g.n
       |)
       |SELECT user_id, CAST(tt AS INT) AS pos,
       |  ${fpSql("SQRT(are*are + aim*aim)", "1e4")} AS env_fp
       |FROM A ORDER BY 1, 2""".stripMargin

  /** hilbert(N=48) on the 64-frame (tests/test_signal.py:570-576): the
    * series is CROPPED to 48 samples before the transform, and the
    * output coordinate becomes the N-point linear interpolation of the
    * original span — c_i = cmin + i·(cmax−cmin)/N = i·63/48 = 21i/16,
    * an exact binary fraction, so fp6 on the coord is exact on both
    * engines. re/im at scale 4.8e4: resonant outputs are exact I/4800
    * or I/9600 rationals (2-decimal data, /48 synthesis, ±1/2 cosines)
    * → integers at 48000, off the .5 floor boundary.
    */
  def sigHilbertN(s: SparkSession, dir: String): DataFrame =
    Signal.hilbert(ev64(s, dir), Seq("user_id"), "t", "value", n = 48)
      .select(col("user_id"), col("pos"), fp6(col("t")).as("t_fp"),
        fp(col("re"), 4.8e4).as("re_fp"), fp(col("im"), 4.8e4).as("im_fp"))
      .orderBy("user_id", "pos")

  /** Double DFT over the cropped 48 samples with the analytic-signal
    * step weights (w0 = w24 = 1, else 2, upper half zero).
    */
  private val sigHilbertNSql: String =
    s"""$s64Sql, X AS (
       |  SELECT a.user_id, a.j AS k,
       |    SUM(b.value * COS(-2*PI()*a.j*b.j/48)) AS re,
       |    SUM(b.value * SIN(-2*PI()*a.j*b.j/48)) AS im
       |  FROM s a JOIN s b ON a.user_id = b.user_id AND b.j < 48
       |  WHERE a.j <= 24 GROUP BY 1, 2
       |), A AS (
       |  SELECT g.user_id, g.j AS tt,
       |    SUM((CASE WHEN x.k = 0 OR x.k = 24 THEN 1.0 ELSE 2.0 END)
       |        * (x.re*COS(2*PI()*x.k*g.j/48) - x.im*SIN(2*PI()*x.k*g.j/48))) / 48 AS are,
       |    SUM((CASE WHEN x.k = 0 OR x.k = 24 THEN 1.0 ELSE 2.0 END)
       |        * (x.re*SIN(2*PI()*x.k*g.j/48) + x.im*COS(2*PI()*x.k*g.j/48))) / 48 AS aim
       |  FROM s g JOIN X x ON x.user_id = g.user_id
       |  WHERE g.j < 48
       |  GROUP BY 1, 2
       |)
       |SELECT user_id, CAST(tt AS INT) AS pos,
       |  ${fpSql("CAST(tt AS DOUBLE) * (63.0 - 0.0) / 48", "1e6")} AS t_fp,
       |  ${fpSql("are", "4.8e4")} AS re_fp,
       |  ${fpSql("aim", "4.8e4")} AS im_fp
       |FROM A ORDER BY 1, 2""".stripMargin

  /** sosfilt with butter(4, 0.3) — recursive: rows-only + golden/e2e
    * ScalaTest (FiltSpec, SignalSpec).
    */
  def sigSosfilt(s: SparkSession, dir: String): DataFrame =
    Signal.sosfilt(Design.butterSos(4, 0.3), evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  /** sosfiltfilt with butter(4, 0.3) — rows-only, see sigSosfilt. */
  def sigSosfiltfilt(s: SparkSession, dir: String): DataFrame =
    Signal.sosfiltfilt(Design.butterSos(4, 0.3), evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  /** sosfilt with ellip(4, 0.5 dB, 40 dB, 0.3) — the round-9 Cauer
    * design (finite stopband zeros → non-trivial b1/b2 per section,
    * unlike the all-pole butter path) pushed through the same one-
    * shuffle cascade; the oracle replays the literal coefficients
    * recursively, so the filtering is cross-engine-exact while
    * DesignSpec pins the design itself (degree-equation edge, ripple).
    */
  def sigSosfiltEllip(s: SparkSession, dir: String): DataFrame =
    Signal.sosfilt(Design.ellipSos(4, 0.5, 40.0, 0.3), evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  /** sosfilt with cheby2(5, 40 dB, 0.35) — odd order exercises the
    * single-real-pole section carrying the bilinear fill zero at -1.
    */
  def sigSosfiltCheby2(s: SparkSession, dir: String): DataFrame =
    Signal.sosfilt(Design.cheby2Sos(5, 40.0, 0.35), evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  /** butter(2, 0.4) is a single biquad, so lfilter's DF2T step is
    * exactly the one-section cascade — the recursive oracle generator
    * covers the (b, a) form too.
    */
  private lazy val ba24: (Array[Double], Array[Double]) = {
    val sos = Design.butterSos(2, 0.4)
    (Array(sos(0), sos(1), sos(2)), Array(sos(3), sos(4), sos(5)))
  }

  def sigLfilter(s: SparkSession, dir: String): DataFrame = {
    val (b, a) = ba24
    Signal.lfilter(b, a, evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")
  }

  /** scipy.signal.iirnotch(0.25, 30) applied causally (lfilter): the
    * power-line-removal biquad — exact unit-circle zeros at ±w0, −3 dB
    * width w0/Q. DesignSpec pins the response (null, unit DC/Nyquist,
    * edge gains, notch/peak complementarity); this oracle pins the
    * time-domain recursion end-to-end via the same recursive-CTE
    * machinery as every sosfilt query (the designed coefficients
    * inline as literals on both sides).
    */
  def sigIirnotch(s: SparkSession, dir: String): DataFrame = {
    val (b, a) = graft.dsp.Design.iirnotch(0.25, 30.0)
    Signal.lfilter(b, a, evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")
  }

  private lazy val sigIirnotchSql: String =
    sosfiltRecSql(graft.dsp.Design.baToSos(graft.dsp.Design.iirnotch(0.25, 30.0)), sSql)

  private lazy val remezTaps: Array[Double] =
    graft.dsp.Design.remez(31, Array(0.0, 0.2, 0.25, 0.5), Array(1.0, 0.0))

  /** Parks-McClellan remez(31, lowpass 0.2/0.25) applied causally —
    * the optimal-Chebyshev FIR the reference's scipy surface designs
    * with signal.remez. The design itself is spec-pinned (equiripple
    * alternation, beats firwin at equal taps); this oracle pins the
    * end-to-end filtering with the designed taps inlined as literals
    * on both sides (shortest-repr doubles round-trip bit-exactly, so
    * only summation order differs under the fp6 grid).
    */
  def sigRemez(s: SparkSession, dir: String): DataFrame =
    Signal.lfilter(remezTaps, Array(1.0), evReal(s, dir),
        Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")

  private lazy val sigRemezSql: String = {
    val rows = remezTaps.zipWithIndex
      .map { case (h, k) => s"($k, $h)" }.mkString(", ")
    s"""$sSql, taps(k, h) AS (VALUES $rows)
       |SELECT s.user_id, CAST(s.j AS INT) AS pos,
       |  ${fpSql("SUM(x.value * t.h)", "1e6")} AS value_fp
       |FROM s JOIN taps t ON TRUE
       |JOIN s x ON x.user_id = s.user_id AND x.j = s.j - t.k
       |GROUP BY s.user_id, s.j
       |ORDER BY 1, 2""".stripMargin
  }

  def sigFiltfilt(s: SparkSession, dir: String): DataFrame = {
    val (b, a) = ba24
    Signal.filtfilt(b, a, evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"), fp6(col("value")).as("value_fp"))
      .orderBy("user_id", "pos")
  }

  /** peak_widths at rel_height 0.5 over per-user local maxima —
    * iterative interpolation walk: rows-only + golden tests (PeaksSpec,
    * SignalSpec).
    */
  def sigPeakWidths(s: SparkSession, dir: String): DataFrame =
    Signal.peakWidths(evReal(s, dir), Seq("user_id"), "t", "value")
      .select(col("user_id"), col("pos"), col("peak"),
        fp6(col("width")).as("width_fp"),
        fp6(col("width_height")).as("wh_fp"),
        fp6(col("left_ip")).as("lip_fp"),
        fp6(col("right_ip")).as("rip_fp"))
      .orderBy("user_id", "pos")

  /** peak_widths with CALLER-PROVIDED peaks — the reference's exact
    * signature (signal.py:331: `peaks` is a labelled array per series)
    * — in both passthrough flavors: `src='auto'` computes prominence
    * with the `wlen=16` window restriction (scipy's wlen rule i_min =
    * p - wlen//2), `src='given'` supplies `prominence_data` directly
    * (constant prominence 2.0, bases clamped to p±4) so the kernel's
    * prominence search is SKIPPED and the widths derive from the
    * supplied bases. Peaks are the series' own local maxima via
    * [[Signal.findPeaks]], which the oracle re-detects with the same
    * plateau rule as sig_peak_widths.
    */
  def sigPeakWidthsAt(s: SparkSession, dir: String): DataFrame = {
    val base = evReal(s, dir)
    val peaks = Signal.findPeaks(base, Seq("user_id"), "t", "value")
      .select(col("user_id"), col("peak"))
    val n = base.groupBy("user_id").agg(count(lit(1)).as("_n"))
    val pd = peaks.join(n, "user_id")
      .select(col("user_id"), col("peak"), lit(2.0).as("prominence"),
        greatest(col("peak") - 4, lit(0)).as("left_base"),
        least(col("peak") + 4, col("_n") - 1).as("right_base"))
    def tag(df: DataFrame, src: String): DataFrame =
      df.select(col("user_id"), lit(src).as("src"), col("pos"), col("peak"),
        fp6(col("width")).as("width_fp"), fp6(col("width_height")).as("wh_fp"),
        fp6(col("left_ip")).as("lip_fp"), fp6(col("right_ip")).as("rip_fp"))
    val auto = tag(Signal.peakWidthsAt(base, peaks, Seq("user_id"), "t", "value",
      wlen = 16), "auto")
    val given = tag(Signal.peakWidthsAt(base, peaks, Seq("user_id"), "t", "value",
      prominenceData = pd), "given")
    auto.union(given).orderBy("user_id", "src", "pos")
  }

  /** Both legs replay over the sig_peak_widths local-maxima CTEs: the
    * auto leg windows the prominence base search to [p-8, p+8] before
    * the first-higher-sample rule; the given leg takes height =
    * hp - 2.0·0.5 and clamped ±4 bases directly, COALESCE-ing the
    * crossing search to the base when no sample in range drops below
    * the height (the kernel walk stops at the base without
    * interpolating there).
    */
  private lazy val sigPeakWidthsAtSql: String = {
    val hA = "(pk.hp - 0.5 * (pk.hp - GREATEST(m.lm, m.rm)))"
    s"""$sSql, nx AS (
       |  SELECT cur.user_id, cur.j, cur.value, nxt.value AS vnext
       |  FROM s cur JOIN s nxt ON nxt.user_id = cur.user_id AND nxt.j = cur.j + 1
       |), pk0 AS (
       |  SELECT a.user_id, a.j AS i, a.value AS v, a.n
       |  FROM s a JOIN s l ON l.user_id = a.user_id AND l.j = a.j - 1
       |  WHERE l.value < a.value AND a.j <= a.n - 2
       |), pe AS (
       |  SELECT p.user_id, p.i, p.v, p.n,
       |    MIN(nx.j) FILTER (WHERE nx.vnext != p.v) AS jend
       |  FROM pk0 p JOIN nx ON nx.user_id = p.user_id AND nx.j >= p.i
       |  GROUP BY 1, 2, 3, 4
       |), pk AS (
       |  SELECT pe.user_id, (pe.i + pe.jend) // 2 AS p, pe.v AS hp, pe.n
       |  FROM pe JOIN nx e ON e.user_id = pe.user_id AND e.j = pe.jend
       |  WHERE pe.jend IS NOT NULL AND e.vnext < pe.v
       |), stA AS (
       |  SELECT pk.user_id, pk.p, pk.hp, pk.n,
       |    COALESCE(MAX(b.j) FILTER (WHERE b.j < pk.p AND b.j >= pk.p - 8 AND b.value > pk.hp) + 1,
       |             GREATEST(pk.p - 8, 0)) AS lo,
       |    COALESCE(MIN(b.j) FILTER (WHERE b.j > pk.p AND b.j <= pk.p + 8 AND b.value > pk.hp) - 1,
       |             LEAST(pk.p + 8, pk.n - 1)) AS hi
       |  FROM pk JOIN s b ON b.user_id = pk.user_id
       |  GROUP BY 1, 2, 3, 4
       |), mnA AS (
       |  SELECT st.user_id, st.p, st.hp, st.lo, st.hi,
       |    MIN(b.value) FILTER (WHERE b.j >= st.lo AND b.j <= st.p) AS lm,
       |    MIN(b.value) FILTER (WHERE b.j >= st.p AND b.j <= st.hi) AS rm
       |  FROM stA st JOIN s b ON b.user_id = st.user_id
       |  GROUP BY 1, 2, 3, 4, 5
       |), bsA AS (
       |  SELECT m.user_id, m.p, m.hp, m.lm, m.rm,
       |    MAX(b.j) FILTER (WHERE b.j >= m.lo AND b.j <= m.p AND b.value = m.lm) AS lbase,
       |    MIN(b.j) FILTER (WHERE b.j >= m.p AND b.j <= m.hi AND b.value = m.rm) AS rbase
       |  FROM mnA m JOIN s b ON b.user_id = m.user_id
       |  GROUP BY 1, 2, 3, 4, 5
       |), ipA AS (
       |  SELECT pk.user_id, pk.p, $hA AS height, m.lbase, m.rbase,
       |    MAX(b.j) FILTER (WHERE b.j >= m.lbase AND b.j <= pk.p AND b.value <= $hA) AS i1,
       |    MIN(b.j) FILTER (WHERE b.j >= pk.p AND b.j <= m.rbase AND b.value <= $hA) AS r1
       |  FROM bsA m
       |  JOIN pk ON pk.user_id = m.user_id AND pk.p = m.p
       |  JOIN s b ON b.user_id = m.user_id
       |  GROUP BY 1, 2, 3, 4, 5
       |), pdG AS (
       |  SELECT pk.user_id, pk.p, pk.hp - 2.0 * 0.5 AS height,
       |    GREATEST(pk.p - 4, 0) AS lbase, LEAST(pk.p + 4, pk.n - 1) AS rbase
       |  FROM pk
       |), ipG AS (
       |  SELECT d.user_id, d.p, d.height, d.lbase, d.rbase,
       |    COALESCE(MAX(b.j) FILTER (WHERE b.j >= d.lbase AND b.j <= d.p AND b.value <= d.height), d.lbase) AS i1,
       |    COALESCE(MIN(b.j) FILTER (WHERE b.j >= d.p AND b.j <= d.rbase AND b.value <= d.height), d.rbase) AS r1
       |  FROM pdG d JOIN s b ON b.user_id = d.user_id
       |  GROUP BY 1, 2, 3, 4, 5
       |), legs AS (
       |  SELECT 'auto' AS src, user_id, p, height, i1, r1 FROM ipA
       |  UNION ALL
       |  SELECT 'given' AS src, user_id, p, height, i1, r1 FROM ipG
       |), res AS (
       |  SELECT lg.src, lg.user_id, lg.p, lg.height,
       |    CAST(lg.i1 AS DOUBLE) +
       |      CASE WHEN xi.value < lg.height
       |           THEN (lg.height - xi.value) / (xip.value - xi.value) ELSE 0 END AS lip,
       |    CAST(lg.r1 AS DOUBLE) -
       |      CASE WHEN xr.value < lg.height
       |           THEN (lg.height - xr.value) / (xrm.value - xr.value) ELSE 0 END AS rip
       |  FROM legs lg
       |  JOIN s xi ON xi.user_id = lg.user_id AND xi.j = lg.i1
       |  LEFT JOIN s xip ON xip.user_id = lg.user_id AND xip.j = lg.i1 + 1
       |  JOIN s xr ON xr.user_id = lg.user_id AND xr.j = lg.r1
       |  LEFT JOIN s xrm ON xrm.user_id = lg.user_id AND xrm.j = lg.r1 - 1
       |)
       |SELECT user_id, src,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id, src ORDER BY p) - 1 AS INT) AS pos,
       |  CAST(p AS INT) AS peak,
       |  ${fpSql("rip - lip", "1e6")} AS width_fp,
       |  ${fpSql("height", "1e6")} AS wh_fp,
       |  ${fpSql("lip", "1e6")} AS lip_fp,
       |  ${fpSql("rip", "1e6")} AS rip_fp
       |FROM res ORDER BY 1, 2, 3""".stripMargin
  }

  // ------------------------------------------------------------------
  // Recursive-CTE oracles for the IIR family (sosfilt / sosfiltfilt /
  // decimate-iir). The kernel (Filt.sosfilt) runs section-by-section
  // over the array; the oracle steps sample-by-sample through the
  // cascade — same dependency DAG, identical IEEE expression at every
  // node, so the outputs are bit-identical. Normalized coefficients
  // and sosfilt_zi values are embedded as full-precision literals
  // (Double.toString round-trips exactly through CAST('..' AS DOUBLE)).
  // ------------------------------------------------------------------

  private def L(v: Double): String = s"CAST('$v' AS DOUBLE)"

  /** Per-iteration SQL for one DF2T cascade step. Returns
    * (stateCols, stateUpdateExprs(x), finalYExpr(x)) where exprs
    * reference `$f.z{s}{k}` for prior state and `xExpr` for the input
    * sample.
    */
  private[queries] def cascadeStep(sos: Array[Double], f: String, xExpr: String)
  : (Seq[String], Seq[String], String) = {
    val ns = sos.length / 6
    val cols = (0 until ns).flatMap(s => Seq(s"z${s}0", s"z${s}1"))
    var x = s"($xExpr)"
    val upd = Seq.newBuilder[String]
    for (s <- 0 until ns) {
      val o = s * 6; val a0 = sos(o + 3)
      val b0 = sos(o) / a0; val b1 = sos(o + 1) / a0; val b2 = sos(o + 2) / a0
      val a1 = sos(o + 4) / a0; val a2 = sos(o + 5) / a0
      val y = s"(${L(b0)} * $x + $f.z${s}0)"
      upd += s"(${L(b1)} * $x + $f.z${s}1 - ${L(a1)} * $y)"
      upd += s"(${L(b2)} * $x - ${L(a2)} * $y)"
      x = y
    }
    (cols, upd.result(), x)
  }

  /** sosfilt over the (user_id, j, value) frame `s`: zero initial
    * state, one recursion step per sample.
    */
  /** DuckDB inlines (= re-executes) non-materialized CTEs referenced
    * from a recursive step, turning N-iteration recursions into O(N²)
    * replans — force materialization of everything the recursion scans.
    */
  private def recBase(baseSql: String): String =
    baseSql.replaceFirst("WITH ", "WITH RECURSIVE ")
      .replace(" s AS (", " s AS MATERIALIZED (")

  private def sosfiltRecSql(sos: Array[Double], baseSql: String): String = {
    val (cols, upd, y) = cascadeStep(sos, "f", "s.value")
    val zeroes = cols.map(c => s"CAST(0 AS DOUBLE) AS $c").mkString(", ")
    val updSel = upd.zip(cols).map { case (e, c) => s"$e AS $c" }.mkString(",\n    ")
    s"""${recBase(baseSql)}, u AS (
       |  SELECT DISTINCT user_id FROM s
       |), f AS (
       |  SELECT user_id, CAST(-1 AS BIGINT) AS j, $zeroes, CAST(0 AS DOUBLE) AS y FROM u
       |  UNION ALL
       |  SELECT f.user_id, s.j,
       |    $updSel,
       |    $y AS y
       |  FROM f JOIN s ON s.user_id = f.user_id AND s.j = f.j + 1
       |)
       |SELECT user_id, CAST(j AS INT) AS pos, ${fpSql("y", "1e6")} AS value_fp
       |FROM f WHERE j >= 0 ORDER BY 1, 2""".stripMargin
  }

  /** sosfiltfilt over `s`: odd edge-padding (edge samples), zi-seeded
    * forward pass over the extended series, zi-seeded backward pass,
    * trim. `post` customizes the final projection (decimate keeps
    * every q-th sample).
    */
  private def sosfiltfiltRecSql(sos: Array[Double], baseSql: String,
                                edge: Int, finalSelect: String): String = {
    val zi = graft.dsp.Filt.sosfiltZi(sos)
    val (cols, updF, yF) = cascadeStep(sos, "fw", "e.xe")
    val (_, updB, yB) = cascadeStep(sos, "bw", "f2.y")
    def ziInit(x0: String): String =
      cols.zipWithIndex.map { case (c, i) => s"${L(zi(i))} * ($x0) AS $c" }.mkString(", ")
    val updFSel = updF.zip(cols).map { case (e, c) => s"$e AS $c" }.mkString(",\n    ")
    val updBSel = updB.zip(cols).map { case (e, c) => s"$e AS $c" }.mkString(",\n    ")
    val e2 = 2 * edge - 1
    s"""${recBase(baseSql)}, d0 AS MATERIALIZED (
       |  SELECT user_id, MAX(j) + 1 AS n,
       |    ARG_MIN(value, j) AS x0,
       |    ARG_MAX(value, j) AS xl,
       |    MAX(CASE WHEN j = $edge THEN value END) AS xedge
       |  FROM s GROUP BY user_id
       |), grid AS (
       |  SELECT user_id, n, x0, xl, unnest(generate_series(0, n + $e2)) AS i FROM d0
       |), ext AS MATERIALIZED (
       |  SELECT g.user_id, g.i,
       |    CASE WHEN g.i < $edge THEN 2 * g.x0 - src.value
       |         WHEN g.i < $edge + g.n THEN src.value
       |         ELSE 2 * g.xl - src.value END AS xe
       |  FROM grid g JOIN s src ON src.user_id = g.user_id AND src.j =
       |    CASE WHEN g.i < $edge THEN $edge - g.i
       |         WHEN g.i < $edge + g.n THEN g.i - $edge
       |         ELSE 2 * g.n - 2 + $edge - g.i END
       |), fw AS (
       |  SELECT user_id, CAST(-1 AS BIGINT) AS i, ${ziInit("2 * x0 - xedge")}, CAST(0 AS DOUBLE) AS y
       |  FROM d0
       |  UNION ALL
       |  SELECT fw.user_id, e.i,
       |    $updFSel,
       |    $yF AS y
       |  FROM fw JOIN ext e ON e.user_id = fw.user_id AND e.i = fw.i + 1
       |), fwm AS MATERIALIZED (
       |  SELECT * FROM fw
       |), fl AS (
       |  SELECT fw.user_id, d0.n, fw.y AS yl
       |  FROM fwm fw JOIN d0 ON d0.user_id = fw.user_id AND fw.i = d0.n + $e2
       |), bw AS (
       |  SELECT user_id, n, CAST(-1 AS BIGINT) AS k, ${ziInit("yl")}, CAST(0 AS DOUBLE) AS y
       |  FROM fl
       |  UNION ALL
       |  SELECT bw.user_id, bw.n, bw.k + 1,
       |    $updBSel,
       |    $yB AS y
       |  FROM bw JOIN fwm f2 ON f2.user_id = bw.user_id AND f2.i = bw.n + $e2 - (bw.k + 1)
       |)
       |$finalSelect""".stripMargin
  }

  /** butter(4, 0.3): 2 sections, ntaps=5, edge=15. */
  private[queries] lazy val sigSosfiltSql: String =
    sosfiltRecSql(Design.butterSos(4, 0.3), sSql)

  private lazy val sigSosfiltEllipSql: String =
    sosfiltRecSql(Design.ellipSos(4, 0.5, 40.0, 0.3), sSql)

  private lazy val sigSosfiltCheby2Sql: String =
    sosfiltRecSql(Design.cheby2Sos(5, 40.0, 0.35), sSql)

  /** lfilter(butter(2, 0.4)) == single-section sosfilt. */
  private lazy val sigLfilterSql: String =
    sosfiltRecSql(Design.butterSos(2, 0.4), sSql)

  /** filtfilt(butter(2, 0.4)): ntaps = max(|b|,|a|) = 3 → edge 9;
    * identical padding/zi to the one-section sosfiltfilt.
    */
  private lazy val sigFiltfiltSql: String = {
    val edge = 9
    sosfiltfiltRecSql(Design.butterSos(2, 0.4), sSql, edge,
      s"""SELECT user_id, CAST(n + ${edge - 1} - k AS INT) AS pos,
         |  ${fpSql("y", "1e6")} AS value_fp
         |FROM bw WHERE k >= $edge AND k <= n + ${edge - 1}
         |ORDER BY 1, 2""".stripMargin)
  }

  private lazy val sigSosfiltfiltSql: String = {
    val edge = 15 // 3 * (2*2 + 1), no zero coefficients in either column
    sosfiltfiltRecSql(Design.butterSos(4, 0.3), sSql, edge,
      s"""SELECT user_id, CAST(n + ${edge - 1} - k AS INT) AS pos,
         |  ${fpSql("y", "1e6")} AS value_fp
         |FROM bw WHERE k >= $edge AND k <= n + ${edge - 1}
         |ORDER BY 1, 2""".stripMargin)
  }

  /** decimate(q=4, iir): cheby1(8, 0.05 dB, 0.2), 4 sections, ntaps=9,
    * edge=27, on the 64-frame; keep every 4th trimmed sample.
    */
  private lazy val sigDecimateIirSql: String = {
    val edge = 27
    sosfiltfiltRecSql(graft.dsp.Design.cheby1Sos(8, 0.05, 0.2), s64Sql, edge,
      s"""SELECT user_id, CAST((n + ${edge - 1} - k) // 4 AS INT) AS pos,
         |  ${fpSql("y", "1e6")} AS value_fp
         |FROM bw WHERE k >= $edge AND k <= n + ${edge - 1}
         |  AND (n + ${edge - 1} - k) % 4 = 0
         |ORDER BY 1, 2""".stripMargin)
  }

  /** peak_widths: SQL replay of Peaks.localMaxima + prominence +
    * width. Local maxima use the kernel's full plateau rule: a rise at
    * i starts a run of equal values ending at jend (the first k ≥ i
    * with x[k+1] != x[i]); it is a peak iff the run ends falling, at
    * index (i + jend) / 2. Then per-peak prominence bases and
    * interpolated crossings via join-aggregations over the series.
    */
  private lazy val sigPeakWidthsSql: String = {
    val h = "(pk.hp - 0.5 * (pk.hp - GREATEST(m.lm, m.rm)))"
    s"""$sSql, nx AS (
       |  SELECT cur.user_id, cur.j, cur.value, nxt.value AS vnext
       |  FROM s cur JOIN s nxt ON nxt.user_id = cur.user_id AND nxt.j = cur.j + 1
       |), pk0 AS (
       |  SELECT a.user_id, a.j AS i, a.value AS v, a.n
       |  FROM s a JOIN s l ON l.user_id = a.user_id AND l.j = a.j - 1
       |  WHERE l.value < a.value AND a.j <= a.n - 2
       |), pe AS (
       |  SELECT p.user_id, p.i, p.v, p.n,
       |    MIN(nx.j) FILTER (WHERE nx.vnext != p.v) AS jend
       |  FROM pk0 p JOIN nx ON nx.user_id = p.user_id AND nx.j >= p.i
       |  GROUP BY 1, 2, 3, 4
       |), pk AS (
       |  SELECT pe.user_id, (pe.i + pe.jend) // 2 AS p, pe.v AS hp, pe.n
       |  FROM pe JOIN nx e ON e.user_id = pe.user_id AND e.j = pe.jend
       |  WHERE pe.jend IS NOT NULL AND e.vnext < pe.v
       |), st AS (
       |  SELECT pk.user_id, pk.p, pk.hp, pk.n,
       |    COALESCE(MAX(b.j) FILTER (WHERE b.j < pk.p AND b.value > pk.hp) + 1, 0) AS lo,
       |    COALESCE(MIN(b.j) FILTER (WHERE b.j > pk.p AND b.value > pk.hp) - 1, pk.n - 1) AS hi
       |  FROM pk JOIN s b ON b.user_id = pk.user_id
       |  GROUP BY 1, 2, 3, 4
       |), mn AS (
       |  SELECT st.user_id, st.p, st.hp, st.lo, st.hi,
       |    MIN(b.value) FILTER (WHERE b.j >= st.lo AND b.j <= st.p) AS lm,
       |    MIN(b.value) FILTER (WHERE b.j >= st.p AND b.j <= st.hi) AS rm
       |  FROM st JOIN s b ON b.user_id = st.user_id
       |  GROUP BY 1, 2, 3, 4, 5
       |), bs AS (
       |  SELECT m.user_id, m.p, m.hp, m.lm, m.rm,
       |    MAX(b.j) FILTER (WHERE b.j >= m.lo AND b.j <= m.p AND b.value = m.lm) AS lbase,
       |    MIN(b.j) FILTER (WHERE b.j >= m.p AND b.j <= m.hi AND b.value = m.rm) AS rbase
       |  FROM mn m JOIN s b ON b.user_id = m.user_id
       |  GROUP BY 1, 2, 3, 4, 5
       |), ip AS (
       |  SELECT pk.user_id, pk.p, pk.hp, $h AS height, m.lbase, m.rbase,
       |    MAX(b.j) FILTER (WHERE b.j >= m.lbase AND b.j <= pk.p AND b.value <= $h) AS i1,
       |    MIN(b.j) FILTER (WHERE b.j >= pk.p AND b.j <= m.rbase AND b.value <= $h) AS r1
       |  FROM bs m
       |  JOIN pk ON pk.user_id = m.user_id AND pk.p = m.p
       |  JOIN s b ON b.user_id = m.user_id
       |  GROUP BY 1, 2, 3, 4, 5, 6
       |), res AS (
       |  SELECT ip.user_id, ip.p, ip.height,
       |    CAST(ip.i1 AS DOUBLE) +
       |      CASE WHEN xi.value < ip.height
       |           THEN (ip.height - xi.value) / (xip.value - xi.value) ELSE 0 END AS lip,
       |    CAST(ip.r1 AS DOUBLE) -
       |      CASE WHEN xr.value < ip.height
       |           THEN (ip.height - xr.value) / (xrm.value - xr.value) ELSE 0 END AS rip
       |  FROM ip
       |  JOIN s xi ON xi.user_id = ip.user_id AND xi.j = ip.i1
       |  LEFT JOIN s xip ON xip.user_id = ip.user_id AND xip.j = ip.i1 + 1
       |  JOIN s xr ON xr.user_id = ip.user_id AND xr.j = ip.r1
       |  LEFT JOIN s xrm ON xrm.user_id = ip.user_id AND xrm.j = ip.r1 - 1
       |)
       |SELECT user_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p) - 1 AS INT) AS pos,
       |  CAST(p AS INT) AS peak,
       |  ${fpSql("rip - lip", "1e6")} AS width_fp,
       |  ${fpSql("height", "1e6")} AS wh_fp,
       |  ${fpSql("lip", "1e6")} AS lip_fp,
       |  ${fpSql("rip", "1e6")} AS rip_fp
       |FROM res ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sig_rfft" -> (sigRfft _),
    "sig_rfft_pregrouped" -> (sigRfftPregrouped _),
    "sig_fft" -> (sigFft _),
    "sig_fft_n" -> (sigFftN _),
    "sig_irfft_n" -> (sigIrfftN _),
    "sig_hilbert_n" -> (sigHilbertN _),
    "sig_stft" -> (sigStft _),
    "sig_stft_hann" -> (sigStftHann _),
    "sig_istft" -> (sigIstft _),
    "sig_cwt" -> (sigCwt _),
    "sig_lombscargle" -> (sigLombscargle _),
    "sig_detrend" -> (sigDetrend _),
    "sig_welch" -> (sigWelch _),
    "sig_welch_median" -> (sigWelchMedian _),
    "sig_spectrogram" -> (sigSpectrogram _),
    "sig_welch_long" -> (sigWelchLong _),
    "sig_find_peaks" -> (sigFindPeaks _),
    "sig_find_peaks_thr" -> (sigFindPeaksThr _),
    "sig_find_peaks_plateau" -> (sigFindPeaksPlateau _),
    "sig_find_peaks_dw" -> (sigFindPeaksDw _),
    "sig_zoom_fft" -> (sigZoomFft _),
    "sig_czt" -> (sigCzt _),
    "sig_csd" -> (sigCsd _),
    "sig_csd_frames" -> (sigCsdFrames _),
    "sig_coherence" -> (sigCoherence _),
    "sig_medfilt" -> (sigMedfilt _),
    "sig_wiener" -> (sigWiener _),
    "sig_order_filter" -> (sigOrderFilter _),
    "sig_periodogram" -> (sigPeriodogram _),
    "sig_savgol" -> (sigSavgol _),
    "sig_savgol_deriv" -> (sigSavgolDeriv _),
    "sig_upfirdn" -> (sigUpfirdn _),
    "sig_resample_poly" -> (sigResamplePoly _),
    "sig_interp_grid" -> (sigInterpGrid _),
    "sig_complex_modes" -> (sigComplexModes _),
    "sig_even_modes" -> (sigEvenModes _),
    "sig_rfft_ortho" -> (sigRfftOrtho _),
    "sig_rfft_fwd" -> (sigRfftFwd _),
    "sig_decimate_fir_causal" -> (sigDecimateFirCausal _),
    "sig_ifft_roundtrip" -> (sigIfftRoundtrip _),
    "sig_fft_norm_roundtrips" -> (sigFftNormRoundtrips _),
    "sig_irfft_roundtrip" -> (sigIrfftRoundtrip _),
    "sig_hfft" -> (sigHfft _),
    "sig_ihfft" -> (sigIhfft _),
    "sig_fft2" -> (sigFft2 _),
    "sig_medfilt2d" -> (sigMedfilt2d _),
    "sig_waveforms" -> (sigWaveforms _),
    "sig_vectorstrength" -> (sigVectorstrength _),
    "sig_deconvolve" -> (sigDeconvolve _),
    "sig_fft2_roundtrip" -> (sigFft2Roundtrip _),
    "sig_dct" -> (sigDct _),
    "sig_dst" -> (sigDst _),
    "sig_dct_roundtrip" -> (sigDctRoundtrip _),
    "sig_fftshift" -> (sigFftshift _),
    "sig_fftshift2d" -> (sigFftshift2d _),
    "sig_fftshift_complex" -> (sigFftshiftComplex _),
    "sig_ifftshift" -> (sigIfftshift _),
    "sig_convolve_full" -> (sigConvolveFull _),
    "sig_convolve_same" -> (sigConvolveSame _),
    "sig_convolve_valid" -> (sigConvolveValid _),
    "sig_convolve_long" -> (sigConvolveLong _),
    "sig_convolve_long_fft" -> (sigConvolveLongFft _),
    "sig_correlate" -> (sigCorrelate _),
    "sig_convolve_complex" -> (sigConvolveComplex _),
    "sig_correlate_complex" -> (sigCorrelateComplex _),
    "sig_fftconvolve2d" -> (sigFftconvolve2d _),
    "sig_correlate2d" -> (sigCorrelate2d _),
    "sig_fftconvolve2d_keyed" -> (sigFftconvolve2dKeyed _),
    "sig_fftconvolve3d" -> (sigFftconvolve3d _),
    "sig_fftconvolve" -> (sigFftconvolve _),
    "sig_lfilter" -> (sigLfilter _),
    "sig_iirnotch" -> (sigIirnotch _),
    "sig_remez" -> (sigRemez _),
    "sig_filtfilt" -> (sigFiltfilt _),
    "sig_decimate_fir" -> (sigDecimateFir _),
    "sig_decimate_iir" -> (sigDecimateIir _),
    "sig_resample" -> (sigResample _),
    "sig_resample_win" -> (sigResampleWin _),
    "sig_resample_freq" -> (sigResampleFreq _),
    "sig_convolve_keyed" -> (sigConvolveKeyed _),
    "sig_hilbert_envelope" -> (sigHilbertEnvelope _),
    "sig_sosfilt" -> (sigSosfilt _),
    "sig_sosfilt_ellip" -> (sigSosfiltEllip _),
    "sig_sosfilt_cheby2" -> (sigSosfiltCheby2 _),
    "sig_sosfiltfilt" -> (sigSosfiltfilt _),
    "sig_peak_widths" -> (sigPeakWidths _),
    "sig_peak_widths_at" -> (sigPeakWidthsAt _))

  val oracleSql: Map[String, String] = Map(
    "sig_rfft" -> sigRfftSql,
    "sig_rfft_pregrouped" -> sigRfftSql,
    "sig_fft" -> sigFftSql,
    "sig_fft_n" -> sigFftNSql,
    "sig_irfft_n" -> sigIrfftNSql,
    "sig_hilbert_n" -> sigHilbertNSql,
    "sig_stft" -> sigStftSql,
    "sig_stft_hann" -> sigStftHannSql,
    "sig_istft" -> sigIstftSql,
    "sig_cwt" -> sigCwtSql,
    "sig_lombscargle" -> sigLombscargleSql,
    "sig_detrend" -> sigDetrendSql,
    "sig_welch" -> sigWelchSql,
    "sig_welch_median" -> sigWelchMedianSql,
    "sig_spectrogram" -> sigSpectrogramSql,
    "sig_welch_long" -> sigWelchSql,
    "sig_find_peaks" -> sigFindPeaksSql,
    "sig_find_peaks_thr" -> sigFindPeaksThrSql,
    "sig_find_peaks_plateau" -> sigFindPeaksPlateauSql,
    "sig_find_peaks_dw" -> sigFindPeaksDwSql,
    "sig_zoom_fft" -> sigZoomFftSql,
    "sig_czt" -> sigCztSql,
    "sig_csd" -> sigCsdSql,
    "sig_csd_frames" -> sigCsdFramesSql,
    "sig_coherence" -> sigCoherenceSql,
    "sig_medfilt" -> sigMedfiltSql,
    "sig_wiener" -> sigWienerSql,
    "sig_order_filter" -> sigOrderFilterSql,
    "sig_periodogram" -> sigPeriodogramSql,
    "sig_savgol" -> sigSavgolSql,
    "sig_savgol_deriv" -> sigSavgolDerivSql,
    "sig_upfirdn" -> sigUpfirdnSql,
    "sig_resample_poly" -> sigResamplePolySql,
    "sig_interp_grid" -> sigInterpGridSql,
    "sig_complex_modes" -> sigComplexModesSql,
    "sig_even_modes" -> sigEvenModesSql,
    "sig_rfft_ortho" -> sigRfftOrthoSql,
    "sig_rfft_fwd" -> sigRfftFwdSql,
    "sig_decimate_fir_causal" -> sigDecimateFirCausalSql,
    "sig_ifft_roundtrip" -> sigIfftRoundtripSql,
    "sig_fft_norm_roundtrips" -> sigFftNormRoundtripsSql,
    "sig_irfft_roundtrip" -> sigIrfftRoundtripSql,
    "sig_hfft" -> sigHfftSql,
    "sig_ihfft" -> sigIhfftSql,
    "sig_fft2" -> sigFft2Sql,
    "sig_medfilt2d" -> sigMedfilt2dSql,
    "sig_waveforms" -> sigWaveformsSql,
    "sig_vectorstrength" -> sigVectorstrengthSql,
    "sig_deconvolve" -> sigDeconvolveSql,
    "sig_fft2_roundtrip" -> sigFft2RoundtripSql,
    "sig_dct" -> sigDctSql,
    "sig_dst" -> sigDstSql,
    "sig_dct_roundtrip" -> sigDctRoundtripSql,
    "sig_fftshift" -> sigFftshiftSql,
    "sig_fftshift2d" -> sigFftshift2dSql,
    "sig_fftshift_complex" -> sigFftshiftComplexSql,
    "sig_ifftshift" -> sigIfftshiftSql,
    "sig_convolve_full" -> sigConvolveFullSql,
    "sig_convolve_same" -> sigConvolveSameSql,
    "sig_convolve_valid" -> sigConvolveValidSql,
    "sig_convolve_long" -> sigConvolveFullSql,
    "sig_convolve_long_fft" -> sigConvolveLongFftSql,
    "sig_correlate" -> sigCorrelateSql,
    "sig_convolve_complex" -> sigConvolveComplexSql,
    "sig_correlate_complex" -> sigCorrelateComplexSql,
    "sig_fftconvolve2d" -> sigFftconvolve2dSql,
    "sig_correlate2d" -> sigCorrelate2dSql,
    "sig_fftconvolve2d_keyed" -> sigFftconvolve2dKeyedSql,
    "sig_fftconvolve3d" -> sigFftconvolve3dSql,
    "sig_fftconvolve" -> sigConvolveFullSql,
    "sig_lfilter" -> sigLfilterSql,
    "sig_iirnotch" -> sigIirnotchSql,
    "sig_remez" -> sigRemezSql,
    "sig_filtfilt" -> sigFiltfiltSql,
    "sig_decimate_fir" -> sigDecimateFirSql,
    "sig_decimate_iir" -> sigDecimateIirSql,
    "sig_resample" -> sigResampleSql,
    "sig_resample_win" -> sigResampleWinSql,
    "sig_resample_freq" -> sigResampleFreqSql,
    "sig_convolve_keyed" -> sigConvolveKeyedSql,
    "sig_hilbert_envelope" -> sigHilbertEnvelopeSql,
    "sig_sosfilt" -> sigSosfiltSql,
    "sig_sosfilt_ellip" -> sigSosfiltEllipSql,
    "sig_sosfilt_cheby2" -> sigSosfiltCheby2Sql,
    "sig_sosfiltfilt" -> sigSosfiltfiltSql,
    "sig_peak_widths" -> sigPeakWidthsSql,
    "sig_peak_widths_at" -> sigPeakWidthsAtSql)
}
