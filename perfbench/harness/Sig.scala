package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dsp.{Design, Fft, Filt, Resample, Spectral}
import graft.operators.Signal

/** Seeded test signals: two tones with per-series frequencies and
  * phase plus uniform noise; `y` is a noisy copy of `x` (for
  * coherence). The same (seed, series) always gives the same arrays, so
  * checks recompute them on the driver instead of reading them back.
  */
object SignalGen {
  def x(seed: Long, s: Long, n: Int): Array[Double] = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + s * 0xBF58476D1CE4E5B9L)
    val f1 = 0.002 + 0.05 * r.nextDouble()
    val f2 = 0.1 + 0.3 * r.nextDouble()
    val ph = 2 * math.Pi * r.nextDouble()
    val a = 0.5 + r.nextDouble()
    Array.tabulate(n) { i =>
      a * math.sin(2 * math.Pi * f1 * i + ph) + 0.3 * math.sin(2 * math.Pi * f2 * i) +
        0.2 * (r.nextDouble() - 0.5)
    }
  }

  def y(seed: Long, s: Long, n: Int): Array[Double] = {
    val r = new java.util.SplittableRandom(seed * 0x2545F4914F6CDD1DL + s)
    x(seed, s, n).map(v => 0.7 * v + 0.5 * (r.nextDouble() - 0.5))
  }
}

/** A signal operation of a sig workload: the `Signal` call, its direct
  * single-thread `graft.dsp` kernel, and its output rows per series.
  */
final case class SigOp(name: String, build: DataFrame => DataFrame,
                       kernel: (Array[Double], Array[Double]) => Array[Double],
                       rowsPerSeries: Int)

/** Shared loop of the two signal workloads. */
abstract class SigWorkload(ctx: Ctx) extends Workload {
  import ctx._

  val nSeries: Int
  val length: Int
  def ops: Seq[SigOp]
  /** Writes the seeded input under `dir`. */
  def writeInput(dir: String): Unit
  /** The frame every op starts from. */
  def input(dir: String): DataFrame
  /** Per-layer probes of a traced run. */
  def traceExtras(dir: String): Unit

  private val checked = 3

  def run(): Unit = {
    setup.put("session_s", (System.nanoTime() - startNs) / 1e9)
    val base = new java.io.File(args.work, "input")
    val reps = (0 until 3).map { i =>
      val d = new java.io.File(base, s"rep$i")
      val t = timed(writeInput(d.getPath))._2
      if (i < 2) rmTree(d)
      t
    }
    setup.put("fixture_s", reps)
    val dir = new java.io.File(base, "rep2").getPath
    // warm-up: every op once, through the output check
    val (_, warm) = timed(ops.foreach(op => checkOp(op, dir)))
    setup.put("warm_s", warm)

    val t0 = System.nanoTime()
    var pass = 0
    // passes run while another one is expected to end inside the window
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (pass == 0 || elapsed * (pass + 1) / pass <= args.seconds) {
      val p0 = System.nanoTime()
      val h0 = heapNs
      val order = new scala.util.Random(args.seed * 31 + pass).shuffle(ops)
      order.zipWithIndex.foreach { case (op, i) =>
        val modes = if (!args.trace) Seq(false)
          else if ((i + pass) % 2 == 0) Seq(true, false) else Seq(false, true)
        modes.foreach { tr =>
          runSigOp(op, dir, "sig", pass, tr)
        }
      }
      passes += (System.nanoTime() - p0 - (heapNs - h0)) / 1e9
      pass += 1
    }
    measureNs = System.nanoTime() - t0
    if (args.trace) layerProbes(dir)
  }

  private def runSigOp(op: SigOp, dir: String, family: String, pass: Int, traced: Boolean): Unit =
    runOp(op.name, family, pass, traced, nSeries.toLong * length) { id =>
      val df = tracer.span("build", id)(op.build(input(dir)))
      tracer.span("exec", id)(noop(df))
    }

  /** The Signal, dsp and functions layers of this input, measured from
    * another workload's traced run: each op once, traced, under family
    * `sig_probe`, then the layer probes.
    */
  def probe(): Unit = {
    val dir = new java.io.File(args.work, "sig-probe").getPath
    writeInput(dir)
    ops.foreach(op => runSigOp(op, dir, "sig_probe", 0, traced = true))
    layerProbes(dir)
  }

  /** `seriesify`/`explodeSeries` alone, and the direct kernels. */
  private def layerProbes(dir: String): Unit = {
    traceExtras(dir)
    val k = new java.util.LinkedHashMap[String, Any]()
    ops.foreach { op =>
      val xs = (0 until 2).map(s => SignalGen.x(args.seed, s, length))
      val ys = (0 until 2).map(s => SignalGen.y(args.seed, s, length))
      k.put(op.name, kernelNsPerSample(op, xs, ys))
    }
    layers.put("dsp_ns_per_sample", k)
  }

  /** Runs an op once and checks its output in the same job: the row
    * count of every series, and a seeded sample of series compared with
    * the direct kernel on the same generated arrays.
    */
  private def checkOp(op: SigOp, dir: String): Unit = {
    val r = rng(op.name.hashCode.toLong)
    val picks = Seq.fill(checked)(r.nextInt(nSeries).toLong).distinct
    val out = op.build(input(dir))
    // every op explodes to (series, pos, coordinate, values...)
    val valueCols = out.columns.filterNot(Set("series", "pos", "t", "frequency"))
    val rows = out.groupBy(col("series")).agg(count(lit(1)).as("n"),
      collect_list(when(col("series").isin(picks: _*),
        struct((col("pos") +: valueCols.map(col)): _*))).as("sample")).collect()
    val bad = rows.count(_.getLong(1) != op.rowsPerSeries)
    check(s"rows:${op.name}", rows.length == nSeries && bad == 0,
      s"${rows.length} series (want $nSeries), $bad with a row count other than ${op.rowsPerSeries}")
    val got = rows.map(row => row.getLong(0) -> row.getSeq[Row](2)).toMap
    picks.foreach { s =>
      val sample = got.getOrElse(s, Nil).sortBy(_.getInt(0))
      val want = op.kernel(SignalGen.x(args.seed, s, length), SignalGen.y(args.seed, s, length))
      val have = sample.flatMap(row => (1 until row.length).map(row.getDouble))
      val err = if (have.length != want.length) Double.PositiveInfinity
        else have.indices.map(i => math.abs(have(i) - want(i)) / (1 + math.abs(want(i)))).maxOption.getOrElse(0.0)
      check(s"values:${op.name}:$s", err <= 1e-9,
        s"${have.length} vs ${want.length} values, max rel err $err")
    }
    spark.catalog.clearCache()
  }

  /** Single-threaded direct kernel time per input sample, on the
    * workload's own arrays, repeated to at least 200 ms.
    */
  private def kernelNsPerSample(op: SigOp, xs: Seq[Array[Double]], ys: Seq[Array[Double]]): Double = {
    xs.indices.foreach(i => op.kernel(xs(i), ys(i))) // JIT
    var calls = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200000000L || calls < 4) {
      val i = (calls % xs.size).toInt
      op.kernel(xs(i), ys(i))
      calls += 1
    }
    (System.nanoTime() - t0).toDouble / (calls * length)
  }

  protected def timedNoop(df: => DataFrame): Double = {
    val times = (0 until 2).map { _ =>
      val t = timed(noop(df))._2
      spark.catalog.clearCache()
      t * 1000
    }
    Stats.median(times)
  }
}

object SigOps {
  val sos: Array[Double] = Design.butterSos(4, 0.1)
  val nperseg = 256
  val npersegGrouped = 1024
  def hann(n: Int): Array[Double] = Resample.periodicWindow("hann", n)
  def welch(x: Array[Double], nps: Int): Array[Double] =
    Spectral.welch(x, nps, nps / 2, hann(nps), 1.0)
  def rfft(x: Array[Double]): Array[Double] = {
    val c = Fft.rfft(x)
    c.re.indices.flatMap(i => Seq(c.re(i), c.im(i))).toArray
  }
}

/** Long-format readings (series, t, v): many series of moderate
  * length. Every op pays the `seriesify` shuffle and `explodeSeries`.
  */
final class SigLong(ctx: Ctx) extends SigWorkload(ctx) {
  import ctx._
  import SigOps._

  val nSeries = 512
  val length = 4096

  def ops: Seq[SigOp] = Seq(
    SigOp("sosfiltfilt",
      df => Signal.sosfiltfilt(sos, df, Seq("series"), "t", "v"),
      (x, _) => Filt.sosfiltfilt(sos, x), length),
    SigOp("rfft",
      df => Signal.rfft(df, Seq("series"), "t", "v"),
      (x, _) => rfft(x), length / 2 + 1),
    SigOp("welch",
      df => Signal.welch(df, Seq("series"), "t", "v", nperseg),
      (x, _) => welch(x, nperseg), nperseg / 2 + 1))

  def writeInput(dir: String): Unit = {
    import spark.implicits._
    val seed = args.seed; val n = length
    spark.range(0, nSeries.toLong, 1, cores * 2).as[Long].flatMap { s =>
      val v = SignalGen.x(seed, s, n)
      Iterator.tabulate(n)(i => (s, i.toLong, v(i)))
    }.toDF("series", "t", "v").write.parquet(s"$dir/long")
  }

  def input(dir: String): DataFrame = spark.read.parquet(s"$dir/long")

  def traceExtras(dir: String): Unit = {
    layers.put("seriesify_ms",
      timedNoop(Signal.seriesify(input(dir), Seq("series"), "t", Seq("v"))))
    // the same data pre-grouped, for explodeSeries alone
    Signal.seriesify(input(dir), Seq("series"), "t", Seq("v"))
      .select(col("series"), col("coords").as("t"), col("v"))
      .write.parquet(s"$dir/grouped")
    val g = spark.read.parquet(s"$dir/grouped")
    layers.put("explode_ms", timedNoop(Signal.explodeSeries(Signal.fromGrouped(g, "t"),
      Seq("series"), Seq("t" -> col("coords"), "v" -> col("v")))))
  }
}

/** Few long series stored one row per series and entered through
  * `Signal.fromGrouped`: no shuffle, and ops whose output is much
  * smaller than their input, so the kernels do most of the work.
  */
final class SigGrouped(ctx: Ctx) extends SigWorkload(ctx) {
  import ctx._
  import SigOps._

  val nSeries = 8
  val length = 1 << 18

  def ops: Seq[SigOp] = Seq(
    SigOp("welch",
      df => Signal.welch(df, Seq("series"), "t", "x", npersegGrouped),
      (x, _) => welch(x, npersegGrouped), npersegGrouped / 2 + 1),
    SigOp("decimate",
      df => Signal.decimate(df, Seq("series"), "t", "x", 8),
      (x, _) => Resample.decimate(x, 8), length / 8),
    SigOp("coherence",
      df => Signal.coherence(df, Seq("series"), "t", "x", "y", npersegGrouped),
      (x, y) => Spectral.coherence(x, y, npersegGrouped, npersegGrouped / 2,
        hann(npersegGrouped), 1.0), npersegGrouped / 2 + 1))

  def writeInput(dir: String): Unit = {
    import spark.implicits._
    val seed = args.seed; val n = length
    spark.range(0, nSeries.toLong, 1, cores).as[Long].map { s =>
      (s, Array.tabulate(n)(_.toLong), SignalGen.x(seed, s, n), SignalGen.y(seed, s, n))
    }.toDF("series", "t", "x", "y").write.parquet(s"$dir/grouped")
  }

  def input(dir: String): DataFrame =
    Signal.fromGrouped(spark.read.parquet(s"$dir/grouped"), "t")

  def traceExtras(dir: String): Unit = {
    layers.put("explode_ms", timedNoop(Signal.explodeSeries(input(dir),
      Seq("series"), Seq("t" -> col("coords"), "x" -> col("x")))))
  }
}
