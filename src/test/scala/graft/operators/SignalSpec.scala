package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkTestBase
import graft.dsp.{Conv, Fft, Filt, Design, Hilbert, Resample}

/** End-to-end checks of the long-frame Signal API against the pure
  * kernels: the Spark path (shuffle → array kernel → explode) must
  * reproduce exactly what the kernel computes on a locally assembled
  * series, for every key group, with codegen forced on.
  */
class SignalSpec extends SparkTestBase {
  import spark.implicits._

  private val nPerKey = Map("a" -> 32, "b" -> 27, "c" -> 1)

  /** Long frame: 3 series of different lengths, deterministic values,
    * coords = 10*k + 0.5*i (equispaced, distinct per series), rows
    * pre-shuffled to prove order-insensitivity.
    */
  private lazy val longDf: DataFrame = {
    val rnd = new scala.util.Random(5)
    val rows = for {
      (k, n) <- nPerKey.toSeq
      i <- 0 until n
    } yield (k, 100.0 * nPerKey.keys.toSeq.indexOf(k) + 0.5 * i, math.sin(i * 0.3) + 0.1 * i % 3, math.cos(i * 0.2))
    rnd.shuffle(rows).toDF("k", "t", "x", "y")
  }

  private def series(k: String, col: String): Array[Double] = {
    val n = nPerKey(k)
    (0 until n).map { i =>
      col match {
        case "x" => math.sin(i * 0.3) + 0.1 * i % 3
        case "y" => math.cos(i * 0.2)
      }
    }.toArray
  }

  private def collectBy[T](df: DataFrame, k: String, valueCol: String): Array[Double] =
    df.filter($"k" === k).orderBy("pos").select(valueCol).as[Double].collect()

  test("rfft matches kernel per group, coords = rfftfreq(n, delta/n)") {
    val out = Signal.rfft(longDf, Seq("k"), "t", "x").cache()
    for (k <- Seq("a", "b")) {
      val x = series(k, "x")
      val want = Fft.rfft(x)
      assert(maxDiff(collectBy(out, k, "re"), want.re) < 1e-9)
      assert(maxDiff(collectBy(out, k, "im"), want.im) < 1e-9)
      val freqs = collectBy(out, k, "frequency")
      val wantF = Fft.rfftfreq(x.length, 0.5 / x.length)
      assert(maxDiff(freqs, wantF) < 1e-9)
    }
  }

  test("rfft with explicit n crops/pads and emits rfftfreq(n, delta/n) coords") {
    // mirrors the reference's n-parameterized TestFFT scenarios
    for (n <- Seq(27, 32, 40)) {
      val out = Signal.rfft(longDf, Seq("k"), "t", "x", n = n)
      val x = series("a", "x")
      val want = Fft.rfft(x, n)
      val got = collectBy(out, "a", "re")
      assert(got.length == n / 2 + 1, s"n=$n length")
      assert(maxDiff(got, want.re) < 1e-9, s"n=$n values")
      val wantF = Fft.rfftfreq(n, 0.5 / n)
      assert(maxDiff(collectBy(out, "a", "frequency"), wantF) < 1e-9, s"n=$n coords")
    }
  }

  test("fft/ifft roundtrip through two Spark ops") {
    val f = Signal.fft(longDf.withColumnRenamed("x", "re").withColumnRenamed("y", "im"),
      Seq("k"), "t", "re", "im", newdim = "f")
    val back = Signal.ifft(f, Seq("k"), "f", "re", "im", newdim = "t2")
    // ifft(fft(z)) == z, but the roundtrip reorders by frequency coord;
    // check multiset of values matches per key at 1e-9.
    for (k <- Seq("a", "b", "c")) {
      val got = back.filter($"k" === k).orderBy("pos").select("re").as[Double].collect()
      val x = series(k, "x")
      val y = series(k, "y")
      val fwd = Fft.fft(x, y)
      // kernel roundtrip on the fft-coord-sorted spectrum
      val n = x.length
      val order = Fft.fftfreq(n, 0.5 / n).zipWithIndex.sortBy(_._1).map(_._2)
      val re2 = order.map(fwd.re(_)); val im2 = order.map(fwd.im(_))
      val kv = Fft.ifft(re2, im2)
      assert(maxDiff(got, kv.re) < 1e-9, s"k=$k")
    }
  }

  test("irfft(rfft(x)) recovers even-length x end-to-end") {
    val f = Signal.rfft(longDf, Seq("k"), "t", "x", newdim = "freq")
    // rfftfreq coords are ascending, so seriesify ordering is stable
    val back = Signal.irfft(f, Seq("k"), "freq")
    val x = series("a", "x") // n=32 even
    val got = collectBy(back, "a", "value")
    assert(got.length == 32)
    assert(maxDiff(got, x) < 1e-9)
  }

  test("fftshift rotates values and coords together; ifftshift undoes") {
    val out = Signal.fftshift(longDf, Seq("k"), "t", "x")
    for (k <- Seq("a", "b")) {
      val x = series(k, "x")
      val n = x.length
      val coords = (0 until n).map(i => 100.0 * nPerKey.keys.toSeq.indexOf(k) + 0.5 * i).toArray
      assert(maxDiff(collectBy(out, k, "value"), Fft.fftshift(x)) < 1e-12)
      assert(maxDiff(collectBy(out, k, "t"), Fft.fftshift(coords)) < 1e-12)
    }
    val back = Signal.ifftshift(
      Signal.fftshift(longDf, Seq("k"), "t", "x").withColumnRenamed("value", "x"),
      Seq("k"), "t", "x")
    // after undo, sorting by coord gives the original series
    for (k <- Seq("a", "b"))
      assert(maxDiff(
        back.filter($"k" === k).orderBy("t").select("value").as[Double].collect(),
        series(k, "x")) < 1e-12)
  }

  test("convolve with broadcast kernel series (keyless in2)") {
    val kern = Seq((0.0, 0.25), (0.5, 0.5), (1.0, 0.25)).toDF("t", "x")
    val out = Signal.convolve(longDf, kern, Seq("k"), "t", "x", "same")
    for (k <- Seq("a", "b")) {
      val want = Conv.convolve(series(k, "x"), Array(0.25, 0.5, 0.25), "same", "auto")
      assert(maxDiff(collectBy(out, k, "value"), want) < 1e-9, s"k=$k")
    }
  }

  test("convolve with keyed in2 joins per group") {
    val in2 = longDf.select($"k", $"t", ($"x" * 0.5).as("x"))
    val out = Signal.fftconvolve(longDf, in2, Seq("k"), "t", "x", "full")
    for (k <- Seq("a", "b")) {
      val x = series(k, "x")
      val want = Conv.convolve(x, x.map(_ * 0.5), "full", "fft")
      assert(maxDiff(collectBy(out, k, "value"), want) < 1e-8, s"k=$k")
    }
  }

  test("sosfilt/sosfiltfilt preserve coords and match kernels") {
    val sos = Design.butterSos(4, 0.3)
    val out = Signal.sosfilt(sos, longDf, Seq("k"), "t", "x")
    val outFF = Signal.sosfiltfilt(sos, longDf, Seq("k"), "t", "x")
    for (k <- Seq("a", "b")) {
      val x = series(k, "x")
      assert(maxDiff(collectBy(out, k, "value"), Filt.sosfilt(sos, x)) < 1e-9)
      assert(maxDiff(collectBy(outFF, k, "value"), Filt.sosfiltfilt(sos, x)) < 1e-9)
      val n = x.length
      val coords = (0 until n).map(i => 100.0 * nPerKey.keys.toSeq.indexOf(k) + 0.5 * i).toArray
      assert(maxDiff(collectBy(out, k, "t"), coords) < 1e-12)
    }
  }

  test("convolveLong (overlap-save) is bit-identical to whole-series convolve") {
    val kernel = Array(0.25, 0.5, 0.25)
    for (chunk <- Seq(4, 8, 31)) {
      val out = Signal.convolveLong(longDf, Seq("k"), "t", "x", kernel, chunkSize = chunk)
      for (k <- Seq("a", "b", "c")) {
        val want = Conv.convolve(series(k, "x"), kernel, "full", "direct")
        val got = collectBy(out, k, "value")
        assert(got.length == want.length, s"chunk=$chunk k=$k length")
        assert(got.indices.forall(i => got(i) == want(i)), s"chunk=$chunk k=$k values")
      }
    }
  }

  test("fftconvolve2d assembles row-major grids and matches the kernel") {
    // 8x4 grid per key from series "a" (n=32): r = i div 4, c = i mod 4
    val grid = longDf.filter($"k" === "a")
      .withColumn("r", org.apache.spark.sql.functions.expr("CAST(t / 0.5 AS INT) div 4"))
      .withColumn("c", org.apache.spark.sql.functions.expr("CAST(t / 0.5 AS INT) % 4"))
    val kern = Array(1.0, 0.5, 0.25, 0.125)
    val out = Signal.fftconvolve2d(grid, Seq("k"), "r", "c", "x", kern, kernelRows = 2)
    val x = series("a", "x")
    val (want, wr, wc) = Conv.fftconvolve2d(x, 8, 4, kern, 2, 2, "full")
    val got = out.orderBy("pos1", "pos2").select("value").as[Double].collect()
    assert(wr == 9 && wc == 5 && got.length == want.length)
    assert(maxDiff(got, want) < 1e-9)
  }

  test("convolve with a per-key kernel joins on keys instead of broadcasting") {
    // per-key kernels: series "a" gets (1, 2), series "b" gets (3, 4)
    val kdf = Seq(("a", 0.0, 1.0), ("a", 1.0, 2.0), ("b", 0.0, 3.0), ("b", 1.0, 4.0))
      .toDF("k", "t", "x")
    val out = Signal.convolve(longDf.filter($"k" =!= "c"), kdf, Seq("k"), "t", "x")
    for ((k, kern) <- Seq("a" -> Array(1.0, 2.0), "b" -> Array(3.0, 4.0))) {
      val want = Conv.convolve(series(k, "x"), kern, "full", "auto")
      assert(maxDiff(collectBy(out, k, "value"), want) < 1e-12, k)
    }
  }

  test("correlate matches kernel (asymmetric taps)") {
    val kdf = Seq((0.0, 0.5), (1.0, 0.3), (2.0, 0.2)).toDF("t", "x")
    val out = Signal.correlate(longDf, kdf, Seq("k"), "t", "x")
    for (k <- Seq("a", "b")) {
      val want = Conv.correlate(series(k, "x"), Array(0.5, 0.3, 0.2))
      assert(maxDiff(collectBy(out, k, "value"), want) < 1e-12)
    }
  }

  test("correlate with a keyed in2 joins per key instead of broadcasting") {
    // per-key second inputs: "a" correlates against (0.5, 0.3), "b"
    // against (0.1, 0.9) — the round-4 keyed path that previously
    // collapsed both into one mixed series
    val kdf = Seq(("a", 0.0, 0.5), ("a", 1.0, 0.3), ("b", 0.0, 0.1), ("b", 1.0, 0.9))
      .toDF("k", "t", "x")
    val out = Signal.correlate(longDf.filter($"k" =!= "c"), kdf, Seq("k"), "t", "x")
    for ((k, in2) <- Seq("a" -> Array(0.5, 0.3), "b" -> Array(0.1, 0.9))) {
      val want = Conv.correlate(series(k, "x"), in2)
      assert(maxDiff(collectBy(out, k, "value"), want) < 1e-12, k)
    }
  }

  test("complex convolve/correlate match kernels with a broadcast complex kernel") {
    val kdf = Seq((0.0, 0.5, -0.2), (1.0, 0.3, 0.1), (2.0, 0.2, 0.4))
      .toDF("t", "re", "im")
    val cx = longDf.select($"k", $"t", $"x".as("re"), $"y".as("im"))
    val conv = Signal.convolveComplex(cx, kdf, Seq("k"), "t", "re", "im", "full")
    val corr = Signal.correlateComplex(cx, kdf, Seq("k"), "t", "re", "im", "full")
    val br = Array(0.5, 0.3, 0.2); val bi = Array(-0.2, 0.1, 0.4)
    for (k <- Seq("a", "b")) {
      val xr = series(k, "x"); val xi = series(k, "y")
      val wantC = Conv.convolveComplex(xr, xi, br, bi, "full")
      assert(maxDiff(collectBy(conv, k, "re"), wantC.re) < 1e-12, s"conv re $k")
      assert(maxDiff(collectBy(conv, k, "im"), wantC.im) < 1e-12, s"conv im $k")
      val wantR = Conv.correlateComplex(xr, xi, br, bi, "full")
      assert(maxDiff(collectBy(corr, k, "re"), wantR.re) < 1e-12, s"corr re $k")
      assert(maxDiff(collectBy(corr, k, "im"), wantR.im) < 1e-12, s"corr im $k")
    }
    // fftconvolveComplex = forced-FFT path of the same operator
    val convFft = Signal.fftconvolveComplex(cx, kdf, Seq("k"), "t", "re", "im")
    for (k <- Seq("a", "b")) {
      val want = Conv.convolveComplex(series(k, "x"), series(k, "y"), br, bi, "full")
      assert(maxDiff(collectBy(convFft, k, "re"), want.re) < 1e-8, s"fft re $k")
      assert(maxDiff(collectBy(convFft, k, "im"), want.im) < 1e-8, s"fft im $k")
    }
  }

  test("complex convolve with a keyed in2 joins per key") {
    val cx = longDf.filter($"k" =!= "c")
      .select($"k", $"t", $"x".as("re"), $"y".as("im"))
    val kdf = Seq(("a", 0.0, 0.5, -0.2), ("a", 1.0, 0.3, 0.1),
        ("b", 0.0, 0.1, 0.9), ("b", 1.0, 0.7, -0.3))
      .toDF("k", "t", "re", "im")
    val out = Signal.convolveComplex(cx, kdf, Seq("k"), "t", "re", "im", "full")
    val kernels = Map(
      "a" -> (Array(0.5, 0.3), Array(-0.2, 0.1)),
      "b" -> (Array(0.1, 0.7), Array(0.9, -0.3)))
    for ((k, (br, bi)) <- kernels) {
      val want = Conv.convolveComplex(series(k, "x"), series(k, "y"), br, bi, "full")
      assert(maxDiff(collectBy(out, k, "re"), want.re) < 1e-12, s"re $k")
      assert(maxDiff(collectBy(out, k, "im"), want.im) < 1e-12, s"im $k")
    }
  }

  test("fftconvolveNd over 3 dims matches the kernel on a shuffled cube") {
    // 2x3x4 cube per key, row-major value = kernel-visible order
    val aSh = Array(2, 3, 4)
    def cell(k: Int, i: Int, j: Int, l: Int): Double =
      math.sin(0.7 * ((i * 3 + j) * 4 + l) + k)
    val rows = for (k <- 0 until 2; i <- 0 until 2; j <- 0 until 3; l <- 0 until 4)
      yield (k, i, j, l, cell(k, i, j, l))
    val df = new scala.util.Random(13).shuffle(rows)
      .toDF("k", "d1", "d2", "d3", "v")
    val kern = Array(1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125)
    val out = Signal.fftconvolveNd(df, Seq("k"), Seq("d1", "d2", "d3"), "v",
      kern, Array(2, 2, 2))
    for (k <- 0 until 2) {
      val flat = (for (i <- 0 until 2; j <- 0 until 3; l <- 0 until 4)
        yield cell(k, i, j, l)).toArray
      val (want, wSh) = Conv.fftconvolveNd(flat, aSh, kern, Array(2, 2, 2), "full")
      val got = out.filter($"k" === k).orderBy("pos1", "pos2", "pos3")
        .select("value").as[Double].collect()
      assert(wSh.toSeq == Seq(3, 4, 5))
      assert(got.length == want.length)
      assert(got.zip(want).map { case (a, b) => math.abs(a - b) }.max < 1e-12)
    }
  }

  test("two-frame fftconvolve2d with a keyed in2 convolves each group against its own grid") {
    // in1: 8x4 grid per key from series x; in2: per-key 2x2 grids with
    // key-dependent taps — the reference's fftconvolve(in1, in2, dims)
    // where both operands are labelled arrays
    val grid = longDf.filter($"k" =!= "c")
      .withColumn("i", org.apache.spark.sql.functions.expr("CAST((t - CASE WHEN k = 'b' THEN 100 ELSE 0 END) / 0.5 AS INT)"))
      .filter($"i" < 24)
      .withColumn("r", org.apache.spark.sql.functions.expr("i div 4"))
      .withColumn("c", org.apache.spark.sql.functions.expr("i % 4"))
    val kerns = Map("a" -> Array(1.0, 0.5, 0.25, 0.125), "b" -> Array(0.3, -0.7, 2.0, 0.9))
    val kdf = (for ((k, ks) <- kerns.toSeq; i <- 0 until 2; j <- 0 until 2)
      yield (k, i, j, ks(i * 2 + j))).toDF("k", "r", "c", "x")
    val out = Signal.fftconvolve2d(grid, kdf, Seq("k"), "r", "c", "x", "full")
    for (k <- Seq("a", "b")) {
      val x = series(k, "x").take(24)
      val (want, wr, wc) = Conv.fftconvolve2d(x, 6, 4, kerns(k), 2, 2, "full")
      val got = out.filter($"k" === k).orderBy("pos1", "pos2")
        .select("value").as[Double].collect()
      assert(wr == 7 && wc == 5 && got.length == want.length, k)
      assert(maxDiff(got, want) < 1e-9, k)
    }
  }

  test("two-frame fftconvolve2d with an unkeyed in2 broadcasts one kernel grid") {
    val grid = longDf.filter($"k" === "a")
      .withColumn("r", org.apache.spark.sql.functions.expr("CAST(t / 0.5 AS INT) div 4"))
      .withColumn("c", org.apache.spark.sql.functions.expr("CAST(t / 0.5 AS INT) % 4"))
    val kern = Array(1.0, 0.5, 0.25, 0.125)
    val kdf = (for (i <- 0 until 2; j <- 0 until 2)
      yield (i, j, kern(i * 2 + j))).toDF("r", "c", "x")
    val twoFrame = Signal.fftconvolve2d(grid, kdf, Seq("k"), "r", "c", "x", "full")
      .orderBy("pos1", "pos2").select("value").as[Double].collect()
    val literal = Signal.fftconvolve2d(grid, Seq("k"), "r", "c", "x", kern, kernelRows = 2)
      .orderBy("pos1", "pos2").select("value").as[Double].collect()
    assert(twoFrame.length == literal.length)
    assert(maxDiff(twoFrame, literal) == 0.0)
  }

  test("two-frame fftconvolveNd matches the kernel with keyed 3-D operands") {
    val aSh = Array(2, 3, 4)
    def cell(k: Int, i: Int, j: Int, l: Int): Double =
      math.sin(0.7 * ((i * 3 + j) * 4 + l) + k)
    val rows = for (k <- 0 until 2; i <- 0 until 2; j <- 0 until 3; l <- 0 until 4)
      yield (k, i, j, l, cell(k, i, j, l))
    val df = new scala.util.Random(13).shuffle(rows)
      .toDF("k", "d1", "d2", "d3", "v")
    // per-key 2x2x2 second operand: key 0 gets powers of 1/2, key 1 a
    // sign-alternating variant
    def kcell(k: Int, p: Int): Double = if (k == 0) math.pow(0.5, p) else (if (p % 2 == 0) 1.0 else -1.0) * (p + 1)
    val kdf = (for (k <- 0 until 2; p <- 0 until 8)
      yield (k, p / 4, (p / 2) % 2, p % 2, kcell(k, p))).toDF("k", "d1", "d2", "d3", "v")
    val out = Signal.fftconvolveNd(df, kdf, Seq("k"), Seq("d1", "d2", "d3"), "v", "full")
    for (k <- 0 until 2) {
      val flat = (for (i <- 0 until 2; j <- 0 until 3; l <- 0 until 4)
        yield cell(k, i, j, l)).toArray
      val kern = (0 until 8).map(kcell(k, _)).toArray
      val (want, wSh) = Conv.fftconvolveNd(flat, aSh, kern, Array(2, 2, 2), "full")
      val got = out.filter($"k" === k).orderBy("pos1", "pos2", "pos3")
        .select("value").as[Double].collect()
      assert(wSh.toSeq == Seq(3, 4, 5))
      assert(got.length == want.length, s"k=$k")
      assert(got.zip(want).map { case (a, b) => math.abs(a - b) }.max < 1e-9, s"k=$k")
    }
  }

  test("gridify null semantics match seriesify: null value -> NaN, null coord -> dropped") {
    val base = for (r <- 0 until 4; c <- 0 until 4) yield ("g", r, c, (r * 4 + c).toDouble)
    // null VALUE at one cell: grid stays complete, value becomes NaN
    val withNullV = base.map { case (k, r, c, v) =>
      (k, r, c, if (r == 1 && c == 2) null.asInstanceOf[java.lang.Double]
                else java.lang.Double.valueOf(v))
    }.toDF("k", "r", "c", "x")
    val outV = Signal.fftconvolve2d(withNullV, Seq("k"), "r", "c", "x",
      Array(1.0), kernelRows = 1).collect()
    assert(outV.length == 16)
    assert(outV.count(r => r.getDouble(3).isNaN) >= 1, "NaN must propagate")
    // null COORD on one row: the row is dropped; the now-incomplete
    // 4x4-minus-one grid is rejected by the completeness assert
    val withNullC = base.map { case (k, r, c, v) =>
      (k, if (r == 2 && c == 2) null.asInstanceOf[java.lang.Integer]
          else java.lang.Integer.valueOf(r), c, v)
    }.toDF("k", "r", "c", "x")
    val e = intercept[Exception] {
      Signal.fftconvolve2d(withNullC, Seq("k"), "r", "c", "x",
        Array(1.0), kernelRows = 1).collect()
    }
    assert(e.getMessage.contains("not a complete"), e.getMessage)
  }

  test("fftconvolve2d rejects ragged grids") {
    // drop one cell from the 8x4 grid: countDistinct(c) per row no
    // longer matches the rectangle → the grid assert must fire
    val grid = longDf.filter($"k" === "a")
      .withColumn("r", org.apache.spark.sql.functions.expr("CAST(t / 0.5 AS INT) div 4"))
      .withColumn("c", org.apache.spark.sql.functions.expr("CAST(t / 0.5 AS INT) % 4"))
      .filter(!($"r" === 3 && $"c" === 2))
    val kern = Array(1.0, 0.5, 0.25, 0.125)
    val ex = intercept[Exception] {
      Signal.fftconvolve2d(grid, Seq("k"), "r", "c", "x", kern, kernelRows = 2)
        .collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") + Option(ex.getCause)
      .flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.toLowerCase.contains("grid") || msg.toLowerCase.contains("ragged"),
      s"unexpected error: $msg")
  }

  test("fromGrouped with an empty coords array yields n=0, no crash") {
    val grouped = Seq(
      ("a", Seq(0.0, 1.0, 2.0), Seq(1.0, 2.0, 3.0)),
      ("empty", Seq.empty[Double], Seq.empty[Double])
    ).toDF("k", "cs", "x")
    val sdf = Signal.fromGrouped(grouped, "cs")
    val rows = sdf.select("k", "n", "cmin", "cmax", "delta").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(rows("a") == ((3, 0.0, 2.0, 1.0)))
    assert(rows("empty") == ((0, 0.0, 0.0, 1.0)))
  }

  test("lfilter/filtfilt match kernels and preserve coords") {
    val sos = Design.butterSos(2, 0.4)
    val b = Array(sos(0), sos(1), sos(2)); val a = Array(sos(3), sos(4), sos(5))
    val out = Signal.lfilter(b, a, longDf, Seq("k"), "t", "x")
    val outFF = Signal.filtfilt(b, a, longDf, Seq("k"), "t", "x")
    for (k <- Seq("a", "b")) {
      val x = series(k, "x")
      assert(maxDiff(collectBy(out, k, "value"), Filt.lfilter(b, a, x)) < 1e-12)
      assert(maxDiff(collectBy(outFF, k, "value"), Filt.filtfilt(b, a, x)) < 1e-12)
    }
  }

  test("null sample becomes NaN (scipy semantics); null coordinate drops the row") {
    val df = Seq(
      (java.lang.Double.valueOf(0.0), java.lang.Double.valueOf(1.0)),
      (java.lang.Double.valueOf(1.0), null.asInstanceOf[java.lang.Double]),
      (null.asInstanceOf[java.lang.Double], java.lang.Double.valueOf(7.0)),
      (java.lang.Double.valueOf(2.0), java.lang.Double.valueOf(3.0))
    ).toDF("t", "x").withColumn("k", org.apache.spark.sql.functions.lit("z"))
    val out = Signal.sosfilt(Design.butterSos(2, 0.4), df, Seq("k"), "t", "x")
      .orderBy("pos").select("value").as[Double].collect()
    assert(out.length == 3)          // null-coord row dropped
    assert(!out(0).isNaN)            // before the NaN sample: clean
    assert(out(1).isNaN && out(2).isNaN) // NaN propagates through the IIR state
  }

  test("sosfilt with explicit zi matches the kernel's zi path") {
    val sos = Design.butterSos(4, 0.3)
    val zi = Filt.sosfiltZi(sos)
    val out = Signal.sosfilt(sos, longDf, Seq("k"), "t", "x", zi = zi)
    for (k <- Seq("a", "b")) {
      val x = series(k, "x")
      assert(maxDiff(collectBy(out, k, "value"), Filt.sosfilt(sos, x, zi)) == 0.0)
    }
  }

  test("decimate emits every q-th coord and kernel values") {
    val out = Signal.decimate(longDf, Seq("k"), "t", "x", q = 2, ftype = "fir")
    val x = series("a", "x")
    val want = Resample.decimate(x, 2, -1, "fir")
    assert(maxDiff(collectBy(out, "a", "value"), want) < 1e-9)
    val coords = collectBy(out, "a", "t")
    assert(coords.length == 16)
    assert(coords.zipWithIndex.forall { case (c, i) => math.abs(c - i * 1.0) < 1e-12 })
  }

  test("resample re-spaces coords over the original span") {
    val out = Signal.resample(longDf, Seq("k"), "t", "x", num = 16)
    val x = series("a", "x")
    assert(maxDiff(collectBy(out, "a", "value"), Resample.resample(x, 16)) < 1e-9)
    val coords = collectBy(out, "a", "t")
    // span = delta * n = 0.5 * 32 = 16 → step = 1.0 from cmin = 0
    assert(coords.zipWithIndex.forall { case (c, i) => math.abs(c - i * 1.0) < 1e-12 })
  }

  test("hilbert matches kernel and emits envelope") {
    val out = Signal.hilbert(longDf, Seq("k"), "t", "x")
    for (k <- Seq("a", "b")) {
      val h = Hilbert.hilbert(series(k, "x"))
      assert(maxDiff(collectBy(out, k, "re"), h.re) < 1e-9)
      assert(maxDiff(collectBy(out, k, "im"), h.im) < 1e-9)
      assert(maxDiff(collectBy(out, k, "envelope"), Hilbert.envelope(series(k, "x"))) < 1e-9)
    }
  }

  test("peakWidths emits one row per local maximum with scipy widths") {
    val out = Signal.peakWidths(longDf, Seq("k"), "t", "x")
    for (k <- Seq("a", "b")) {
      val x = series(k, "x")
      val peaks = graft.dsp.Peaks.localMaxima(x)
      val rows = out.filter($"k" === k).orderBy("pos")
        .select("peak", "width").collect()
      assert(rows.map(_.getInt(0)).sameElements(peaks))
      val widths = peaks.map(p => graft.dsp.Peaks.width(x, p).width)
      assert(maxDiff(rows.map(_.getDouble(1)), widths) < 1e-9)
    }
  }

  test("fromGrouped skips the shuffle and matches the long-frame path") {
    // materialize the series-layout table (as a pre-bucketed store
    // would hold it) so the plan under test starts from a local scan
    val computed = Signal.seriesify(longDf, Seq("k"), "t", Seq("x"))
      .select($"k", $"coords".as("cs"), $"x")
    val grouped = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(computed.collect(): _*)),
      computed.schema)
    val viaGrouped = Signal.rfft(Signal.fromGrouped(grouped, "cs"), Seq("k"), "t", "x")
    val viaLong = Signal.rfft(longDf, Seq("k"), "t", "x")
    for (k <- Seq("a", "b")) {
      assert(maxDiff(collectBy(viaGrouped, k, "re"), collectBy(viaLong, k, "re")) == 0.0)
      assert(maxDiff(collectBy(viaGrouped, k, "frequency"),
        collectBy(viaLong, k, "frequency")) == 0.0)
    }
    // the pre-grouped plan must contain no shuffle at all
    val plan = viaGrouped.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("signal op over a bucketed-by-key table runs with zero exchanges") {
    // SURVEY §4: telemetry stored bucketed by series key makes the
    // operator's groupBy exchange redundant — Spark's bucketed scan
    // reports hash partitioning on the key, so the aggregation is
    // map-side and the whole op is shuffle-free.
    longDf.write.mode("overwrite")
      .bucketBy(4, "k").sortBy("k")
      .saveAsTable("graft_bucketed_series")
    try {
      val out = Signal.rfft(spark.table("graft_bucketed_series"), Seq("k"), "t", "x")
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
      // and results still match the long-frame path
      val viaLong = Signal.rfft(longDf, Seq("k"), "t", "x")
      assert(maxDiff(collectBy(out, "a", "re"), collectBy(viaLong, "a", "re")) == 0.0)
    } finally spark.sql("DROP TABLE IF EXISTS graft_bucketed_series")
  }

  test("peakWidthsAt takes caller-provided peaks like the reference") {
    val x = series("a", "x")
    val chosen = graft.dsp.Peaks.localMaxima(x).take(3)
    val pkDf = chosen.toSeq.map(p => ("a", p)).toDF("k", "peak")
    val out = Signal.peakWidthsAt(longDf.filter($"k" === "a"), pkDf, Seq("k"), "t", "x")
    val rows = out.orderBy("pos").select("peak", "width").collect()
    assert(rows.map(_.getInt(0)).sameElements(chosen))
    val widths = chosen.map(p => graft.dsp.Peaks.width(x, p).width)
    assert(maxDiff(rows.map(_.getDouble(1)), widths) < 1e-12)
  }

  test("sql surface: graft_* functions callable from spark.sql") {
    val r = spark.sql(
      "SELECT graft_rfft(array(1.0d, 2.0d, 3.0d, 4.0d), -1, 'backward') AS s").collect()(0)
    val s = r.getStruct(0)
    val re = s.getSeq[Double](0)
    assert(math.abs(re.head - 10.0) < 1e-12) // DC bin = sum
  }

  test("FuseSosfilt collapses chained literal cascades into one call, bit-identical") {
    import graft.functions.Functions.dsl.sosfiltC
    import org.apache.spark.sql.functions.typedLit
    val sosA = Design.butterSos(2, 0.4)
    val sosB = Design.butterSos(4, 0.25)
    val arr = typedLit(series("a", "x"))
    val chained = spark.range(1).select(
      sosfiltC(typedLit(sosA), sosfiltC(typedLit(sosB), arr)).as("y"))
    val plan = chained.queryExecution.optimizedPlan.toString
    assert(plan.split("graft_sosfilt", -1).length - 1 == 1,
      s"expected one fused sosfilt call in:\n$plan")
    val got = chained.collect()(0).getSeq[Double](0).toArray
    val want = Filt.sosfilt(sosA, Filt.sosfilt(sosB, series("a", "x")))
    assert(got.indices.forall(i => got(i) == want(i)))
  }

  test("GraftExtensions registers every kernel via SparkSessionExtensions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions()
    new graft.functions.GraftExtensions().apply(ext) // must inject without error
    // the per-session registry path registers the same set
    assert(graft.functions.Functions.names.nonEmpty)
    graft.functions.Functions.names.foreach { n =>
      assert(spark.catalog.functionExists(s"graft_${n.toLowerCase}"), n)
    }
  }

  test("strict equispacing guard: irregular series fails loudly when opted in") {
    // reference contract (README + signal.py:16): FFT-family ops are
    // only meaningful on an equispaced axis. Off by default (silent,
    // zero plan change); opted in, seriesify raises on violation.
    val irregular = Seq(
      ("u", 0.0, 1.0), ("u", 1.0, 2.0), ("u", 2.0, 3.0), ("u", 5.0, 4.0))
      .toDF("k", "t", "x")
    val regular = Seq(
      ("u", 0.0, 1.0), ("u", 1.0, 2.0), ("u", 2.0, 3.0), ("u", 3.0, 4.0))
      .toDF("k", "t", "x")
    def planOf(df: DataFrame): String =
      Signal.rfft(df, Seq("k"), "t", "x").queryExecution.optimizedPlan.toString
    // OFF: no assertion in the plan, irregular input silently computes
    assert(!planOf(irregular).contains("raise_error"),
      "guard must be absent when not opted in")
    Signal.rfft(irregular, Seq("k"), "t", "x").collect()
    Signal.assertEquispaced(spark, 1e-9)
    try {
      assert(planOf(irregular).contains("raise_error"),
        "guard must appear in the plan when opted in")
      // equispaced series still computes fine under the guard
      assert(Signal.rfft(regular, Seq("k"), "t", "x").collect().nonEmpty)
      val e = intercept[Exception] {
        Signal.rfft(irregular, Seq("k"), "t", "x").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("non-equispaced")),
        s"expected the equispacing message in: ${msgs(e)}")
    } finally Signal.clearEquispaced(spark)
    // and OFF again restores the untouched plan
    assert(!planOf(irregular).contains("raise_error"))
  }

  /** Complete grid of `shape` per key k in {0, 1}, columns k, d1..dN,
    * v = f(k, row-major index), rows shuffled.
    */
  private def shuffledGrid(shape: Seq[Int], f: (Int, Int) => Double): DataFrame = {
    val cells = shape.foldRight(Seq(Seq.empty[Int]))((n, rest) =>
      for (i <- 0 until n; r <- rest) yield i +: r)
    val rows = for (k <- 0 until 2; (c, flat) <- cells.zipWithIndex)
      yield Row.fromSeq((k +: c) :+ f(k, flat))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      ("k INT" +: shape.indices.map(i => s"d${i + 1} INT") :+ "v DOUBLE").mkString(", "))
    spark.createDataFrame(
      spark.sparkContext.parallelize(new scala.util.Random(17).shuffle(rows), 3), schema)
  }

  private def gridValues(out: DataFrame, k: Int, nd: Int, col: String): Array[Double] =
    out.filter($"k" === k).orderBy((1 to nd).map(i => $"pos$i"): _*)
      .select(col).as[Double].collect()

  test("fftNd over a shuffled 2x3x4 grid equals the kernel on the row-major array") {
    val shape = Array(2, 3, 4)
    def f(k: Int, i: Int): Double = math.sin(0.7 * i + k) + 0.1 * i
    val out = Signal.fftNd(shuffledGrid(shape, f), Seq("k"), Seq("d1", "d2", "d3"), "v")
    assert(out.columns.toSeq == Seq("k", "pos1", "pos2", "pos3", "re", "im"))
    for (k <- 0 until 2) {
      val flat = Array.tabulate(shape.product)(f(k, _))
      val want = Fft.fftNd(flat, null, shape)
      val pos = out.filter($"k" === k).orderBy("pos1", "pos2", "pos3")
        .select("pos1", "pos2", "pos3").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
      assert(pos == (for (i <- 0 until 2; j <- 0 until 3; l <- 0 until 4) yield (i, j, l)))
      assert(gridValues(out, k, 3, "re").toSeq == want.re.toSeq)
      assert(gridValues(out, k, 3, "im").toSeq == want.im.toSeq)
    }
  }

  test("fftshiftNd on a 3x4 grid rolls the values and each dim's coordinates together") {
    val shape = Array(3, 4)
    def f(k: Int, i: Int): Double = 10.0 * (i / 4) + (i % 4) + 100.0 * k
    val grid = shuffledGrid(shape, f)
      .withColumn("a", $"d1" * 10 + 5).withColumn("b", $"d2" * 0.5 - 1.0)
    for (inverse <- Seq(false, true)) {
      val out = Signal.fftshiftNd(grid, Seq("k"), Seq("a", "b"), "v", inverse)
      assert(out.columns.toSeq == Seq("k", "pos1", "pos2", "a", "b", "value"))
      val shift: Array[Double] => Array[Double] =
        if (inverse) Fft.ifftshift else Fft.fftshift
      val axisA = shift(Array(5.0, 15.0, 25.0))
      val axisB = shift(Array(-1.0, -0.5, 0.0, 0.5))
      for (k <- 0 until 2) {
        val want = Fft.fftshiftNd(Array.tabulate(12)(f(k, _)), shape, inverse)
        val rows = out.filter($"k" === k).orderBy("pos1", "pos2").collect()
        assert(rows.length == 12)
        rows.zipWithIndex.foreach { case (r, i) =>
          val (p1, p2) = (r.getAs[Int]("pos1"), r.getAs[Int]("pos2"))
          assert((p1, p2) == (i / 4, i % 4))
          assert(r.getAs[Double]("value") == want(i))
          assert(r.getAs[Double]("a") == axisA(p1) && r.getAs[Double]("b") == axisB(p2))
          // the value moved with its own cell's coordinates
          val (d1, d2) = (((r.getAs[Double]("a") - 5) / 10).toInt,
            ((r.getAs[Double]("b") + 1.0) / 0.5).toInt)
          assert(r.getAs[Double]("value") == f(k, d1 * 4 + d2))
        }
      }
    }
  }

  test("medfilt2d on a 3x5 grid equals the kernel") {
    def f(k: Int, i: Int): Double = ((i * 7 + 3 * k) % 11).toDouble
    val out = Signal.medfilt2d(shuffledGrid(Seq(3, 5), f), Seq("k"), "d1", "d2", "v")
    assert(out.columns.toSeq == Seq("k", "pos1", "pos2", "value"))
    for (k <- 0 until 2) {
      val want = Filt.medfilt2d(Array.tabulate(15)(f(k, _)), 3, 5)
      val pos = out.filter($"k" === k).orderBy("pos1", "pos2").select("pos1", "pos2")
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      assert(pos == (for (i <- 0 until 3; j <- 0 until 5) yield (i, j)))
      assert(gridValues(out, k, 2, "value").toSeq == want.toSeq)
    }
  }

  test("cwt's (width_idx, pos, value) equals the cwtFlat kernel") {
    val widths = Array(1.0, 2.0, 3.5)
    val out = Signal.cwt(longDf, Seq("k"), "t", "x", widths)
    assert(out.columns.toSeq == Seq("k", "width_idx", "pos", "value"))
    val taps = widths.map(a => graft.dsp.Wavelet.ricker((10 * a).toInt, a))
    for (k <- Seq("a", "b")) {
      val x = series(k, "x")
      val want = graft.dsp.Wavelet.cwtFlat(x, taps.flatten, taps.map(_.length))
      val rows = out.filter($"k" === k).orderBy("width_idx", "pos").collect()
      assert(rows.map(r => (r.getInt(1), r.getInt(2))).toSeq ==
        (for (w <- widths.indices; i <- x.indices) yield (w, i)))
      assert(rows.map(_.getDouble(3)).toSeq == want.toSeq)
    }
  }

  private def maxDiff(a: Array[Double], b: Array[Double]): Double = {
    require(a.length == b.length, s"length ${a.length} vs ${b.length}")
    if (a.isEmpty) 0.0 else a.indices.map(i => math.abs(a(i) - b(i))).max
  }
}
