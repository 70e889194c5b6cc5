package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.DataType

/** One Catalyst expression for every [[Bridge]] kernel. Both
  * evaluation paths call the same public static `Bridge.<fn>` method:
  * doGenCode emits a direct static call, so the enclosing plan stays
  * inside whole-stage codegen (no UDF closure, no Row boxing — arrays
  * move as UnsafeArrayData), and eval (Spark's fallback when codegen
  * is off or fails to compile) invokes that method reflectively.
  */
case class DspExpr(fn: String, children: Seq[Expression]) extends Expression {

  private val sig = Bridge.signatures.getOrElse(
    fn, throw new IllegalArgumentException(s"unknown dsp function: $fn"))

  /** The static `Bridge.<fn>` method doGenCode calls, resolved from the
    * declared argument types (transient: re-resolved after the
    * expression is deserialized on an executor).
    */
  @transient private lazy val method: java.lang.reflect.Method =
    Class.forName("graft.functions.Bridge")
      .getMethod(fn, sig._1.map(CodeGenerator.javaClass): _*)

  override def dataType: DataType = sig._2
  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val want = sig._1
    if (children.length != want.length)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$fn expects ${want.length} args, got ${children.length}")
    else {
      // nullability-insensitive compare (transform()'d arrays arrive
      // as containsNull=true; the equispaced-series contract forbids
      // null elements at runtime)
      def norm(t: DataType): DataType = t match {
        case org.apache.spark.sql.types.ArrayType(e, _) =>
          org.apache.spark.sql.types.ArrayType(norm(e), containsNull = true)
        case s: org.apache.spark.sql.types.StructType =>
          org.apache.spark.sql.types.StructType(
            s.fields.map(f => f.copy(dataType = norm(f.dataType), nullable = true)))
        case other => other
      }
      val bad = children.zip(want).zipWithIndex.collectFirst {
        case ((c, w), i) if norm(c.dataType) != norm(w) => (i, c.dataType, w)
      }
      bad match {
        case Some((i, got, w)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$fn arg $i: expected $w, got $got")
        case None =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      }
    }
  }

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try method.invoke(null, args: _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val javaRet = CodeGenerator.javaType(dataType)
    val argList = gens.map(_.value).mkString(", ")
    val anyNull =
      if (children.forall(!_.nullable)) "false"
      else gens.map(_.isNull).mkString("(", " || ", ")")
    ev.copy(code = code"""
      |${gens.map(_.code).foldLeft(code"")(_ + _)}
      |boolean ${ev.isNull} = $anyNull;
      |$javaRet ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |if (!${ev.isNull}) {
      |  ${ev.value} = graft.functions.Bridge.$fn($argList);
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)

  override def prettyName: String = s"graft_${fn.toLowerCase}"
}

/** `spark.sql.extensions` entry point (see [[Functions.installExtensions]]). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    Functions.installExtensions(ext)
    ext.injectOptimizerRule(_ => FuseSosfilt)
  }
}

/** Registers every bridge kernel as a SQL-callable function
  * `graft_<name>` and exposes typed Column wrappers. Usable both from
  * the DataFrame DSL (via [[dsl]]) and from `spark.sql`.
  */
object Functions {

  val names: Seq[String] = Bridge.signatures.keys.toSeq.sorted

  /** Sessions already installed into — install is called from every
    * query builder, so re-registration must be a silent no-op (the
    * registry logs a "replacing existing function" warning per
    * function per call otherwise, flooding bench output).
    */
  private val installed =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        // weak keys: don't pin every session ever installed (a driver
        // creating per-request newSession()s would leak them all)
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  def install(spark: SparkSession): Unit = {
    if (!installed.add(spark)) return
    val registry = spark.sessionState.functionRegistry
    names.foreach { n =>
      registry.createOrReplaceTempFunction(
        s"graft_${n.toLowerCase}", exprs => DspExpr(n, exprs), "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(FuseSosfilt))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ FuseSosfilt
  }

  /** Session-extensions installer: makes every graft function available
    * in ALL sessions of a deployment without code changes —
    * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
    * The same registration [[install]] performs per-session.
    */
  def installExtensions(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    names.foreach { n =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(s"graft_${n.toLowerCase}"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[DspExpr].getCanonicalName, s"graft_${n.toLowerCase}"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          DspExpr(n, exprs)))
    }

  /** Column DSL over the registered functions; `install` must have run
    * on the owning session.
    */
  object dsl {
    private def call(fn: String, cols: Column*): Column =
      call_function(s"graft_${fn.toLowerCase}", cols: _*)

    import org.apache.spark.sql.functions.lit

    def fftC(re: Column, im: Column, n: Int = -1, norm: String = "backward"): Column =
      call("fft", re, im, lit(n), lit(norm))
    def ifftC(re: Column, im: Column, n: Int = -1, norm: String = "backward"): Column =
      call("ifft", re, im, lit(n), lit(norm))
    def rfftC(x: Column, n: Int = -1, norm: String = "backward"): Column =
      call("rfft", x, lit(n), lit(norm))
    def irfftC(re: Column, im: Column, n: Int = -1, norm: String = "backward"): Column =
      call("irfft", re, im, lit(n), lit(norm))
    def hfftC(re: Column, im: Column, n: Int = -1, norm: String = "backward"): Column =
      call("hfft", re, im, lit(n), lit(norm))
    def ihfftC(x: Column, n: Int = -1, norm: String = "backward"): Column =
      call("ihfft", x, lit(n), lit(norm))
    def fftNdC(re: Column, im: Column, shape: Column,
               inverse: Boolean, norm: String = "backward"): Column =
      call("fftNd", re, im, shape, lit(inverse), lit(norm))
    def dct2C(x: Column, norm: String = "backward"): Column =
      call("dct2", x, lit(norm))
    def idct2C(x: Column, norm: String = "backward"): Column =
      call("idct2", x, lit(norm))
    def dst2C(x: Column, norm: String = "backward"): Column =
      call("dst2", x, lit(norm))
    def idst2C(x: Column, norm: String = "backward"): Column =
      call("idst2", x, lit(norm))
    def fftfreqC(n: Column, delta: Column): Column = call("fftfreq", n, delta)
    def rfftfreqC(n: Column, delta: Column): Column = call("rfftfreq", n, delta)
    def fftshiftC(x: Column): Column = call("fftshift", x)
    def ifftshiftC(x: Column): Column = call("ifftshift", x)
    def fftshiftNdC(x: Column, shape: Column, inverse: Boolean): Column =
      call("fftshiftNd", x, shape, lit(inverse))
    def convolveC(a: Column, b: Column, mode: String = "full", method: String = "auto"): Column =
      call("convolve", a, b, lit(mode), lit(method))
    def fftconvolve2dC(a: Column, aRows: Column, b: Column, bRows: Column,
                       mode: String = "full"): Column =
      call("fftconvolve2d", a, aRows, b, bRows, lit(mode))
    def fftconvolveNdC(a: Column, aShape: Column, b: Column, bShape: Column,
                       mode: String = "full"): Column =
      call("fftconvolveNd", a, aShape, b, bShape, lit(mode))
    def correlateC(a: Column, b: Column, mode: String = "full", method: String = "auto"): Column =
      call("correlate", a, b, lit(mode), lit(method))
    def convolveCxC(aRe: Column, aIm: Column, bRe: Column, bIm: Column,
                    mode: String = "full", method: String = "auto"): Column =
      call("convolveCx", aRe, aIm, bRe, bIm, lit(mode), lit(method))
    def correlateCxC(aRe: Column, aIm: Column, bRe: Column, bIm: Column,
                     mode: String = "full", method: String = "auto"): Column =
      call("correlateCx", aRe, aIm, bRe, bIm, lit(mode), lit(method))
    def sosfiltC(sos: Column, x: Column): Column = call("sosfilt", sos, x)
    def sosfiltzC(sos: Column, x: Column, zi: Column): Column = call("sosfiltz", sos, x, zi)
    def sosfiltfiltC(sos: Column, x: Column, padtype: String = "odd", padlen: Int = -1): Column =
      call("sosfiltfilt", sos, x, lit(padtype), lit(padlen))
    def lfilterC(b: Column, a: Column, x: Column): Column = call("lfilter", b, a, x)
    def filtfiltC(b: Column, a: Column, x: Column): Column = call("filtfilt", b, a, x)
    def hilbertC(x: Column, n: Int = -1): Column = call("hilbert", x, lit(n))
    def detrendC(x: Column, typ: String = "linear"): Column =
      call("detrend", x, lit(typ))
    def medfiltC(x: Column, kernelSize: Int = 3): Column =
      call("medfilt", x, lit(kernelSize))
    def medfilt2dC(x: Column, rows: Column, cols: Column,
                   kr: Int = 3, kc: Int = 3): Column =
      call("medfilt2d", x, rows, cols, lit(kr), lit(kc))
    def deconvolveC(sig: Column, div: Column): Column =
      call("deconvolve", sig, div)
    def savgolC(x: Column, window: Int = 5, polyorder: Int = 2,
                mode: String = "constant", deriv: Int = 0,
                delta: Double = 1.0): Column =
      call("savgol", x, lit(window), lit(polyorder), lit(mode),
        lit(deriv), lit(delta))
    def orderFilterC(x: Column, size: Int, rank: Int): Column =
      call("orderFilter", x, lit(size), lit(rank))
    def wienerC(x: Column, size: Int = 3, noise: Double = -1.0): Column =
      call("wiener", x, lit(size), lit(noise))
    def welchC(x: Column, nperseg: Int, hop: Int, wts: Column,
               fs: Column, demean: Boolean = true,
               average: String = "mean"): Column =
      call("welch", x, lit(nperseg), lit(hop), wts, fs, lit(demean), lit(average))
    def zoomDftC(x: Column, f1: Double, f2: Double, m: Int, fs: Column,
                 endpoint: Boolean = false): Column =
      call("zoomDft", x, lit(f1), lit(f2), lit(m), fs, lit(endpoint))
    def cztC(x: Column, m: Int, wMod: Double, wPhi: Double,
             aMod: Double, aPhi: Double): Column =
      call("czt", x, lit(m), lit(wMod), lit(wPhi), lit(aMod), lit(aPhi))
    def welchPartialC(vals: Column, chunkStart: Column, span: Int, nperseg: Int,
                      hop: Int, wts: Column, demean: Boolean = true): Column =
      call("welchPartial", vals, chunkStart, lit(span), lit(nperseg), lit(hop),
        wts, lit(demean))
    def csdC(x: Column, y: Column, nperseg: Int, hop: Int, wts: Column,
             fs: Column, demean: Boolean = true): Column =
      call("csd", x, y, lit(nperseg), lit(hop), wts, fs, lit(demean))
    def coherenceC(x: Column, y: Column, nperseg: Int, hop: Int, wts: Column,
                   fs: Column, demean: Boolean = true): Column =
      call("coherence", x, y, lit(nperseg), lit(hop), wts, fs, lit(demean))
    def istftC(re: Column, im: Column, nWins: Column, w: Int, h: Int,
               wts: Column): Column =
      call("istft", re, im, nWins, lit(w), lit(h), wts)
    def cwtFlatC(x: Column, tapsFlat: Column, tapLens: Column): Column =
      call("cwtFlat", x, tapsFlat, tapLens)
    def lombscargleC(t: Column, y: Column, freqs: Column,
                     precenter: Boolean = false,
                     normalize: Boolean = false): Column =
      call("lombscargle", t, y, freqs, lit(precenter), lit(normalize))
    def periodogramC(x: Column, window: String, fs: Column,
                     demean: Boolean = true): Column =
      call("periodogram", x, lit(window), fs, lit(demean))
    def envelopeC(x: Column, n: Int = -1): Column = call("envelope", x, lit(n))
    def resampleC(x: Column, num: Column, window: String = "",
                  domain: String = "time"): Column =
      call("resample", x, num, lit(window), lit(domain))
    def resampleWC(x: Column, num: Column, w: Column,
                   domain: String = "time"): Column =
      call("resampleW", x, num, w, lit(domain))
    def upfirdnC(h: Column, x: Column, up: Int, down: Int): Column =
      call("upfirdn", h, x, lit(up), lit(down))
    def interpGridC(coords: Column, values: Column, start: Double,
                    step: Double, n: Int): Column =
      call("interpGrid", coords, values, lit(start), lit(step), lit(n))
    def resamplePolyC(x: Column, up: Int, down: Int, beta: Double = 5.0): Column =
      call("resamplePoly", x, lit(up), lit(down), lit(beta))
    def decimateC(x: Column, q: Int, n: Int = -1, ftype: String = "iir",
                  zeroPhase: Boolean = true): Column =
      call("decimate", x, lit(q), lit(n), lit(ftype), lit(zeroPhase))
    def peakWidthsC(x: Column, peaks: Column, relHeight: Double = 0.5,
                    wlen: Int = -1): Column =
      call("peakWidths", x, peaks, lit(relHeight), lit(wlen))
    def peakWidthsPC(x: Column, peaks: Column, relHeight: Column,
                     prom: Column, lbase: Column, rbase: Column): Column =
      call("peakWidthsP", x, peaks, relHeight, prom, lbase, rbase)
    def localMaximaC(x: Column): Column = call("localMaxima", x)
    def findPeaksFC(x: Column, height: Double = Double.NaN, distance: Int = 1,
                    promMin: Double = Double.NaN, wlen: Int = -1,
                    widthMin: Double = Double.NaN,
                    widthMax: Double = Double.NaN,
                    relHeight: Double = 0.5,
                    thresholdMin: Double = Double.NaN,
                    thresholdMax: Double = Double.NaN,
                    plateauMin: Int = -1,
                    plateauMax: Int = -1): Column =
      call("findPeaksF", x, lit(height), lit(distance), lit(promMin), lit(wlen),
        lit(widthMin), lit(widthMax), lit(relHeight),
        lit(thresholdMin), lit(thresholdMax),
        lit(plateauMin), lit(plateauMax))
    def nfcC(text: Column): Column = call("nfc", text)
    def uniTokensC(text: Column): Column = call("uniTokens", text)
    def winnowC(text: Column, k: Int = 8, w: Int = 4,
                base: Long = 31L, mod: Long = 1000000007L): Column =
      call("winnow", text, lit(k), lit(w), lit(base), lit(mod))
    def simhashC(words: Column): Column = call("simhash", words)
    def dotpC(a: Column, b: Column): Column = call("dotp", a, b)
    def adcC(lut: Column, codes: Column): Column = call("adc", lut, codes)
    def ivfCellC(v: Column, cents: Column, ids: Column): Column =
      call("ivfCell", v, cents, ids)
    def ivfCellFC(v: Column, cents: Column, ids: Column): Column =
      call("ivfCellF", v, cents, ids)
    def ivfProbesC(v: Column, cents: Column, ids: Column, nProbe: Int): Column =
      call("ivfProbes", v, cents, ids, lit(nProbe))
    def pqLutC(v: Column, cb: Column): Column = call("pqLut", v, cb)
    def matVecC(v: Column, rows: Column): Column = call("matVec", v, rows)
    def matVecFC(v: Column, rows: Column): Column = call("matVecF", v, rows)
    def pqAssignC(v: Column, cb: Column): Column = call("pqAssign", v, cb)
    def pqAssignFC(v: Column, cb: Column): Column = call("pqAssignF", v, cb)
    def cosineC(a: Column, b: Column): Column = call("cosine", a, b)
    def pairsC(ids: Column): Column = call("pairs", ids)
    def dotpFC(a: Column, b: Column): Column = call("dotpF", a, b)
    def cosineFC(a: Column, b: Column): Column = call("cosineF", a, b)
    def cosineFFC(a: Column, b: Column): Column = call("cosineFF", a, b)
    def byteHistogramC(bin: Column): Column = call("byteHistogram", bin)
    def pcmFramesC(bin: Column, frameLen: Int, center: Int = 0): Column =
      call("pcmFrames", bin, lit(frameLen), lit(center))
    def mfccFramesC(bin: Column, frameLen: Int, center: Int, nMels: Int,
                    nCoef: Int, sampleRate: Double): Column =
      call("mfccFrames", bin, lit(frameLen), lit(center), lit(nMels),
        lit(nCoef), lit(sampleRate))
    def synthBmpC(text: Column, w: Int, h: Int, off: Int = 0): Column =
      call("synthBmp", text, lit(w), lit(h), lit(off))
    def synthJpegC(text: Column, w: Int, h: Int, off: Int = 0, q: Int = 95): Column =
      call("synthJpeg", text, lit(w), lit(h), lit(off), lit(q))
    def synthPngC(text: Column, w: Int, h: Int, off: Int = 0): Column =
      call("synthPng", text, lit(w), lit(h), lit(off))
    def imageBlockSumsC(bin: Column, gw: Int, gh: Int): Column =
      call("imageBlockSums", bin, lit(gw), lit(gh))
    def imageResizeNNC(bin: Column, ow: Int, oh: Int): Column =
      call("imageResizeNN", bin, lit(ow), lit(oh))
    def imageDHashC(bin: Column, dw: Int, dh: Int): Column =
      call("imageDHash", bin, lit(dw), lit(dh))
    def imageResizeBilinearC(bin: Column, ow: Int, oh: Int): Column =
      call("imageResizeBilinear", bin, lit(ow), lit(oh))
    def imageFramesC(bin: Column): Column = call("imageFrames", bin)
    def bpeEncodeC(word: Column, mergesL: Column, mergesR: Column): Column =
      call("bpeEncode", word, mergesL, mergesR)
    def byteSymsC(bin: Column): Column = call("byteSyms", bin)
    def bpeMergeBC(syms: Column, l: Column, r: Column): Column =
      call("bpeMergeB", syms, l, r)
    def bpeEncodeBC(word: Column, mergesL: Column, mergesR: Column): Column =
      call("bpeEncodeB", word, mergesL, mergesR)
    def unigramEncC(word: Column, pieces: Column, lpqs: Column): Column =
      call("unigramEnc", word, pieces, lpqs)
    def unigramExpC(word: Column, pieces: Column, lpqs: Column): Column =
      call("unigramExp", word, pieces, lpqs)
  }
}
