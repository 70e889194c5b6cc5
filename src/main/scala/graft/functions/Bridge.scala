package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.dsp.{Conv, Fft, Filt, Hilbert, Peaks, Resample, Spectral, Vec, Wavelet}

/** Static kernel entry points on Catalyst runtime types (ArrayData
  * in/out, UTF8String params). A kernel is declared once: its method
  * here plus its [[signatures]] entry. Generated code calls the method
  * directly (see [[DspExpr.doGenCode]]) as
  * `graft.functions.Bridge.<name>(...)` — no boxing, no closure
  * serialization, one static call per group-row — and the interpreted
  * [[DspExpr.eval]] invokes the same method.
  */
object Bridge {

  val arrD: ArrayType = ArrayType(DoubleType, containsNull = false)
  val arrF: ArrayType = ArrayType(FloatType, containsNull = false)
  val arrI: ArrayType = ArrayType(IntegerType, containsNull = false)

  /** complex series as struct-of-arrays — mirrors the reference's
    * complex DataArray (xarray_scipy/signal.py:234-241) without boxing.
    */
  val complexT: StructType = StructType(Seq(
    StructField("re", arrD, nullable = false),
    StructField("im", arrD, nullable = false)))

  val peakWidthsT: StructType = StructType(Seq(
    StructField("widths", arrD, nullable = false),
    StructField("width_heights", arrD, nullable = false),
    StructField("left_ips", arrD, nullable = false),
    StructField("right_ips", arrD, nullable = false)))

  @inline private def d(a: ArrayData): Array[Double] = a.toDoubleArray()
  @inline private def out(a: Array[Double]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(a)
  @inline private def c(x: Fft.C): InternalRow =
    new GenericInternalRow(Array[Any](out(x.re), out(x.im)))

  // ---- FFT family ---------------------------------------------------

  def fft(re: ArrayData, im: ArrayData, n: Int, norm: UTF8String): InternalRow =
    c(Fft.fft(d(re), d(im), n, norm.toString))

  def ifft(re: ArrayData, im: ArrayData, n: Int, norm: UTF8String): InternalRow =
    c(Fft.ifft(d(re), d(im), n, norm.toString))

  def rfft(x: ArrayData, n: Int, norm: UTF8String): InternalRow =
    c(Fft.rfft(d(x), n, norm.toString))

  def irfft(re: ArrayData, im: ArrayData, n: Int, norm: UTF8String): ArrayData =
    out(Fft.irfft(d(re), d(im), n, norm.toString))

  def hfft(re: ArrayData, im: ArrayData, n: Int, norm: UTF8String): ArrayData =
    out(Fft.hfft(d(re), d(im), n, norm.toString))

  def fftNd(re: ArrayData, im: ArrayData, shape: ArrayData,
            inverse: Boolean, norm: UTF8String): InternalRow =
    c(Fft.fftNd(d(re), if (im == null) null else d(im), shape.toIntArray(),
      inverse, norm.toString))

  def dct2(x: ArrayData, norm: UTF8String): ArrayData =
    out(Fft.dct2(d(x), norm.toString))

  def idct2(x: ArrayData, norm: UTF8String): ArrayData =
    out(Fft.idct2(d(x), norm.toString))

  def dst2(x: ArrayData, norm: UTF8String): ArrayData =
    out(Fft.dst2(d(x), norm.toString))

  def idst2(x: ArrayData, norm: UTF8String): ArrayData =
    out(Fft.idst2(d(x), norm.toString))

  def ihfft(x: ArrayData, n: Int, norm: UTF8String): InternalRow =
    c(Fft.ihfft(d(x), n, norm.toString))

  def fftfreq(n: Int, delta: Double): ArrayData = out(Fft.fftfreq(n, delta))

  def rfftfreq(n: Int, delta: Double): ArrayData = out(Fft.rfftfreq(n, delta))

  def fftshift(x: ArrayData): ArrayData = out(Fft.fftshift(d(x)))

  def ifftshift(x: ArrayData): ArrayData = out(Fft.ifftshift(d(x)))

  def fftshiftNd(x: ArrayData, shape: ArrayData, inverse: Boolean): ArrayData =
    out(Fft.fftshiftNd(d(x), shape.toIntArray(), inverse))

  // ---- convolution --------------------------------------------------

  def convolve(a: ArrayData, b: ArrayData, mode: UTF8String, method: UTF8String): ArrayData =
    out(Conv.convolve(d(a), d(b), mode.toString, method.toString))

  def correlate(a: ArrayData, b: ArrayData, mode: UTF8String, method: UTF8String): ArrayData =
    out(Conv.correlate(d(a), d(b), mode.toString, method.toString))

  /** Complex convolve/correlate — scipy accepts complex input and
    * correlate conjugates in2 (xarray_scipy/signal.py:34-38); series
    * use the repo-wide (re, im) parallel-array convention.
    */
  def convolveCx(aRe: ArrayData, aIm: ArrayData, bRe: ArrayData, bIm: ArrayData,
                 mode: UTF8String, method: UTF8String): InternalRow =
    c(Conv.convolveComplex(d(aRe), d(aIm), d(bRe), d(bIm),
      mode.toString, method.toString))

  def correlateCx(aRe: ArrayData, aIm: ArrayData, bRe: ArrayData, bIm: ArrayData,
                  mode: UTF8String, method: UTF8String): InternalRow =
    c(Conv.correlateComplex(d(aRe), d(aIm), d(bRe), d(bIm),
      mode.toString, method.toString))

  /** 2-D FFT convolution over row-major flattened grids — the
    * reference's multi-dim `fftconvolve(dims=[d1, d2])`
    * (xarray_scipy/signal.py:51). Column counts are derived from the
    * flattened lengths.
    */
  def fftconvolve2d(a: ArrayData, aRows: Int, b: ArrayData, bRows: Int,
                    mode: UTF8String): InternalRow = {
    val av = d(a); val bv = d(b)
    // reject non-rectangular flattened grids instead of silently
    // truncating the remainder into a wrong (rows x len/rows) shape
    require(aRows > 0 && av.length % aRows == 0,
      s"fftconvolve2d: ${av.length} values do not form $aRows complete rows")
    require(bRows > 0 && bv.length % bRows == 0,
      s"fftconvolve2d: ${bv.length} kernel values do not form $bRows complete rows")
    val (res, outR, outC) = Conv.fftconvolve2d(
      av, aRows, av.length / aRows, bv, bRows, bv.length / bRows, mode.toString)
    new GenericInternalRow(Array[Any](out(res), outR, outC))
  }

  /** N-D FFT convolution over row-major flattened arrays with explicit
    * shape vectors — the reference's arbitrary `dims` list
    * (xarray_scipy/signal.py:51-106) for rank >= 3.
    */
  def fftconvolveNd(a: ArrayData, aShape: ArrayData, b: ArrayData,
                    bShape: ArrayData, mode: UTF8String): InternalRow = {
    val (res, shape) = Conv.fftconvolveNd(
      d(a), aShape.toIntArray(), d(b), bShape.toIntArray(), mode.toString)
    new GenericInternalRow(Array[Any](out(res),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        shape.map(_.asInstanceOf[Any]))))
  }

  // ---- filtering ----------------------------------------------------

  def sosfilt(sos: ArrayData, x: ArrayData): ArrayData =
    out(Filt.sosfilt(d(sos), d(x)))

  /** sosfilt with explicit initial conditions (flattened (n,2) zi),
    * the reference's `zi` parameter (xarray_scipy/signal.py:406).
    */
  def sosfiltz(sos: ArrayData, x: ArrayData, zi: ArrayData): ArrayData =
    out(Filt.sosfilt(d(sos), d(x), d(zi)))

  def sosfiltfilt(sos: ArrayData, x: ArrayData, padtype: UTF8String, padlen: Int): ArrayData =
    out(Filt.sosfiltfilt(d(sos), d(x), padtype.toString, padlen))

  def lfilter(b: ArrayData, a: ArrayData, x: ArrayData): ArrayData =
    out(Filt.lfilter(d(b), d(a), d(x)))

  def filtfilt(b: ArrayData, a: ArrayData, x: ArrayData): ArrayData =
    out(Filt.filtfilt(d(b), d(a), d(x)))

  // ---- spectral / rate ----------------------------------------------

  def hilbert(x: ArrayData, n: Int): InternalRow = c(Hilbert.hilbert(d(x), n))

  def medfilt(x: ArrayData, kernelSize: Int): ArrayData =
    out(Filt.medfilt(d(x), kernelSize))

  def medfilt2d(x: ArrayData, rows: Int, cols: Int, kr: Int, kc: Int): ArrayData =
    out(Filt.medfilt2d(d(x), rows, cols, kr, kc))

  def deconvolve(sig: ArrayData, div: ArrayData): InternalRow = {
    val (q, r) = Conv.deconvolve(d(sig), d(div))
    new GenericInternalRow(Array[Any](out(q), out(r)))
  }

  def findPeaksF(x: ArrayData, height: Double, distance: Int, promMin: Double,
                 wlen: Int, widthMin: Double, widthMax: Double,
                 relHeight: Double, thrMin: Double, thrMax: Double,
                 plateauMin: Int, plateauMax: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      Peaks.findPeaksFiltered(d(x), height, distance, promMin, wlen,
        widthMin, widthMax, relHeight, thrMin, thrMax,
        plateauMin, plateauMax))

  def savgol(x: ArrayData, window: Int, polyorder: Int, mode: UTF8String,
             deriv: Int, delta: Double): ArrayData =
    out(Filt.savgol(d(x), window, polyorder, mode.toString, deriv, delta))

  def orderFilter(x: ArrayData, size: Int, rank: Int): ArrayData =
    out(Filt.orderFilter(d(x), size, rank))

  def wiener(x: ArrayData, size: Int, noise: Double): ArrayData =
    out(Filt.wiener(d(x), size, noise))

  def detrend(x: ArrayData, typ: UTF8String): ArrayData =
    out(Spectral.detrend(d(x), typ.toString))

  def welch(x: ArrayData, nperseg: Int, hop: Int, wts: ArrayData,
            fs: Double, demean: Boolean, average: UTF8String): ArrayData =
    out(Spectral.welch(d(x), nperseg, hop, d(wts), fs, demean, average.toString))

  def zoomDft(x: ArrayData, f1: Double, f2: Double, m: Int, fs: Double,
              endpoint: Boolean): InternalRow =
    c(Spectral.zoomDft(d(x), f1, f2, m, fs, endpoint))

  def czt(x: ArrayData, m: Int, wMod: Double, wPhi: Double,
          aMod: Double, aPhi: Double): InternalRow =
    c(Spectral.czt(d(x), m, wMod, wPhi, aMod, aPhi))

  def welchPartial(vals: ArrayData, chunkStart: Long, span: Int, nperseg: Int,
                   hop: Int, wts: ArrayData, demean: Boolean): ArrayData =
    out(Spectral.welchPartial(d(vals), chunkStart, span, nperseg, hop,
      d(wts), demean))

  def csd(x: ArrayData, y: ArrayData, nperseg: Int, hop: Int, wts: ArrayData,
          fs: Double, demean: Boolean): InternalRow =
    c(Spectral.csd(d(x), d(y), nperseg, hop, d(wts), fs, demean))

  /** scipy.signal.periodogram == welch with ONE whole-series segment;
    * the window is built here because its length is the per-row series
    * length, not a plan-time literal.
    */
  def periodogram(x: ArrayData, window: UTF8String, fs: Double,
                  demean: Boolean): ArrayData = {
    val xs = d(x)
    val wts = Resample.periodicWindow(window.toString, xs.length)
    out(Spectral.welch(xs, xs.length, xs.length, wts, fs, demean))
  }

  def coherence(x: ArrayData, y: ArrayData, nperseg: Int, hop: Int,
                wts: ArrayData, fs: Double, demean: Boolean): ArrayData =
    out(Spectral.coherence(d(x), d(y), nperseg, hop, d(wts), fs, demean))

  def istft(re: ArrayData, im: ArrayData, nWins: Int, w: Int, h: Int,
            wts: ArrayData): ArrayData =
    out(Spectral.istft(d(re), d(im), nWins, w, h, d(wts)))

  def cwtFlat(x: ArrayData, tapsFlat: ArrayData, tapLens: ArrayData): ArrayData =
    out(Wavelet.cwtFlat(d(x), d(tapsFlat), tapLens.toIntArray()))

  def lombscargle(t: ArrayData, y: ArrayData, freqs: ArrayData,
                  precenter: Boolean, normalize: Boolean): ArrayData =
    out(Wavelet.lombscargle(d(t), d(y), d(freqs), precenter, normalize))

  def envelope(x: ArrayData, n: Int): ArrayData = out(Hilbert.envelope(d(x), n))

  def interpGrid(coords: ArrayData, values: ArrayData, start: Double,
                 step: Double, n: Int): ArrayData =
    out(Resample.interpGrid(d(coords), d(values), start, step, n))

  def upfirdn(h: ArrayData, x: ArrayData, up: Int, down: Int): ArrayData =
    out(Resample.upfirdn(d(h), d(x), up, down))

  def resamplePoly(x: ArrayData, up: Int, down: Int, beta: Double): ArrayData =
    out(Resample.resamplePoly(d(x), up, down, beta))

  def resample(x: ArrayData, num: Int, window: UTF8String, domain: UTF8String): ArrayData =
    out(Resample.resample(d(x), num, window.toString, domain.toString))

  /** resample with an explicit Fourier-order window vector (scipy's
    * array_like window branch).
    */
  def resampleW(x: ArrayData, num: Int, w: ArrayData, domain: UTF8String): ArrayData =
    out(Resample.resampleW(d(x), num, d(w), domain.toString))

  def decimate(x: ArrayData, q: Int, n: Int, ftype: UTF8String, zeroPhase: Boolean): ArrayData =
    out(Resample.decimate(d(x), q, n, ftype.toString, zeroPhase))

  // ---- peaks --------------------------------------------------------

  def peakWidths(x: ArrayData, peaks: ArrayData, relHeight: Double,
                 wlen: Int): InternalRow = {
    val xs = d(x)
    val ps = peaks.toIntArray()
    val n = ps.length
    val w = new Array[Double](n); val h = new Array[Double](n)
    val l = new Array[Double](n); val r = new Array[Double](n)
    var i = 0
    while (i < n) {
      val res = Peaks.width(xs, ps(i), relHeight, wlen)
      w(i) = res.width; h(i) = res.widthHeight; l(i) = res.leftIp; r(i) = res.rightIp
      i += 1
    }
    new GenericInternalRow(Array[Any](out(w), out(h), out(l), out(r)))
  }

  /** peak_widths with caller-provided prominence_data (scipy's
    * (prominences, left_bases, right_bases) triple, parallel to
    * `peaks`) — the prominence search is skipped entirely.
    */
  def peakWidthsP(x: ArrayData, peaks: ArrayData, relHeight: Double,
                  prom: ArrayData, lbase: ArrayData, rbase: ArrayData): InternalRow = {
    val xs = d(x)
    val ps = peaks.toIntArray()
    val pr = d(prom); val lb = lbase.toIntArray(); val rb = rbase.toIntArray()
    require(pr.length == ps.length && lb.length == ps.length && rb.length == ps.length,
      s"prominence_data arrays (${pr.length}/${lb.length}/${rb.length}) must parallel peaks (${ps.length})")
    // the promData path bypasses Peaks.prominence, the only other place
    // that range-checks peak indices — validate here so a bad index
    // fails loudly instead of AIOOBE inside the width walk
    ps.foreach(peak => require(peak >= 0 && peak < xs.length,
      s"peakWidthsP: peak $peak outside signal of length ${xs.length}"))
    val n = ps.length
    val w = new Array[Double](n); val h = new Array[Double](n)
    val l = new Array[Double](n); val r = new Array[Double](n)
    var i = 0
    while (i < n) {
      val res = Peaks.width(xs, ps(i), relHeight,
        promData = Peaks.Prominence(pr(i), lb(i), rb(i)))
      w(i) = res.width; h(i) = res.widthHeight; l(i) = res.leftIp; r(i) = res.rightIp
      i += 1
    }
    new GenericInternalRow(Array[Any](out(w), out(h), out(l), out(r)))
  }

  def localMaxima(x: ArrayData): ArrayData = {
    val m = Peaks.localMaxima(d(x))
    UnsafeArrayData.fromPrimitiveArray(m)
  }

  // ---- text fingerprints (SURVEY.md §2.2 ops 20/28) -----------------

  /** Winnowing document fingerprint: k-codepoint rolling polynomial
    * hashes (h_i = Σ c_{i+j} B^{k-1-j} mod M), then the minimum of
    * each `w`-window, deduplicated and sorted. One pass over the
    * string per row; the SQL oracle replays the same definition
    * quadratically.
    */
  /** Unicode NFC normalization (java.text.Normalizer, UAX#15) — the
    * composed-form fold the Unicode text surface runs before
    * tokenizing, so "café" typed with a combining acute (e + U+0301)
    * and precomposed "café" (U+00E9) become the SAME token. DuckDB's
    * nfc_normalize implements the same UAX#15 algorithm, so oracles
    * replay textually. Fast path: pure-ASCII strings (the common case
    * in a mixed corpus) skip the JDK normalizer entirely.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Single-pass Unicode tokenizer over an already NFC-folded,
    * lowercased string — semantically IDENTICAL to the two-regex
    * pipeline it replaces (round 17, the shingle-family cost of the
    * r15 unicode flip):
    *
    *   regexp_replace(s, "([\p{IsHan}\p{IsHiragana}\p{IsKatakana}])", " $1 ")
    *   regexp_extract_all(_, "[\p{L}\p{N}]+")
    *
    * i.e. maximal runs of Unicode letters/numbers (categories L* and
    * Nd/Nl/No), with Han/Hiragana/Katakana-SCRIPT codepoints emitted
    * as single-char tokens (they are all \p{L}, and the pad isolated
    * them). java.util.regex `\p{IsHan}` and `Character.UnicodeScript
    * .of` read the same Scripts.txt property, so e.g. U+30FC (script
    * Common, category Lm) joins adjacent tokens under BOTH paths.
    * One codepoint walk, no intermediate padded string, ASCII short-
    * circuit (no script/category lookup below 0x80) — the DuckDB
    * regex oracle replays the original pipeline textually and the
    * correctness gate proves the equivalence corpus-wide; the spec
    * pins it against the regex pipeline on adversarial inputs.
    */
  def uniTokens(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      val cc = Character.charCount(cp)
      if (cp < 0x80) {
        // ASCII fast path: no CJK, letter/digit by range (input is
        // already lowercased, but A-Z kept for safety — isLetter would
        // match them too)
        val isLN = (cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9') ||
          (cp >= 'A' && cp <= 'Z')
        if (isLN) sb.append(cp.toChar)
        else if (sb.length > 0) {
          out += UTF8String.fromString(sb.toString); sb.setLength(0)
        }
      } else {
        val sc = Character.UnicodeScript.of(cp)
        val isCjk = sc == Character.UnicodeScript.HAN ||
          sc == Character.UnicodeScript.HIRAGANA ||
          sc == Character.UnicodeScript.KATAKANA
        if (isCjk) {
          if (sb.length > 0) {
            out += UTF8String.fromString(sb.toString); sb.setLength(0)
          }
          out += UTF8String.fromString(str.substring(i, i + cc))
        } else {
          val t = Character.getType(cp)
          val isLN = Character.isLetter(cp) ||
            t == Character.DECIMAL_DIGIT_NUMBER ||
            t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER
          if (isLN) sb.appendCodePoint(cp)
          else if (sb.length > 0) {
            out += UTF8String.fromString(sb.toString); sb.setLength(0)
          }
        }
      }
      i += cc
    }
    if (sb.length > 0) out += UTF8String.fromString(sb.toString)
    new GenericArrayData(out.toArray)
  }

  def winnow(s: UTF8String, k: Int, w: Int, base: Long, mod: Long): ArrayData = {
    // h < mod and codepoints < 0x110000, so h*base + cp stays in a
    // signed 64-bit long only while (mod-1)*base + 0x10FFFF < 2^63;
    // beyond that the rolling hash silently wraps negative
    require(mod > 0 && base > 0 && (mod - 1) <= (Long.MaxValue - 0x10FFFF) / base,
      s"winnow: mod $mod with base $base overflows the 64-bit rolling hash; " +
        s"use mod <= ${(Long.MaxValue - 0x10FFFF) / base}")
    require(k >= 1 && w >= 1, s"winnow: need k >= 1 and w >= 1, got k=$k w=$w")
    val str = s.toString
    // codepoints
    val cps = new Array[Int](str.length)
    var n = 0; var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      cps(n) = cp; n += 1
      i += Character.charCount(cp)
    }
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val p = n - k + 1
    val hs = new Array[Long](p)
    i = 0
    while (i < p) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * base + cps(i + j)) % mod; j += 1 }
      hs(i) = h
      i += 1
    }
    val nw = math.max(1, p - w + 1)
    val kept = new java.util.TreeSet[java.lang.Long]()
    i = 0
    while (i < nw) {
      var m = hs(i)
      var j = 1
      while (j < w && i + j < p) { if (hs(i + j) < m) m = hs(i + j); j += 1 }
      kept.add(m)
      i += 1
    }
    val out = new Array[Long](kept.size)
    val it = kept.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** 64-bit SimHash over a word array (term-frequency weighted): bit b
    * of md5(word)'s leading 64 bits votes ±tf; the sign of each
    * accumulator forms the signature, returned as (hi32, lo32) to stay
    * inside signed-BIGINT SQL arithmetic.
    */
  def simhash(words: ArrayData): InternalRow = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val acc = new Array[Int](64)
    val nw = words.numElements()
    var i = 0
    while (i < nw) {
      val w = words.getUTF8String(i)
      md.reset()
      val dig = md.digest(w.getBytes)
      // leading 64 bits = dig(0..7), MSB first
      var b = 0
      while (b < 64) {
        val bit = (dig(b >>> 3) >>> (7 - (b & 7))) & 1
        acc(b) += (if (bit == 1) 1 else -1)
        b += 1
      }
      i += 1
    }
    var hi = 0L; var lo = 0L
    var b = 0
    while (b < 32) {
      if (acc(b) >= 0) hi |= 1L << (31 - b)
      if (acc(b + 32) >= 0) lo |= 1L << (31 - b)
      b += 1
    }
    new GenericInternalRow(Array[Any](hi, lo))
  }

  /** All (a, b) pairs with a < b from a sorted id array — the LSH
    * bucket pair emission. One static call replaces a nested
    * transform/slice/flatten HOF tree (same result, a fraction of the
    * generated code).
    */
  def pairs(ids: ArrayData): ArrayData = {
    val v = ids.toLongArray()
    val n = v.length
    val nPairs = n.toLong * (n - 1) / 2 // Long: n*(n-1) overflows Int at n>46341
    require(nPairs <= 16777216L,
      s"pairs: bucket of $n ids would emit $nPairs pairs; cap bucket sizes " +
        "upstream (minhashCandidates maxBucket) — a bucket this large is a " +
        "fully-connected duplicate cluster better handled by exact dedup")
    val out = new Array[Any](nPairs.toInt)
    var k = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](v(i), v(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  // ---- vector kernels (SURVEY.md §2.2 ops 22-24) --------------------

  /** Sequential dot product (index order — same order an oracle's
    * list-indexed fold uses).
    */
  def dotp(a: ArrayData, b: ArrayData): Double = {
    val x = a.toDoubleArray(); val y = b.toDoubleArray()
    // loud length check: iterating x while indexing y would otherwise
    // AIOOBE (x longer) or silently truncate (x shorter) — e.g. a
    // 128-dim embedding against 64-wide LSH planes
    require(x.length == y.length,
      s"dotp: length mismatch ${x.length} vs ${y.length}")
    var s = 0.0
    var i = 0
    while (i < x.length) { s += x(i) * y(i); i += 1 }
    s
  }

  /** ADC lookup sum Σ_m lut[m][codes[m]] — the product-quantization
    * asymmetric-distance inner loop as ONE kernel call per scored row.
    * The equivalent element_at(element_at(lut,m+1), codes[m]+1) chain
    * allocates nested-array views per subspace per row and dominated
    * the ADC scan (~75 µs/row measured on the ×10 corpus — the IVF-PQ
    * shortlist is exactly the loop a 100 TB ANN query spends its time
    * in). Ascending-m summation matches the old chain bit-for-bit, so
    * scores and oracles are unchanged.
    */
  def adc(lut: ArrayData, codes: ArrayData): Double = {
    val n = codes.numElements()
    var s = 0.0
    var m = 0
    while (m < n) { s += lut.getArray(m).getDouble(codes.getInt(m)); m += 1 }
    s
  }

  // ---- IVF / PQ per-row kernels -----------------------------------------
  //
  // These replace literal-expression chains whose size scaled with
  // nCells·dim (32 centroids × 64 dims ≈ 2048 literals in ONE Project)
  // — big enough to push the whole ADC join stage out of whole-stage
  // codegen, leaving a 1M-row interpreted join path (~45 µs/row, the
  // emb_knn_graph_ivfpq ×10 regression). Each kernel is one codegen'd
  // static call; centroids/codebooks arrive ONCE as literal nested
  // arrays (reference objects, not per-row expressions). All tie rules
  // and summation orders replicate the old expressions bit-for-bit
  // (ascending-index dot products; argmax ties -> smallest id; argmin
  // ties -> smallest cell), so scores, fits, and oracles are unchanged.

  /** argmax_i ⟨v, cents[i]⟩ -> ids[i] by [[Vec.argmaxDot]]; ties -> the
    * earliest (ids must ascend, matching the old max(d, −cid) struct
    * rule). */
  def ivfCell(v: ArrayData, cents: ArrayData, ids: ArrayData): Int =
    ids.getInt(Vec.argmaxDot(v.toDoubleArray(), centroidRows(cents)))

  /** [[ivfCell]] for float vectors, widened per element (x(j).toDouble *
    * c(j), like dotpF). */
  def ivfCellF(v: ArrayData, cents: ArrayData, ids: ArrayData): Int = {
    val f = v.toFloatArray()
    val x = new Array[Double](f.length)
    var j = 0
    while (j < f.length) { x(j) = f(j).toDouble; j += 1 }
    ids.getInt(Vec.argmaxDot(x, centroidRows(cents)))
  }

  // the centroid table is a literal: one object for every row of a
  // task, so each task thread converts it once, keyed by identity
  private val centroidCache = new ThreadLocal[(ArrayData, Array[Array[Double]])]

  private def centroidRows(cents: ArrayData): Array[Array[Double]] = {
    val hit = centroidCache.get
    if (hit != null && (hit._1 eq cents)) hit._2
    else {
      val rows = Array.tabulate(cents.numElements())(i => cents.getArray(i).toDoubleArray())
      centroidCache.set((cents, rows))
      rows
    }
  }

  /** The nProbe best cells by ⟨v, cents[i]⟩ descending (ties -> lower
    * id first — the old sort_array(desc) struct rule with ni = −cid),
    * as array<struct<cell:int, d:double>>. */
  def ivfProbes(v: ArrayData, cents: ArrayData, ids: ArrayData,
                nProbe: Int): ArrayData = {
    val x = v.toDoubleArray()
    val n = cents.numElements()
    val ds = new Array[Double](n)
    var i = 0
    while (i < n) {
      val c = cents.getArray(i)
      var s = 0.0; var j = 0
      while (j < x.length) { s += x(j) * c.getDouble(j); j += 1 }
      ds(i) = s
      i += 1
    }
    // java.lang.Double.compare gives a TOTAL order (NaN greatest, like
    // Spark's sort_array desc), so a NaN/Inf embedding can't make the
    // comparator inconsistent (scala.sortWith throws on those)
    val order = Array.tabulate(n)(identity).sortWith { (a, b) =>
      val c = java.lang.Double.compare(ds(b), ds(a))
      c < 0 || (c == 0 && a < b)
    }
    val k = math.min(nProbe, n)
    new GenericArrayData(Array.tabulate[Any](k) { r =>
      new GenericInternalRow(Array[Any](ids.getInt(order(r)), ds(order(r))))
    })
  }

  /** ADC lookup table lut[m][j] = ⟨v[m·sd .. m·sd+sd), cb[m][j]⟩. */
  def pqLut(v: ArrayData, cb: ArrayData): ArrayData = {
    val x = v.toDoubleArray()
    val nSub = cb.numElements()
    new GenericArrayData(Array.tabulate[Any](nSub) { m =>
      val cells = cb.getArray(m)
      val kSub = cells.numElements()
      val sd = cells.getArray(0).numElements()
      val row = new Array[Double](kSub)
      var j = 0
      while (j < kSub) {
        val c = cells.getArray(j)
        var s = 0.0; var i = 0
        while (i < sd) { s += x(m * sd + i) * c.getDouble(i); i += 1 }
        row(j) = s
        j += 1
      }
      UnsafeArrayData.fromPrimitiveArray(row)
    })
  }

  /** Dense matrix·vector: out[r] = ⟨rows[r], v⟩ (ascending dots — the
    * OPQ rotation; replaces a d-component array() of d-literal dotp
    * expressions, d² literals in one Project). */
  def matVec(v: ArrayData, rows: ArrayData): ArrayData = {
    val x = v.toDoubleArray()
    val n = rows.numElements()
    val out = new Array[Double](n)
    var r = 0
    while (r < n) {
      val c = rows.getArray(r)
      var s = 0.0; var j = 0
      while (j < x.length) { s += x(j) * c.getDouble(j); j += 1 }
      out(r) = s
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** [[matVec]] for float vectors (widen-per-element, like dotpF). */
  def matVecF(v: ArrayData, rows: ArrayData): ArrayData = {
    val x = v.toFloatArray()
    val n = rows.numElements()
    val out = new Array[Double](n)
    var r = 0
    while (r < n) {
      val c = rows.getArray(r)
      var s = 0.0; var j = 0
      while (j < x.length) { s += x(j).toDouble * c.getDouble(j); j += 1 }
      out(r) = s
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** PQ codes: per subspace the argmin_j of the fp6-quantized
    * ‖c‖² − 2⟨x, c⟩ (ties -> smallest cell — pqCellOf's struct-min
    * rule; ‖c‖² summed ascending like the driver's map(x*x).sum). */
  def pqAssign(v: ArrayData, cb: ArrayData): ArrayData =
    pqAssignImpl(v.toDoubleArray(), cb)

  def pqAssignF(v: ArrayData, cb: ArrayData): ArrayData = {
    val f = v.toFloatArray()
    val x = new Array[Double](f.length)
    var i = 0
    while (i < f.length) { x(i) = f(i).toDouble; i += 1 }
    pqAssignImpl(x, cb)
  }

  private def pqAssignImpl(x: Array[Double], cb: ArrayData): ArrayData = {
    val nSub = cb.numElements()
    require(nSub >= 1 && x.length == nSub * cb.getArray(0).getArray(0).numElements(),
      s"pqAssign: vector length ${x.length} does not match codebook " +
        s"($nSub subspaces x ${cb.getArray(0).getArray(0).numElements()} dims)")
    val codes = new Array[Int](nSub)
    var m = 0
    while (m < nSub) {
      val cells = cb.getArray(m)
      val kSub = cells.numElements()
      val sd = cells.getArray(0).numElements()
      var bestJ = 0; var bestD = Long.MaxValue
      var j = 0
      while (j < kSub) {
        val c = cells.getArray(j)
        var cn = 0.0; var dp = 0.0; var i = 0
        while (i < sd) {
          val cv = c.getDouble(i)
          cn += cv * cv
          dp += x(m * sd + i) * cv
          i += 1
        }
        val dL = math.floor((cn - 2.0 * dp) * 1e6 + 0.5).toLong
        if (dL < bestD) { bestD = dL; bestJ = j }
        j += 1
      }
      codes(m) = bestJ
      m += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** Cosine similarity in one pass (dot and both norms together). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val x = a.toDoubleArray(); val y = b.toDoubleArray()
    require(x.length == y.length,
      s"cosine: length mismatch ${x.length} vs ${y.length}")
    var d = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < x.length) {
      d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i)
      i += 1
    }
    d / (math.sqrt(nx) * math.sqrt(ny))
  }

  // Float-native variants: embeddings stay array<float> end-to-end (no
  // per-row cast column, no materialization barrier, half the scan
  // bytes at corpus scale); each element widens to double inside the
  // loop — bit-identical to casting the array first.

  /** dot(float corpus vector, double query/hyperplane vector). */
  def dotpF(a: ArrayData, b: ArrayData): Double = {
    val x = a.toFloatArray(); val y = b.toDoubleArray()
    require(x.length == y.length,
      s"dotpF: length mismatch ${x.length} vs ${y.length}")
    var s = 0.0
    var i = 0
    while (i < x.length) { s += x(i).toDouble * y(i); i += 1 }
    s
  }

  /** cosine(float corpus vector, double query vector). */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val x = a.toFloatArray(); val y = b.toDoubleArray()
    require(x.length == y.length,
      s"cosineF: length mismatch ${x.length} vs ${y.length}")
    var d = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < x.length) {
      val xi = x(i).toDouble
      d += xi * y(i); nx += xi * xi; ny += y(i) * y(i)
      i += 1
    }
    d / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** cosine(float, float) for corpus-internal pair scoring. */
  def cosineFF(a: ArrayData, b: ArrayData): Double = {
    val x = a.toFloatArray(); val y = b.toFloatArray()
    require(x.length == y.length,
      s"cosineFF: length mismatch ${x.length} vs ${y.length}")
    var d = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < x.length) {
      val xi = x(i).toDouble; val yi = y(i).toDouble
      d += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    d / (math.sqrt(nx) * math.sqrt(ny))
  }

  // ---- multimodal kernels (SURVEY.md §2.2 op 29) --------------------
  // Image decode/resize/demux are REAL (JDK ImageIO + a spec-direct
  // BMP writer, see graft.dsp.Image); PCM16 audio decode is real; the
  // byte histogram is a generic binary-column featurizer (format
  // agnostic, e.g. for magic-byte/entropy-style triage).

  /** Generic binary feature: histogram of high nibbles (16 bins). */
  def byteHistogramRaw(bin: Array[Byte]): Array[Long] = {
    val h = new Array[Long](16)
    var i = 0
    while (i < bin.length) { h(((bin(i) & 0xff) >>> 4)) += 1; i += 1 }
    h
  }

  def byteHistogram(bin: Array[Byte]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(byteHistogramRaw(bin))

  /** PCM16-LE audio frame features: true two's-complement decode
    * ((b1<<8 | b0).toShort), minus a caller-supplied DC offset
    * (`center`, a standard pre-processing step; pass 0 for none),
    * then per complete `frameLen`-sample frame emit (frame, energy =
    * Σ s², zcr = count of strict sign flips between adjacent in-frame
    * samples). Unlike the image kernels this decode is REAL (PCM
    * needs no codec library); energy is integral so the oracle
    * compares exactly, no fixed-point. Note full-scale negatives
    * decode correctly (0x8000 → -32768); unipolar payloads (e.g.
    * ASCII test bytes, always positive) need center > 0 for the ZCR
    * to measure anything.
    */
  def pcmFrames(bin: Array[Byte], frameLen: Int, center: Int): ArrayData = {
    val nSamples = bin.length / 2
    val nFrames = if (frameLen > 0) nSamples / frameLen else 0
    val out = new Array[Any](nFrames)
    var f = 0
    while (f < nFrames) {
      var energy = 0L
      var zcr = 0
      var prev = 0L
      var j = 0
      while (j < frameLen) {
        val i = f * frameLen + j
        val s = (((bin(2 * i + 1) & 0xff) << 8) | (bin(2 * i) & 0xff))
          .toShort.toLong - center
        energy += s * s
        if (j > 0 && prev * s < 0) zcr += 1
        prev = s
        j += 1
      }
      out(f) = new GenericInternalRow(Array[Any](f, energy, zcr))
      f += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-frame MFCC over PCM16-LE bytes (graft.dsp.Mel): decode +
    * center like [[pcmFrames]], then per complete frame Hamming →
    * rfft power → mel filterbank → log(E+1) → ortho DCT-II, first
    * `nCoef` coefficients. Window/filterbank/DCT weights are
    * deterministic functions of (frameLen, nMels, sampleRate) that
    * the SQL oracle embeds as identical literals. Weight tables are
    * cached per parameter tuple (they are per-PARTITION hot-path
    * otherwise: a few thousand cos/pow evals per row).
    */
  private val mfccCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long),
      (Array[Double], Array[Array[Double]])]()

  def mfccFrames(bin: Array[Byte], frameLen: Int, center: Int,
                 nMels: Int, nCoef: Int, sampleRate: Double): ArrayData = {
    val (win, fb) = mfccCache.computeIfAbsent(
      (frameLen, nMels, java.lang.Double.doubleToLongBits(sampleRate)),
      _ => (graft.dsp.Mel.hamming(frameLen),
        graft.dsp.Mel.filterbank(frameLen, nMels, sampleRate)))
    val nSamples = bin.length / 2
    val nFrames = if (frameLen > 0) nSamples / frameLen else 0
    val res = new Array[Any](nFrames)
    val s = new Array[Double](frameLen)
    var f = 0
    while (f < nFrames) {
      var j = 0
      while (j < frameLen) {
        val i = f * frameLen + j
        s(j) = (((bin(2 * i + 1) & 0xff) << 8) | (bin(2 * i) & 0xff))
          .toShort.toDouble - center
        j += 1
      }
      val coefs = graft.dsp.Mel.mfccFrame(s, win, fb, nCoef)
      res(f) = new GenericInternalRow(Array[Any](f, out(coefs)))
      f += 1
    }
    new GenericArrayData(res)
  }

  /** Deterministic synthetic image source (pixel formula → real BMP
    * bytes): the oracle-replayable stand-in for an image table this
    * sandbox doesn't ship. See [[graft.dsp.Image.synthGray]].
    */
  def synthBmp(text: UTF8String, w: Int, h: Int, off: Int): Array[Byte] =
    graft.dsp.Image.encodeBmp24(graft.dsp.Image.synthGray(text.toString, w, h, off))

  /** Same pixels through the JDK's PNG ENCODER — the decode side then
    * exercises a real compressed-format round trip (zlib inflate).
    */
  def synthPng(text: UTF8String, w: Int, h: Int, off: Int): Array[Byte] =
    graft.dsp.Image.encodePng(graft.dsp.Image.synthGray(text.toString, w, h, off))

  /** Same pixels through the JDK's JPEG encoder at an explicit quality
    * — the LOSSY re-encode fixture mm_jpeg_pairs measures dHash
    * robustness against (web corpora are overwhelmingly JPEG).
    */
  def synthJpeg(text: UTF8String, w: Int, h: Int, off: Int, q: Int): Array[Byte] =
    graft.dsp.Image.encodeJpeg(graft.dsp.Image.synthGray(text.toString, w, h, off), q)

  /** REAL image feature extraction: ImageIO decode + per-block gray
    * sums over a gw×gh grid. Returns (w, h, sums) so callers also see
    * the decoded geometry.
    */
  def imageBlockSums(bin: Array[Byte], gw: Int, gh: Int): InternalRow = {
    val (w, h, sums) = graft.dsp.Image.blockSums(bin, gw, gh)
    new GenericInternalRow(Array[Any](w, h, UnsafeArrayData.fromPrimitiveArray(sums)))
  }

  /** REAL resize: ImageIO decode + nearest-neighbor resample (explicit
    * floor index mapping — oracle-replayable). Row-major gray values.
    */
  def imageResizeNN(bin: Array[Byte], ow: Int, oh: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(graft.dsp.Image.resizeNN(bin, ow, oh))

  /** Perceptual difference hash over the NN-resized gray grid —
    * (hi, lo) 32-bit halves, the simhash layout. */
  def imageDHash(bin: Array[Byte], dw: Int, dh: Int): InternalRow = {
    val (hi, lo) = graft.dsp.Image.dHash(bin, dw, dh)
    new GenericInternalRow(Array[Any](hi, lo))
  }

  /** REAL smooth resize: ImageIO decode + Graphics2D bilinear,
    * re-encoded as PNG (production path; invariant-tested, not
    * oracle-replayed — Java2D sub-pixel phase is implementation-defined).
    */
  def imageResizeBilinear(bin: Array[Byte], ow: Int, oh: Int): Array[Byte] =
    graft.dsp.Image.encodePng(graft.dsp.Image.resizeBilinear(bin, ow, oh))

  /** REAL frame extraction: demux a concatenated-BMP stream by its
    * file-size fields, ImageIO-decode each frame, reduce to
    * (w, h, gray pixel sum). Returns array<struct<w,h,psum>>.
    */
  def imageFrames(bin: Array[Byte]): ArrayData = {
    val fs = graft.dsp.Image.frames(bin)
    val out = new Array[Any](fs.length)
    var i = 0
    while (i < fs.length) {
      out(i) = new GenericInternalRow(Array[Any](fs(i)._1, fs(i)._2, fs(i)._3))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  // ---- BPE tokenization --------------------------------------------

  @inline private def strArr(a: ArrayData): Array[String] = {
    val n = a.numElements()
    val out = new Array[String](n)
    var i = 0
    while (i < n) { out(i) = a.getUTF8String(i).toString; i += 1 }
    out
  }

  @inline private def outS(a: Array[String]): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      a.map(UTF8String.fromString))

  /** Tokenize one word under an ordered merge table (parallel l/r
    * arrays, rank order).
    */
  def bpeEncode(word: UTF8String, mergesL: ArrayData, mergesR: ArrayData): ArrayData =
    outS(graft.dsp.Bpe.encode(word.toString, strArr(mergesL), strArr(mergesR)))

  @inline private def binArr(a: ArrayData): Array[Array[Byte]] = {
    val n = a.numElements()
    val out = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { out(i) = a.getBinary(i); i += 1 }
    out
  }

  @inline private def outB(a: Array[Array[Byte]]): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      a.asInstanceOf[Array[Any]])

  /** A binary's single-byte symbol array — byte-level BPE's initial
    * state.
    */
  def byteSyms(bin: Array[Byte]): ArrayData =
    outB(bin.map(b => Array(b)))

  /** One greedy pass of merge (l, r) over a BYTE-symbol array. */
  def bpeMergeB(syms: ArrayData, l: Array[Byte], r: Array[Byte]): ArrayData =
    outB(graft.dsp.Bpe.applyMergeB(binArr(syms), l, r))

  /** Tokenize one word's UTF-8 bytes under an ordered byte merge
    * table.
    */
  def bpeEncodeB(word: Array[Byte], mergesL: ArrayData, mergesR: ArrayData): ArrayData =
    outB(graft.dsp.Bpe.encodeB(word, binArr(mergesL), binArr(mergesR)))

  /** Viterbi-segment one word under a unigram-LM vocab (parallel
    * piece/micro-nat-score arrays). The vocab rides as two LITERAL
    * arrays, so the same ArrayData object arrives for every row of a
    * task — a per-thread identity-keyed cache rebuilds the lookup map
    * once per task, not once per row.
    */
  /** Diagnostic: number of UniModel (trie) builds — a healthy run
    * builds once per (task thread, vocab literal); once per ROW means
    * the identity-keyed cache is missing (the r20 Next-#7 question).
    */
  val uniModelBuilds = new java.util.concurrent.atomic.AtomicLong(0L)
  private val unigramCache =
    new ThreadLocal[(AnyRef, graft.dsp.Unigram.UniModel)]()
  /** Build (or fetch the per-thread cached) compiled trie model for a
    * literal vocab — the identity-keyed cache means the model (tries +
    * sorted pieces) is built once per task, not once per row.
    */
  @inline private def uniModelFor(
      cache: ThreadLocal[(AnyRef, graft.dsp.Unigram.UniModel)],
      fn: String, pieces: ArrayData, lpqs: ArrayData): graft.dsp.Unigram.UniModel = {
    val cached = cache.get()
    if (cached != null && (cached._1 eq pieces)) cached._2
    else {
      val ps = strArr(pieces)
      require(ps.length == lpqs.numElements(),
        s"$fn: ${ps.length} pieces but ${lpqs.numElements()} scores")
      val lq = new Array[Long](ps.length)
      var i = 0
      while (i < ps.length) { lq(i) = lpqs.getLong(i); i += 1 }
      val ml = if (ps.isEmpty) 1 else ps.map(_.length).max
      val mm = graft.dsp.Unigram.UniModel.build(ps, lq, ml)
      uniModelBuilds.incrementAndGet()
      cache.set((pieces, mm))
      mm
    }
  }
  def unigramEnc(word: UTF8String, pieces: ArrayData, lpqs: ArrayData): ArrayData =
    outS(graft.dsp.Unigram.viterbi(word.toString,
      uniModelFor(unigramCache, "unigramEnc", pieces, lpqs))._1.toArray)

  /** Soft-EM lattice E-step for one word (see
    * [[graft.dsp.Unigram.lattice]]): rows of (piece, micro-expected
    * count), PLUS one sentinel row ("", Z) carrying the word's
    * marginal log-likelihood in micro-nats — so one explode+aggregate
    * pass collects both the expected-count histogram (group by piece)
    * and the corpus marginal loglik (the "" group). The empty piece
    * can never collide: vocab pieces are non-empty by construction.
    */
  private val unigramSoftCache =
    new ThreadLocal[(AnyRef, graft.dsp.Unigram.UniModel)]()
  def unigramExp(word: UTF8String, pieces: ArrayData, lpqs: ArrayData): ArrayData = {
    val (pairs, z) = graft.dsp.Unigram.lattice(word.toString,
      uniModelFor(unigramSoftCache, "unigramExp", pieces, lpqs))
    val rows = new Array[Any](pairs.length + 1)
    var i = 0
    while (i < pairs.length) {
      rows(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(pairs(i)._1), pairs(i)._2))
      i += 1
    }
    rows(pairs.length) = new GenericInternalRow(Array[Any](
      UTF8String.fromString(""), z))
    new GenericArrayData(rows)
  }

  // ---- signatures for DspExpr --------------------------------------

  /** Catalyst argument/return types per bridge function; the generic
    * [[DspExpr]] uses this to type-check and to resolve the static
    * method both of its evaluation paths call.
    */
  val signatures: Map[String, (Seq[DataType], DataType)] = Map(
    "fft" -> (Seq(arrD, arrD, IntegerType, StringType) -> complexT),
    "ifft" -> (Seq(arrD, arrD, IntegerType, StringType) -> complexT),
    "rfft" -> (Seq(arrD, IntegerType, StringType) -> complexT),
    "irfft" -> (Seq(arrD, arrD, IntegerType, StringType) -> arrD),
    "hfft" -> (Seq(arrD, arrD, IntegerType, StringType) -> arrD),
    "ihfft" -> (Seq(arrD, IntegerType, StringType) -> complexT),
    "fftNd" -> (Seq(arrD, arrD, arrI, BooleanType, StringType) -> complexT),
    "dct2" -> (Seq(arrD, StringType) -> arrD),
    "idct2" -> (Seq(arrD, StringType) -> arrD),
    "dst2" -> (Seq(arrD, StringType) -> arrD),
    "idst2" -> (Seq(arrD, StringType) -> arrD),
    "fftfreq" -> (Seq(IntegerType, DoubleType) -> arrD),
    "rfftfreq" -> (Seq(IntegerType, DoubleType) -> arrD),
    "fftshift" -> (Seq(arrD) -> arrD),
    "ifftshift" -> (Seq(arrD) -> arrD),
    "fftshiftNd" -> (Seq(arrD, arrI, BooleanType) -> arrD),
    "convolve" -> (Seq(arrD, arrD, StringType, StringType) -> arrD),
    "correlate" -> (Seq(arrD, arrD, StringType, StringType) -> arrD),
    "convolveCx" -> (Seq(arrD, arrD, arrD, arrD, StringType, StringType) -> complexT),
    "correlateCx" -> (Seq(arrD, arrD, arrD, arrD, StringType, StringType) -> complexT),
    "fftconvolve2d" -> (Seq(arrD, IntegerType, arrD, IntegerType, StringType)
      -> StructType(Seq(
        StructField("vals", arrD, nullable = false),
        StructField("rows", IntegerType, nullable = false),
        StructField("cols", IntegerType, nullable = false)))),
    "fftconvolveNd" -> (Seq(arrD, arrI, arrD, arrI, StringType)
      -> StructType(Seq(
        StructField("vals", arrD, nullable = false),
        StructField("shape", arrI, nullable = false)))),
    "sosfilt" -> (Seq(arrD, arrD) -> arrD),
    "sosfiltz" -> (Seq(arrD, arrD, arrD) -> arrD),
    "sosfiltfilt" -> (Seq(arrD, arrD, StringType, IntegerType) -> arrD),
    "lfilter" -> (Seq(arrD, arrD, arrD) -> arrD),
    "filtfilt" -> (Seq(arrD, arrD, arrD) -> arrD),
    "hilbert" -> (Seq(arrD, IntegerType) -> complexT),
    "detrend" -> (Seq(arrD, StringType) -> arrD),
    "medfilt" -> (Seq(arrD, IntegerType) -> arrD),
    "medfilt2d" -> (Seq(arrD, IntegerType, IntegerType, IntegerType, IntegerType) -> arrD),
    "deconvolve" -> (Seq(arrD, arrD) -> StructType(Seq(
      StructField("quot", arrD, nullable = false),
      StructField("rem", arrD, nullable = false)))),
    "findPeaksF" -> (Seq(arrD, DoubleType, IntegerType, DoubleType, IntegerType,
      DoubleType, DoubleType, DoubleType, DoubleType, DoubleType,
      IntegerType, IntegerType) -> arrI),
    "savgol" -> (Seq(arrD, IntegerType, IntegerType, StringType,
      IntegerType, DoubleType) -> arrD),
    "orderFilter" -> (Seq(arrD, IntegerType, IntegerType) -> arrD),
    "wiener" -> (Seq(arrD, IntegerType, DoubleType) -> arrD),
    "welch" -> (Seq(arrD, IntegerType, IntegerType, arrD, DoubleType, BooleanType, StringType) -> arrD),
    "csd" -> (Seq(arrD, arrD, IntegerType, IntegerType, arrD, DoubleType, BooleanType) -> complexT),
    "welchPartial" -> (Seq(arrD, LongType, IntegerType, IntegerType, IntegerType, arrD, BooleanType) -> arrD),
    "zoomDft" -> (Seq(arrD, DoubleType, DoubleType, IntegerType, DoubleType, BooleanType) -> complexT),
    "czt" -> (Seq(arrD, IntegerType, DoubleType, DoubleType, DoubleType, DoubleType) -> complexT),
    "coherence" -> (Seq(arrD, arrD, IntegerType, IntegerType, arrD, DoubleType, BooleanType) -> arrD),
    "istft" -> (Seq(arrD, arrD, IntegerType, IntegerType, IntegerType, arrD) -> arrD),
    "cwtFlat" -> (Seq(arrD, arrD, arrI) -> arrD),
    "lombscargle" -> (Seq(arrD, arrD, arrD, BooleanType, BooleanType) -> arrD),
    "periodogram" -> (Seq(arrD, StringType, DoubleType, BooleanType) -> arrD),
    "envelope" -> (Seq(arrD, IntegerType) -> arrD),
    "resample" -> (Seq(arrD, IntegerType, StringType, StringType) -> arrD),
    "upfirdn" -> (Seq(arrD, arrD, IntegerType, IntegerType) -> arrD),
    "interpGrid" -> (Seq(arrD, arrD, DoubleType, DoubleType, IntegerType) -> arrD),
    "resamplePoly" -> (Seq(arrD, IntegerType, IntegerType, DoubleType) -> arrD),
    "resampleW" -> (Seq(arrD, IntegerType, arrD, StringType) -> arrD),
    "decimate" -> (Seq(arrD, IntegerType, IntegerType, StringType, BooleanType) -> arrD),
    "peakWidths" -> (Seq(arrD, arrI, DoubleType, IntegerType) -> peakWidthsT),
    "peakWidthsP" -> (Seq(arrD, arrI, DoubleType, arrD, arrI, arrI) -> peakWidthsT),
    "localMaxima" -> (Seq(arrD) -> arrI),
    "nfc" -> (Seq(StringType) -> StringType),
    "uniTokens" -> (Seq(StringType) -> ArrayType(StringType, containsNull = false)),
    "winnow" -> (Seq(StringType, IntegerType, IntegerType, LongType, LongType)
      -> ArrayType(LongType, containsNull = false)),
    "simhash" -> (Seq(ArrayType(StringType)) -> StructType(Seq(
      StructField("hi", LongType, nullable = false),
      StructField("lo", LongType, nullable = false)))),
    "dotp" -> (Seq(arrD, arrD) -> DoubleType),
    "adc" -> (Seq(ArrayType(arrD, containsNull = false), arrI) -> DoubleType),
    "ivfCell" -> (Seq(arrD, ArrayType(arrD, containsNull = false), arrI) -> IntegerType),
    "ivfCellF" -> (Seq(arrF, ArrayType(arrD, containsNull = false), arrI) -> IntegerType),
    "ivfProbes" -> (Seq(arrD, ArrayType(arrD, containsNull = false), arrI,
      IntegerType) -> ArrayType(StructType(Seq(
        StructField("cell", IntegerType, nullable = false),
        StructField("d", DoubleType, nullable = false))), containsNull = false)),
    "pqLut" -> (Seq(arrD, ArrayType(ArrayType(arrD, containsNull = false),
      containsNull = false)) -> ArrayType(arrD, containsNull = false)),
    "matVec" -> (Seq(arrD, ArrayType(arrD, containsNull = false)) -> arrD),
    "matVecF" -> (Seq(arrF, ArrayType(arrD, containsNull = false)) -> arrD),
    "pqAssign" -> (Seq(arrD, ArrayType(ArrayType(arrD, containsNull = false),
      containsNull = false)) -> arrI),
    "pqAssignF" -> (Seq(arrF, ArrayType(ArrayType(arrD, containsNull = false),
      containsNull = false)) -> arrI),
    "cosine" -> (Seq(arrD, arrD) -> DoubleType),
    "pairs" -> (Seq(ArrayType(LongType, containsNull = false)) ->
      ArrayType(StructType(Seq(
        StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false))), containsNull = false)),
    "dotpF" -> (Seq(arrF, arrD) -> DoubleType),
    "cosineF" -> (Seq(arrF, arrD) -> DoubleType),
    "cosineFF" -> (Seq(arrF, arrF) -> DoubleType),
    "byteHistogram" -> (Seq(BinaryType) -> ArrayType(LongType, containsNull = false)),
    "pcmFrames" -> (Seq(BinaryType, IntegerType, IntegerType) -> ArrayType(StructType(Seq(
      StructField("frame", IntegerType, nullable = false),
      StructField("energy", LongType, nullable = false),
      StructField("zcr", IntegerType, nullable = false))), containsNull = false)),
    "mfccFrames" -> (Seq(BinaryType, IntegerType, IntegerType, IntegerType,
      IntegerType, DoubleType) -> ArrayType(StructType(Seq(
      StructField("frame", IntegerType, nullable = false),
      StructField("coefs", arrD, nullable = false))), containsNull = false)),
    "synthBmp" -> (Seq(StringType, IntegerType, IntegerType, IntegerType) -> BinaryType),
    "synthPng" -> (Seq(StringType, IntegerType, IntegerType, IntegerType) -> BinaryType),
    "synthJpeg" -> (Seq(StringType, IntegerType, IntegerType, IntegerType,
      IntegerType) -> BinaryType),
    "imageBlockSums" -> (Seq(BinaryType, IntegerType, IntegerType) -> StructType(Seq(
      StructField("w", IntegerType, nullable = false),
      StructField("h", IntegerType, nullable = false),
      StructField("sums", ArrayType(LongType, containsNull = false), nullable = false)))),
    "imageResizeNN" -> (Seq(BinaryType, IntegerType, IntegerType) -> arrI),
    "imageDHash" -> (Seq(BinaryType, IntegerType, IntegerType) -> StructType(Seq(
      StructField("hi", LongType, nullable = false),
      StructField("lo", LongType, nullable = false)))),
    "imageResizeBilinear" -> (Seq(BinaryType, IntegerType, IntegerType) -> BinaryType),
    "imageFrames" -> (Seq(BinaryType) -> ArrayType(StructType(Seq(
      StructField("w", IntegerType, nullable = false),
      StructField("h", IntegerType, nullable = false),
      StructField("psum", LongType, nullable = false))), containsNull = false)),
    "bpeEncode" -> (Seq(StringType, ArrayType(StringType), ArrayType(StringType))
      -> ArrayType(StringType, containsNull = false)),
    "byteSyms" -> (Seq(BinaryType)
      -> ArrayType(BinaryType, containsNull = false)),
    "bpeMergeB" -> (Seq(ArrayType(BinaryType), BinaryType, BinaryType)
      -> ArrayType(BinaryType, containsNull = false)),
    "bpeEncodeB" -> (Seq(BinaryType, ArrayType(BinaryType), ArrayType(BinaryType))
      -> ArrayType(BinaryType, containsNull = false)),
    "unigramEnc" -> (Seq(StringType, ArrayType(StringType), ArrayType(LongType))
      -> ArrayType(StringType, containsNull = false)),
    "unigramExp" -> (Seq(StringType, ArrayType(StringType), ArrayType(LongType))
      -> ArrayType(StructType(Seq(
        StructField("p", StringType, nullable = false),
        StructField("e", LongType, nullable = false))), containsNull = false)))
}
