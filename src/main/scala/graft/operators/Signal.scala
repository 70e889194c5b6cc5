package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Functions.dsl._

/** The user-facing xarray_scipy-equivalent API (reference surface:
  * xarray_scipy/signal.py) on long-format DataFrames.
  *
  * Data model (SURVEY.md §1): a labelled array is a long DataFrame
  * with key columns (batch dims), one coordinate column (the core
  * dim, equispaced), and value column(s). Complex series are (re, im)
  * column pairs.
  *
  * Execution shape (SURVEY.md §4): ONE hash shuffle (groupBy keys)
  * per operator; the kernel runs map-side per group over
  * array<double> (UnsafeArrayData, no boxing); `posexplode` restores
  * long format. Batch dims scale out embarrassingly — at 100 TB the
  * parallelism axis is the number of series, exactly like the
  * reference's dask chunks over batch dims. Like the reference
  * (test_fft__dask_raises_main_axis), a single series must fit in one
  * task; chunk-longer-than-memory signals go through convolveLong.
  */
object Signal {

  /** Columns that mark a frame as already seriesified. */
  private val seriesCols = Seq("n", "delta", "cmin", "cmax", "coords")

  /** Explicit already-seriesified marker carried as column metadata on
    * `n` — a coincidental column-name collision on a long-format frame
    * can no longer silently skip grouping.
    */
  private val seriesMeta = new org.apache.spark.sql.types.MetadataBuilder()
    .putBoolean("graft.series", true).build()

  /** Session-conf key for the opt-in strict equispacing check
    * (VERDICT r10 #4). The reference CONTRACT demands equispaced
    * coordinates (README; signal.py:16-17 computes delta as
    * mean-of-diffs) but violations are otherwise silent — graft's
    * (max−min)/(n−1) delta would quietly produce wrong spectra on
    * irregular series (only lombscargle/vectorstrength are honest
    * about irregularity). With this conf set to an absolute tolerance
    * (e.g. "1e-9"), [[seriesify]] weaves an assert_true over
    * max|diff − delta| into every value column, so irregular input
    * fails LOUDLY at execution time; when unset the plan is untouched.
    */
  val EquispacedTolKey = "graft.signal.equispacedTol"

  /** Turn the strict equispacing contract check on for the session. */
  def assertEquispaced(s: org.apache.spark.sql.SparkSession, tol: Double = 1e-9): Unit =
    s.conf.set(EquispacedTolKey, tol.toString)

  /** Turn the strict equispacing contract check back off. */
  def clearEquispaced(s: org.apache.spark.sql.SparkSession): Unit =
    s.conf.unset(EquispacedTolKey)

  private def isSeriesified(df: DataFrame): Boolean =
    df.columns.contains("n") &&
      df.schema("n").metadata.contains("graft.series") &&
      seriesCols.forall(df.columns.contains)

  /** Pre-grouped entry (SURVEY.md §4): input already holds one row per
    * series with a sorted coordinate array and parallel value arrays —
    * the natural layout for telemetry bucketed/stored by series key.
    * Derives the series metadata map-side; every Signal op then skips
    * its groupBy exchange entirely ([[seriesify]] passes such frames
    * through untouched). Empty coordinate arrays yield n=0 with
    * cmin/cmax 0 (instead of a null element_at crash).
    */
  def fromGrouped(df: DataFrame, coordsCol: String): DataFrame =
    df.withColumn("n", size(col(coordsCol)).cast("int"))
      .withColumn("cmin",
        when(col("n") > 0, element_at(col(coordsCol), 1).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("cmax",
        when(col("n") > 0, element_at(col(coordsCol), col("n")).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("delta",
        when(col("n") > 1, (col("cmax") - col("cmin")) / (col("n") - 1))
          .otherwise(lit(1.0)))
      .withColumn("coords", expr(s"transform($coordsCol, c -> CAST(c AS DOUBLE))"))
      .withMetadata("n", seriesMeta)

  /** keys+coord+values long frame → one row per series:
    * keys..., n (int), delta (double), cmin, cmax, coords
    * (array<double>), <value> (array<double>) per value column —
    * deterministically ordered by coordinate regardless of shuffle
    * nondeterminism (array_sort on struct(coord, ...)).
    */
  def seriesify(df: DataFrame, keys: Seq[String], dim: String,
                values: Seq[String]): DataFrame = {
    if (isSeriesified(df) && values.forall(df.columns.contains))
      return df // already seriesified (fromGrouped) — no shuffle
    // Null handling mirrors numpy/scipy: a null sample becomes NaN and
    // propagates through the kernel; a row with no coordinate cannot be
    // placed on the (equispaced) axis and is dropped.
    val packed = struct(
      (col(dim).cast("double").as("c") +:
        values.zipWithIndex.map { case (v, i) =>
          coalesce(col(v).cast("double"), lit(Double.NaN)).as(s"v$i")
        }): _*)
    val clean = df.filter(col(dim).isNotNull)
    // The groupBy's own ENSURE_REQUIREMENTS exchange is the plan's one
    // hash shuffle (PlanShapeSpec's pin); AQE coalesces it by bytes, so
    // small packed series can land on 1–3 tasks. An explicit-count
    // keyed repartition ahead of the groupBy was measured as a net
    // LOSS (optimization round 22, in-JVM A/B alternating per rep,
    // tools/SigSpreadProbe — recover it from commit e9cc669): it
    // forfeits the map-side partial collect_list, adds a plan-forcing
    // `.rdd` width probe and shuffles raw rows. Min s off/on, sf0.1:
    // sosfilt 1.05/1.32, stft 0.84/0.99, correlate2d 1.50/1.66,
    // welch_long 1.29/1.45, fftconvolve3d 1.14/1.29; only the
    // multi-kernel unions won (complex_modes 1.60/1.33, dct_roundtrip
    // 1.18/1.05). At scale the agg's shuffle is byte-heavy and AQE
    // sizes it correctly either way. [[gridify]] follows the same rule.
    val grouped =
      if (keys.isEmpty) clean.groupBy()
      else clean.groupBy(keys.map(col): _*)
    var out = grouped
      .agg(
        array_sort(collect_list(packed)).as("_arr"),
        count(lit(1)).cast("int").as("n"),
        min(col(dim).cast("double")).as("cmin"),
        max(col(dim).cast("double")).as("cmax"))
      .withColumn("delta",
        when(col("n") > 1, (col("cmax") - col("cmin")) / (col("n") - 1))
          .otherwise(lit(1.0)))
      .withColumn("coords", expr("transform(_arr, s -> s.c)"))
    values.zipWithIndex.foreach { case (v, i) =>
      out = out.withColumn(v, expr(s"transform(_arr, s -> s.v$i)"))
    }
    // Opt-in strict equispacing check (see [[EquispacedTolKey]]): the
    // assertion is woven into each VALUE column (kernels always consume
    // one) rather than emitted as its own column, which Catalyst would
    // prune away unread. assert_true returns null on success, so the
    // when() passes the value array through unchanged; on violation
    // the task fails with the offending deviation in the message.
    df.sparkSession.conf.getOption(EquispacedTolKey).foreach { tolS =>
      val tol = tolS.toDouble
      val dev = expr(
        """CASE WHEN n > 1 THEN aggregate(
          |  transform(sequence(0, n - 2),
          |    i -> abs((coords[i + 1] - coords[i]) - delta)),
          |  CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, x))
          |ELSE CAST(0.0 AS DOUBLE) END""".stripMargin)
      val msg = concat(
        lit(s"seriesify: non-equispaced coordinates in '$dim' (max |diff - delta| = "),
        dev.cast("string"), lit(s", tol $tol, delta = "),
        col("delta").cast("string"),
        lit("); the reference contract requires an equispaced axis - " +
          "resample/interpolate first, or use lombscargle for irregular series"))
      values.foreach { v =>
        out = out.withColumn(v,
          when(assert_true(dev <= lit(tol), msg).isNull, col(v)))
      }
    }
    out.drop("_arr").withMetadata("n", seriesMeta)
  }

  /** Inverse of [[seriesify]]: explode parallel array columns back to
    * long format with a position column. `arrays` maps output column
    * name -> array column (all the same length).
    */
  def explodeSeries(sdf: DataFrame, keys: Seq[String],
                    arrays: Seq[(String, Column)],
                    posName: String = "pos"): DataFrame = {
    var tmp = sdf
    val tmpNames = arrays.zipWithIndex.map { case ((_, c), i) =>
      val tn = s"_x$i"
      tmp = tmp.withColumn(tn, c)
      tn
    }
    val zipped = arrays_zip(tmpNames.map(col): _*)
    val exploded = tmp.select(
      (keys.map(col) :+ posexplode(zipped).as(Seq(posName, "_z"))): _*)
    val outCols = keys.map(col) ++ Seq(col(posName)) ++
      arrays.zipWithIndex.map { case ((name, _), i) => col(s"_z._x$i").as(name) }
    exploded.select(outCols: _*)
  }

  // ---- FFT family (signal.py:155-241) -------------------------------
  // Coordinate rule mirrors the reference (signal.py:199-227):
  // ndim = n or len (doubled for irfft/hfft with n unset); new coords =
  // fftfreq-or-rfftfreq(ndim, delta/ndim).

  /** fft of a complex long frame (re/im value columns). Output: keys,
    * pos, <newdim>, re, im.
    */
  def fft(df: DataFrame, keys: Seq[String], dim: String,
          re: String = "re", im: String = "im", newdim: String = "frequency",
          n: Int = -1, norm: String = "backward", inverse: Boolean = false): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(re, im))
    val ndim = if (n > 0) lit(n) else col("n")
    val k = if (inverse) ifftC(col(re), col(im), n, norm) else fftC(col(re), col(im), n, norm)
    val withOut = sdf.withColumn("_out", k)
      .withColumn("_ndim", ndim)
      .withColumn("_freq", fftfreqC(col("_ndim"), col("delta") / col("_ndim")))
    explodeSeries(withOut, keys, Seq(
      newdim -> col("_freq"), "re" -> col("_out.re"), "im" -> col("_out.im")))
  }

  def ifft(df: DataFrame, keys: Seq[String], dim: String,
           re: String = "re", im: String = "im", newdim: String = "time",
           n: Int = -1, norm: String = "backward"): DataFrame =
    fft(df, keys, dim, re, im, newdim, n, norm, inverse = true)

  /** rfft of a real long frame. Output: keys, pos, <newdim>, re, im. */
  def rfft(df: DataFrame, keys: Seq[String], dim: String, value: String,
           newdim: String = "frequency", n: Int = -1, norm: String = "backward"): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val ndim = if (n > 0) lit(n) else col("n")
    val withOut = sdf.withColumn("_out", rfftC(col(value), n, norm))
      .withColumn("_ndim", ndim)
      .withColumn("_freq", rfftfreqC(col("_ndim"), col("delta") / col("_ndim")))
    explodeSeries(withOut, keys, Seq(
      newdim -> col("_freq"), "re" -> col("_out.re"), "im" -> col("_out.im")))
  }

  /** irfft of a complex (hermitian half-spectrum) long frame. Output:
    * keys, pos, <newdim>, value. Reference coord rule (signal.py:208-211):
    * real+inverse → fftfreq with ndim=(len-1)*2 when n unset.
    */
  def irfft(df: DataFrame, keys: Seq[String], dim: String,
            re: String = "re", im: String = "im", newdim: String = "time",
            n: Int = -1, norm: String = "backward"): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(re, im))
    val ndim = if (n > 0) lit(n) else (col("n") - 1) * 2
    val withOut = sdf.withColumn("_out", irfftC(col(re), col(im), n, norm))
      .withColumn("_ndim", ndim)
      .withColumn("_freq", fftfreqC(col("_ndim"), col("delta") / col("_ndim")))
    explodeSeries(withOut, keys, Seq(
      newdim -> col("_freq"), "value" -> col("_out")))
  }

  /** hfft: hermitian-symmetric complex input → real spectrum. */
  def hfft(df: DataFrame, keys: Seq[String], dim: String,
           re: String = "re", im: String = "im", newdim: String = "frequency",
           n: Int = -1, norm: String = "backward"): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(re, im))
    val ndim = if (n > 0) lit(n) else (col("n") - 1) * 2
    val withOut = sdf.withColumn("_out", hfftC(col(re), col(im), n, norm))
      .withColumn("_ndim", ndim)
      .withColumn("_freq", fftfreqC(col("_ndim"), col("delta") / col("_ndim")))
    explodeSeries(withOut, keys, Seq(
      newdim -> col("_freq"), "value" -> col("_out")))
  }

  /** ihfft: real input → hermitian half-spectrum. */
  def ihfft(df: DataFrame, keys: Seq[String], dim: String, value: String,
            newdim: String = "frequency", n: Int = -1, norm: String = "backward"): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val ndim = if (n > 0) lit(n) else col("n")
    val withOut = sdf.withColumn("_out", ihfftC(col(value), n, norm))
      .withColumn("_ndim", ndim)
      .withColumn("_freq", rfftfreqC(col("_ndim"), col("delta") / col("_ndim")))
    explodeSeries(withOut, keys, Seq(
      newdim -> col("_freq"), "re" -> col("_out.re"), "im" -> col("_out.im")))
  }

  /** DCT-II / DST-II and their exact inverses (scipy.fft.dct/idct/
    * dst/idst, type 2, norms backward|ortho). The real-even/odd
    * siblings of the fft family the reference stops short of — the
    * next transform an MFCC or compression pipeline reaches for.
    * Output: keys, pos (bin index k), value — same one-shuffle
    * seriesify shape as every other signal op.
    */
  def dct(df: DataFrame, keys: Seq[String], dim: String, value: String,
          norm: String = "backward", inverse: Boolean = false): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val k = if (inverse) idct2C(col(value), norm) else dct2C(col(value), norm)
    explodeSeries(sdf.withColumn("_out", k), keys, Seq("value" -> col("_out")))
  }

  def idct(df: DataFrame, keys: Seq[String], dim: String, value: String,
           norm: String = "backward"): DataFrame =
    dct(df, keys, dim, value, norm, inverse = true)

  def dst(df: DataFrame, keys: Seq[String], dim: String, value: String,
          norm: String = "backward", inverse: Boolean = false): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val k = if (inverse) idst2C(col(value), norm) else dst2C(col(value), norm)
    explodeSeries(sdf.withColumn("_out", k), keys, Seq("value" -> col("_out")))
  }

  def idst(df: DataFrame, keys: Seq[String], dim: String, value: String,
           norm: String = "backward"): DataFrame =
    dst(df, keys, dim, value, norm, inverse = true)

  /** fftshift/ifftshift (signal.py:244-276): values AND coordinates
    * rotate together; pos is the post-shift array position.
    */
  def fftshift(df: DataFrame, keys: Seq[String], dim: String, value: String,
               inverse: Boolean = false): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val shift: Column => Column = if (inverse) ifftshiftC else fftshiftC
    val withOut = sdf
      .withColumn("_sv", shift(col(value)))
      .withColumn("_sc", shift(col("coords")))
    explodeSeries(withOut, keys, Seq(dim -> col("_sc"), "value" -> col("_sv")))
  }

  def ifftshift(df: DataFrame, keys: Seq[String], dim: String, value: String): DataFrame =
    fftshift(df, keys, dim, value, inverse = true)

  /** Multi-dim fftshift/ifftshift — the reference's `dims` TUPLE
    * signature (signal.py:245-268: the shift applies over every
    * listed core dim, and each dim's coordinates roll with it). The
    * group must form a complete hyper-rectangular grid over `dims`
    * (same contract, same single-shuffle gridify as the fftconvolve
    * grid family); values roll in one N-D kernel call and each dim's
    * coord axis rolls with the 1-D kernel. Output: keys, pos1..posN
    * (post-shift positions), the shifted dim coordinates, value.
    */
  def fftshiftNd(df: DataFrame, keys: Seq[String], dims: Seq[String],
                 value: String, inverse: Boolean = false): DataFrame = {
    val nd = dims.length
    require(nd >= 1, "need at least one dim")
    val g = gridify(df, keys, dims, value, "fftshift", keepCoords = true)
    val shapeArr = array((1 to nd).map(i => col(s"_n$i")): _*)
    val shift1: Column => Column = if (inverse) ifftshiftC else fftshiftC
    explodeGrid(g, keys, (1 to nd).map(i => col(s"_n$i")),
      Seq("value" -> fftshiftNdC(col("_vals"), shapeArr, inverse)),
      coords = dims.zipWithIndex.map { case (d, i) => d -> shift1(col(s"_c${i + 1}")) })
  }

  /** 2-D sliding median (scipy.signal.medfilt2d: odd kernel,
    * zero-padded edges) over the complete-grid contract — the
    * despeckle filter for image-like per-key grids. One gridify
    * shuffle, one kernel call. Output: keys, pos1, pos2, value.
    */
  def medfilt2d(df: DataFrame, keys: Seq[String], dim1: String, dim2: String,
                value: String, kernelSize: (Int, Int) = (3, 3)): DataFrame = {
    val g = gridify(df, keys, Seq(dim1, dim2), value, "medfilt2d")
    explodeGrid(g, keys, Seq(col("_n1"), col("_n2")), Seq("value" ->
      medfilt2dC(col("_vals"), col("_n1"), col("_n2"), kernelSize._1, kernelSize._2)))
  }

  /** N-D FFT over a complete hyper-rectangular grid — numpy's
    * fftn/ifftn where the reference loops its 1-D fft per dim
    * (signal.py:234-241 applied over a dims tuple). One gridify
    * shuffle carries re AND im (multi-value gridify), one kernel call
    * transforms every axis (strided radix-2/Bluestein lines — axis
    * lengths are NOT padded; the transform length is the axis length).
    * Real input: pass `im = null`. Output: keys, pos1..posN, re, im —
    * grid positions, not frequency coords (compose with [[fftshiftNd]]
    * for centered spectra; per-dim fftfreq follows the 1-D rule).
    */
  def fftNd(df: DataFrame, keys: Seq[String], dims: Seq[String],
            re: String, im: String = null,
            norm: String = "backward", inverse: Boolean = false): DataFrame = {
    val nd = dims.length
    require(nd >= 1, "need at least one dim")
    val vals = if (im == null) Seq(re) else Seq(re, im)
    val g = gridify(df, keys, dims, vals, "fftNd", "", keepCoords = false)
    val shapeArr = array((1 to nd).map(i => col(s"_n$i").cast("int")): _*)
    val imCol =
      if (im == null) expr("transform(_vals, x -> CAST(0.0 AS DOUBLE))")
      else col("_vals_1")
    val withOut = g.withColumn("_out",
      fftNdC(col("_vals"), imCol, shapeArr, inverse, norm))
    explodeGrid(withOut, keys, (1 to nd).map(i => col(s"_n$i")),
      Seq("re" -> col("_out.re"), "im" -> col("_out.im")))
  }

  def ifftNd(df: DataFrame, keys: Seq[String], dims: Seq[String],
             re: String, im: String, norm: String = "backward"): DataFrame =
    fftNd(df, keys, dims, re, im, norm, inverse = true)

  /** Complex fftshift/ifftshift — one call shifts a (re, im) spectrum
    * with shared coordinate handling (the reference shifts complex
    * arrays natively since numpy is type-generic; two independent
    * single-column calls would invite mismatched coord rolls).
    */
  def fftshiftComplex(df: DataFrame, keys: Seq[String], dim: String,
                      re: String, im: String,
                      inverse: Boolean = false): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(re, im))
    val shift: Column => Column = if (inverse) ifftshiftC else fftshiftC
    val withOut = sdf
      .withColumn("_sre", shift(col(re)))
      .withColumn("_sim", shift(col(im)))
      .withColumn("_sc", shift(col("coords")))
    explodeSeries(withOut, keys, Seq(
      dim -> col("_sc"), "re" -> col("_sre"), "im" -> col("_sim")))
  }

  // ---- convolution (signal.py:34-106) --------------------------------

  /** Join shape shared by [[convolve]], [[correlate]], and their
    * complex twins: an in2 carrying ALL the key columns joins per key;
    * otherwise in2 must be ONE kernel series, broadcast to every
    * group. The unkeyed path asserts that shape — one seriesified row
    * with distinct coordinates — because an in2 keyed by OTHER columns
    * would otherwise silently interleave several kernels into one
    * sorted mixture (a legitimate single kernel never has duplicate
    * coordinates; interleaved ones collide). `values` arrays come back
    * renamed `_b0`, `_b1`, ... in declaration order.
    */
  private def joinSecondSeries(s1: DataFrame, in2: DataFrame, keys: Seq[String],
                               dim: String, values: Seq[String]): DataFrame = {
    val in2Keyed = keys.nonEmpty &&
      in2.columns.toSet.intersect(keys.toSet).size == keys.size
    val renamed = values.indices.map(i => s"_b$i")
    val s2 = values.zip(renamed).foldLeft(
      seriesify(in2, if (in2Keyed) keys else Nil, dim, values)) {
      case (df, (v, b)) => df.withColumnRenamed(v, b)
    }
    if (in2Keyed)
      s1.join(s2.select((keys.map(col) ++ renamed.map(col)): _*), keys)
    else {
      // seriesify with no keys is ONE global-aggregate row by
      // construction, so the only shape left to assert is coordinate
      // distinctness: an in2 keyed by OTHER columns interleaves
      // several kernels into one sorted mixture with colliding
      // coordinates. (The previous row-count guard over an empty
      // Window.partitionBy() was a tautology that flooded every log
      // with single-partition WindowExec warnings — VERDICT r10 #6.)
      val guard = assert_true(
        size(array_distinct(col("coords"))) === size(col("coords")),
        lit("convolve/correlate: in2 is not ONE kernel series " +
          "(duplicate coordinates - several kernels interleaved); a " +
          "per-key second input must carry the same key columns as in1"))
      s1.crossJoin(broadcast(s2.select(
        renamed.map(b => when(guard.isNull, col(b)).as(b)): _*)))
    }
  }

  /** convolve/fftconvolve two long frames along `dim` per key group.
    * If `in2` has no keys it is a single kernel series: broadcast to
    * every group of in1 (the common smoothing-kernel case — no shuffle
    * of in2 at any scale). Output: keys, pos, value.
    */
  def convolve(in1: DataFrame, in2: DataFrame, keys: Seq[String], dim: String,
               value: String, mode: String = "full", method: String = "auto"): DataFrame = {
    val s1 = seriesify(in1, keys, dim, Seq(value))
    val joined = joinSecondSeries(s1, in2, keys, dim, Seq(value))
    val withOut = joined.withColumn("_out", convolveC(col(value), col("_b0"), mode, method))
    explodeSeries(withOut, keys, Seq("value" -> col("_out")))
  }

  def fftconvolve(in1: DataFrame, in2: DataFrame, keys: Seq[String], dim: String,
                  value: String, mode: String = "full"): DataFrame =
    convolve(in1, in2, keys, dim, value, mode, "fft")

  /** Collect each key group into a complete hyper-rectangular grid
    * over `dims`: keys ++ (`_vals<sfx>` row-major array<double>,
    * `_n1<sfx>`.. `_nN<sfx>` per-dim cardinalities). Shared by the
    * literal-kernel and two-frame fftconvolve paths.
    *
    * Per-dim cardinalities come from the collected array, NOT
    * countDistinct aggregates: multiple count-distincts force an
    * Expand (input rows × nDims+1) plus a second exchange +
    * SortAggregate pair, while array_distinct over the already
    * collected cells is a map-side O(cells) pass on the single
    * ObjectHashAggregate this operator already pays for.
    *
    * Ragged/incomplete grids are rejected instead of silently
    * mis-shaping the row-major reshape; assert_true is chained into
    * the value expression so Catalyst cannot prune it. The cell-
    * uniqueness conjunct matters: a duplicated cell plus a missing one
    * keeps prod(n_i) == size (dup (0,0), missing (1,1) still counts
    * 2x2=4) while the reshape silently shifts every later value.
    */
  private def gridify(df: DataFrame, keys: Seq[String], dims: Seq[String],
                      value: String, op: String, sfx: String = "",
                      keepCoords: Boolean = false): DataFrame =
    gridify(df, keys, dims, Seq(value), op, sfx, keepCoords)

  /** Multi-value gridify: the first value column lands in `_vals$sfx`
    * (the historical name every single-value grid op reads), value i>0
    * in `_vals_i$sfx` — one groupBy carries all of them (a complex
    * grid must NOT pay two shuffles for re and im).
    */
  private def gridify(df: DataFrame, keys: Seq[String], dims: Seq[String],
                      values: Seq[String], op: String, sfx: String,
                      keepCoords: Boolean): DataFrame = {
    val nd = dims.length
    // Null handling mirrors [[seriesify]]: a null sample becomes NaN
    // and propagates through the kernel; a row missing any grid
    // coordinate cannot be placed and is dropped (it would otherwise
    // become a null struct field that silently sorts first and
    // corrupts the row-major reshape).
    val packed = struct(
      dims.zipWithIndex.map { case (d, i) => col(d).cast("double").as(s"c${i + 1}") } ++
        values.zipWithIndex.map { case (v, i) =>
          coalesce(col(v).cast("double"), lit(Double.NaN)).as(if (i == 0) "v" else s"v$i")
        }: _*)
    val clean = df.filter(dims.map(col(_).isNotNull).reduce(_ && _))
    val grouped = (1 to nd).foldLeft(
      clean.groupBy(keys.map(col): _*)
        .agg(array_sort(collect_list(packed)).as("_arr"))) { (g, i) =>
      g.withColumn(s"_n$i$sfx",
        expr(s"size(array_distinct(transform(_arr, s -> s.c$i)))"))
    }
    val sizeProd = (1 to nd).map(i => col(s"_n$i$sfx")).reduce(_ * _)
    val cellStruct = (1 to nd).map(i => s"s.c$i").mkString("struct(", ", ", ")")
    val cellsDistinct =
      size(expr(s"array_distinct(transform(_arr, s -> $cellStruct))")) ===
        size(col("_arr"))
    val gridOk = assert_true(sizeProd === size(col("_arr")) && cellsDistinct,
      concat(lit(s"$op: group is not a complete ${dims.mkString(" x ")} grid: "),
        concat_ws(" x ", (1 to nd).map(i => col(s"_n$i$sfx").cast("string")): _*),
        lit(" != "), size(col("_arr")).cast("string"),
        lit(" (or duplicate cells)")))
    val withVals = values.indices.foldLeft(grouped) { (g, i) =>
      val (name, fld) = if (i == 0) (s"_vals$sfx", "v") else (s"_vals_$i$sfx", s"v$i")
      // the grid-completeness guard chains into the FIRST value column
      // (enough to keep it unprunable — every grid op reads _vals)
      val arr = expr(s"transform(_arr, s -> s.$fld)")
      g.withColumn(name, if (i == 0) when(gridOk.isNull, arr) else arr)
    }
    // sorted distinct coordinate values per dim — the axes a
    // coordinate-shifting op (fftshift) rotates alongside the values
    val withCoords =
      if (!keepCoords) withVals
      else (1 to nd).foldLeft(withVals) { (g, i) =>
        g.withColumn(s"_c$i$sfx",
          expr(s"array_sort(array_distinct(transform(_arr, s -> s.c$i)))"))
      }
    withCoords.drop("_arr")
  }

  /** Two-frame join shape for the grid ops, mirroring
    * [[joinSecondSeries]]: an in2 carrying ALL the key columns is
    * gridified per key and joined; otherwise it must be ONE kernel
    * grid, gridified globally (a single row by construction — an in2
    * secretly keyed by other columns collides on grid cells and fails
    * gridify's uniqueness assert) and broadcast to every group.
    */
  private def joinSecondGrid(g1: DataFrame, in2: DataFrame, keys: Seq[String],
                             dims: Seq[String], value: String, op: String): DataFrame = {
    val in2Keyed = keys.nonEmpty &&
      in2.columns.toSet.intersect(keys.toSet).size == keys.size
    val g2 = gridify(in2, if (in2Keyed) keys else Nil, dims, value, op, sfx = "_b")
    val bCols = (1 to dims.length).map(i => col(s"_n${i}_b")) :+ col("_vals_b")
    if (in2Keyed) g1.join(g2.select((keys.map(col) ++ bCols): _*), keys)
    else g1.crossJoin(broadcast(g2.select(bCols: _*)))
  }

  /** posexplode a flat row-major kernel output back to long format —
    * the way back for every grid op. `shape` holds one int column per
    * dim; pos_i = (flat div prod(shape[i+1..])) % shape[i]. `values`
    * are parallel flat arrays, one output column each. `coords`, when
    * given, names each dim's output coordinate and its axis array; the
    * row carries the axis element at pos_i. Output: keys, pos1..posN
    * (or `posNames`), the coordinates, the values.
    */
  private def explodeGrid(df: DataFrame, keys: Seq[String], shape: Seq[Column],
                          values: Seq[(String, Column)],
                          coords: Seq[(String, Column)] = Nil,
                          posNames: Seq[String] = Nil): DataFrame = {
    val nd = shape.length
    val flat =
      if (values.length == 1) values.head._2
      else arrays_zip(values.zipWithIndex.map { case ((_, c), i) => c.as(s"_z$i") }: _*)
    val exploded = df.select((keys.map(col) ++
      shape.zipWithIndex.map { case (n, i) => n.cast("long").as(s"_g$i") } ++
      coords.zipWithIndex.map { case ((_, a), i) => a.as(s"_a$i") } :+
      posexplode(flat).as(Seq("_p", "_v"))): _*)
    val pos = (0 until nd).map { i =>
      val tail = ("1" +: (i + 1 until nd).map(j => s"_g$j")).mkString(" * ")
      expr(s"CAST((_p div ($tail)) % _g$i AS INT)")
    }
    val names = if (posNames.nonEmpty) posNames else (1 to nd).map(i => s"pos$i")
    val valueCols =
      if (values.length == 1) Seq(col("_v").as(values.head._1))
      else values.zipWithIndex.map { case ((name, _), i) => col(s"_v._z$i").as(name) }
    exploded.select((keys.map(col) ++ pos.zip(names).map { case (p, n) => p.as(n) } ++
      coords.zipWithIndex.map { case ((name, _), i) =>
        element_at(col(s"_a$i"), pos(i) + 1).as(name)
      } ++ valueCols): _*)
  }

  /** 2-D FFT convolution over two core dims — the reference's
    * multi-dim `fftconvolve(dims=[d1, d2])` (signal.py:51). The group
    * must form a complete (dim1 × dim2) grid; values are assembled
    * row-major by sorting on (dim1, dim2). Output: keys, pos1, pos2,
    * value. Same one-shuffle execution shape as the 1-D ops.
    */
  def fftconvolve2d(df: DataFrame, keys: Seq[String], dim1: String, dim2: String,
                    value: String, kernel: Array[Double], kernelRows: Int,
                    mode: String = "full"): DataFrame = {
    val withOut = gridify(df, keys, Seq(dim1, dim2), value, "fftconvolve2d")
      .withColumn("_out", fftconvolve2dC(col("_vals"), col("_n1"),
        typedLit(kernel), lit(kernelRows), mode))
    explodeGrid(withOut, keys, Seq(col("_out.rows"), col("_out.cols")),
      Seq("value" -> col("_out.vals")))
  }

  /** scipy.signal.correlate2d (literal kernel): cross-correlation is
    * convolution with the 180°-rotated kernel, which in row-major flat
    * form is simply the REVERSED array (both axes flip; the row count
    * is unchanged) — the same full-output identity the 1-D correlate
    * rides, so every mode window applies identically.
    */
  def correlate2d(df: DataFrame, keys: Seq[String], dim1: String, dim2: String,
                  value: String, kernel: Array[Double], kernelRows: Int,
                  mode: String = "full"): DataFrame =
    fftconvolve2d(df, keys, dim1, dim2, value, kernel.reverse, kernelRows, mode)

  /** Two-frame 2-D FFT convolution — the reference's full
    * `fftconvolve(in1, in2, dims=[d1, d2])` signature (signal.py:41-48)
    * where BOTH operands are labelled arrays. An in2 carrying the key
    * columns convolves per group against its own grid; an unkeyed in2
    * is a single kernel grid broadcast to every group. Grid contract
    * and output shape match the literal-kernel overload.
    */
  def fftconvolve2d(in1: DataFrame, in2: DataFrame, keys: Seq[String],
                    dim1: String, dim2: String, value: String,
                    mode: String): DataFrame = {
    val g1 = gridify(in1, keys, Seq(dim1, dim2), value, "fftconvolve2d")
    val joined = joinSecondGrid(g1, in2, keys, Seq(dim1, dim2), value, "fftconvolve2d")
    val withOut = joined.withColumn("_out", fftconvolve2dC(col("_vals"), col("_n1"),
      col("_vals_b"), col("_n1_b"), mode))
    explodeGrid(withOut, keys, Seq(col("_out.rows"), col("_out.cols")),
      Seq("value" -> col("_out.vals")))
  }

  /** N-D FFT convolution over three or more core dims — the
    * reference's arbitrary `dims` list (signal.py:51-106) beyond the
    * dedicated 1-D ([[fftconvolve]]) and 2-D ([[fftconvolve2d]])
    * paths. The group must form a complete hyper-rectangular grid over
    * `dims`; values are assembled row-major by sorting on the dim
    * tuple. Output: keys, pos1..posN, value. Same one-shuffle
    * execution shape as the other signal ops: a single groupBy
    * exchange, the whole transform in one codegen'd expression, and a
    * posexplode back to the long frame.
    */
  def fftconvolveNd(df: DataFrame, keys: Seq[String], dims: Seq[String],
                    value: String, kernel: Array[Double], kernelShape: Array[Int],
                    mode: String = "full"): DataFrame = {
    val nd = dims.length
    require(nd >= 1, "need at least one dim")
    require(kernelShape.length == nd && kernelShape.product == kernel.length,
      s"kernel shape ${kernelShape.mkString("x")} does not match " +
        s"kernel length ${kernel.length}")
    val grouped = gridify(df, keys, dims, value, "fftconvolveNd")
    val shapeArr = array((1 to nd).map(i => col(s"_n$i")): _*)
    val withOut = grouped.withColumn("_out", fftconvolveNdC(col("_vals"), shapeArr,
      typedLit(kernel), typedLit(kernelShape), mode))
    explodeGrid(withOut, keys, (1 to nd).map(i => element_at(col("_out.shape"), i)),
      Seq("value" -> col("_out.vals")))
  }

  /** Two-frame N-D FFT convolution — the reference's full
    * `fftconvolve(in1, in2, dims)` signature (signal.py:41-48,71-104)
    * for three or more core dims. Join contract as [[joinSecondGrid]].
    */
  def fftconvolveNd(in1: DataFrame, in2: DataFrame, keys: Seq[String],
                    dims: Seq[String], value: String, mode: String): DataFrame = {
    val nd = dims.length
    require(nd >= 1, "need at least one dim")
    val g1 = gridify(in1, keys, dims, value, "fftconvolveNd")
    val joined = joinSecondGrid(g1, in2, keys, dims, value, "fftconvolveNd")
    val shape1 = array((1 to nd).map(i => col(s"_n$i")): _*)
    val shape2 = array((1 to nd).map(i => col(s"_n${i}_b")): _*)
    val withOut = joined.withColumn("_out", fftconvolveNdC(col("_vals"), shape1,
      col("_vals_b"), shape2, mode))
    explodeGrid(withOut, keys, (1 to nd).map(i => element_at(col("_out.shape"), i)),
      Seq("value" -> col("_out.vals")))
  }

  /** Cross-correlation (scipy.signal.correlate): convolve with the
    * reversed kernel. Same join/broadcast shape as [[convolve]]: a
    * per-key second input joins on the keys; an unkeyed in2 is a
    * single kernel series broadcast to every group (previously a
    * keyed in2 was silently collapsed into one mixed series).
    */
  def correlate(in1: DataFrame, in2: DataFrame, keys: Seq[String], dim: String,
                value: String, mode: String = "full", method: String = "auto"): DataFrame = {
    val s1 = seriesify(in1, keys, dim, Seq(value))
    val joined = joinSecondSeries(s1, in2, keys, dim, Seq(value))
    val withOut = joined.withColumn("_out", correlateC(col(value), col("_b0"), mode, method))
    explodeSeries(withOut, keys, Seq("value" -> col("_out")))
  }

  /** Complex convolve — scipy's convolve accepts complex input
    * (signal.py:34-38); series are (re, im) column pairs like the FFT
    * family. Same join/broadcast/execution shape as [[convolve]].
    * Output: keys, pos, re, im.
    */
  def convolveComplex(in1: DataFrame, in2: DataFrame, keys: Seq[String],
                      dim: String, re: String = "re", im: String = "im",
                      mode: String = "full", method: String = "auto"): DataFrame = {
    val s1 = seriesify(in1, keys, dim, Seq(re, im))
    val joined = joinSecondSeries(s1, in2, keys, dim, Seq(re, im))
    val withOut = joined.withColumn("_out",
      convolveCxC(col(re), col(im), col("_b0"), col("_b1"), mode, method))
    explodeSeries(withOut, keys,
      Seq("re" -> col("_out.re"), "im" -> col("_out.im")))
  }

  /** Complex fftconvolve — the reference's `fftconvolve` wraps
    * `scipy.signal.fftconvolve`, which accepts complex input
    * (signal.py:41-48); forced-FFT path of [[convolveComplex]], the
    * same relationship [[fftconvolve]] has to [[convolve]].
    */
  def fftconvolveComplex(in1: DataFrame, in2: DataFrame, keys: Seq[String],
                         dim: String, re: String = "re", im: String = "im",
                         mode: String = "full"): DataFrame =
    convolveComplex(in1, in2, keys, dim, re, im, mode, "fft")

  /** Complex cross-correlation — scipy conjugates in2:
    * correlate(a, b) = convolve(a, conj(reverse(b))) (signal.py:34-38,
    * the IQ/radar-style use the real path cannot express). Output:
    * keys, pos, re, im.
    */
  def correlateComplex(in1: DataFrame, in2: DataFrame, keys: Seq[String],
                       dim: String, re: String = "re", im: String = "im",
                       mode: String = "full", method: String = "auto"): DataFrame = {
    val s1 = seriesify(in1, keys, dim, Seq(re, im))
    val joined = joinSecondSeries(s1, in2, keys, dim, Seq(re, im))
    val withOut = joined.withColumn("_out",
      correlateCxC(col(re), col(im), col("_b0"), col("_b1"), mode, method))
    explodeSeries(withOut, keys,
      Seq("re" -> col("_out.re"), "im" -> col("_out.im")))
  }

  /** Overlap-save chunked convolution (SURVEY.md §4): the scale path
    * for series whose core dim does not fit one task — something the
    * reference's dask layer cannot do at all (it forbids chunking the
    * core dim, test_fft__dask_raises_main_axis). The series stays in
    * long format; each task sees one chunk of `chunkSize` samples plus
    * an (m-1)-sample halo replicated from the previous chunk, so the
    * shuffle carries each row at most twice and no task ever holds the
    * whole series. Interior sums accumulate in the same tap order as
    * the direct kernel, so the output is bit-identical to
    * [[convolve]] mode=full.
    */
  def convolveLong(df: DataFrame, keys: Seq[String], dim: String, value: String,
                   kernel: Array[Double], chunkSize: Int = 4096,
                   method: String = "auto"): DataFrame = {
    val m = kernel.length
    require(m >= 1, "kernel must be non-empty")
    require(chunkSize > m - 1, s"chunkSize $chunkSize must exceed kernel halo ${m - 1}")
    val h = m - 1
    // backward halo: a row in the last h samples of its chunk also
    // lands in the next chunk, whose first outputs need it
    val grouped = chunkSeries(df, keys, dim, value, chunkSize,
      (j, c0, last) => when(j % chunkSize >= chunkSize - h && c0 + 1 <= last,
        array(c0, c0 + 1)).otherwise(array(c0)))
      .withColumn("_out", convolveC(col("_vals"), typedLit(kernel), "full", method))
    val exploded = grouped.select(
      (keys.map(col) ++ Seq(col("_c"), col("_start"), col("_gn"),
        posexplode(col("_out")).as(Seq("_r", "value")))): _*)
      .withColumn("pos", col("_start") + col("_r"))
      .filter(col("pos") >= col("_c") * chunkSize &&
        (col("pos") < (col("_c") + 1) * chunkSize ||
          col("_c") === expr(s"(_gn - 1) div $chunkSize")))
    exploded.select((keys.map(col) :+ col("pos").cast("int").as("pos") :+ col("value")): _*)
  }

  /** Long-format chunking shared by [[convolveLong]] and [[welchLong]]:
    * one row per (keys, `_c` chunk id) holding `_vals` (the chunk's
    * samples ordered by sample index), `_start` (its first sample
    * index), `_gn` (the series length) and the op's `carry` aggregates
    * over its extra per-key `stats`. Every sample lands in its home
    * chunk `_j div chunkSize`; `halo(j, home, last)` returns the chunk
    * ids a sample with index `j` lands in (home plus the neighbour that
    * needs it as halo; `last` is the series' last chunk id), so the
    * shuffle carries each row at most twice and no task ever holds the
    * whole series.
    *
    * The null contract mirrors [[seriesify]] (bit-identical parity with
    * the direct path): null coordinates cannot be placed on the axis and
    * are dropped; null samples become NaN and flow through the kernel.
    * The sample index is a per-key RANK (row_number over the coordinate
    * order), not coordinate arithmetic: real-world coordinates are
    * jittered/non-equispaced (event timestamps), so round((t-cmin)/delta)
    * silently collapses distinct samples onto one index and corrupts
    * chunk contents. row_number is a running-frame window — WindowExec
    * streams it after the per-partition sort, no whole-partition buffer
    * — and the series length `_n` comes from a small groupBy aggregate
    * joined back (NOT a whole-partition count(*) window, which would
    * buffer every series). Net: one hash exchange on the keys reused by
    * both the join and the window, plus the chunk groupBy.
    */
  private def chunkSeries(df: DataFrame, keys: Seq[String], dim: String, value: String,
                          chunkSize: Int, halo: (Column, Column, Column) => Column,
                          stats: Seq[Column] = Nil, carry: Seq[Column] = Nil): DataFrame = {
    val clean = df
      .filter(col(dim).isNotNull)
      .withColumn(value, coalesce(col(value).cast("double"), lit(Double.NaN)))
    val st = clean.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"), stats: _*)
    val withStats =
      if (keys.isEmpty) clean.crossJoin(broadcast(st))
      else clean.join(st, keys)
    // (coord, value) order, not coord alone: seriesify sorts
    // struct(c, v) lexicographically, so on duplicate coordinates the
    // chunked path must rank identically or its chunk contents diverge
    // from the direct path (and the oracle's ORDER BY t, value)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(dim).cast("double"), col(value))
    withStats
      .withColumn("_j", (row_number().over(w) - lit(1)).cast("long"))
      .withColumn("_c", explode(halo(col("_j"), expr(s"_j div $chunkSize"),
        expr(s"(_n - 1) div $chunkSize"))))
      .groupBy((keys.map(col) :+ col("_c")): _*)
      .agg(
        expr(s"transform(array_sort(collect_list(named_struct('j', _j, 'v', $value))), s -> s.v)").as("_vals"),
        (Seq(min(col("_j")).as("_start"), max(col("_n")).as("_gn")) ++ carry): _*)
  }

  // ---- b,a filtering (the decimate FIR/IIR building blocks) -----------

  /** lfilter (DF2T direct form) per series. */
  def lfilter(b: Array[Double], a: Array[Double], df: DataFrame, keys: Seq[String],
              dim: String, value: String): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf.withColumn("_out", lfilterC(typedLit(b), typedLit(a), col(value)))
    explodeSeries(withOut, keys, Seq(dim -> col("coords"), "value" -> col("_out")))
  }

  /** filtfilt: zero-phase forward-backward lfilter per series. */
  def filtfilt(b: Array[Double], a: Array[Double], df: DataFrame, keys: Seq[String],
               dim: String, value: String): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf.withColumn("_out", filtfiltC(typedLit(b), typedLit(a), col(value)))
    explodeSeries(withOut, keys, Seq(dim -> col("coords"), "value" -> col("_out")))
  }

  // ---- filtering (signal.py:403-461) ---------------------------------

  /** sosfilt: causal cascaded-biquad filter per series; coords pass
    * through unchanged. `zi` (flattened (nSections, 2) initial
    * conditions, shared across series) mirrors the reference's zi
    * parameter (signal.py:406).
    */
  def sosfilt(sos: Array[Double], df: DataFrame, keys: Seq[String], dim: String,
              value: String, zi: Array[Double] = null): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val k =
      if (zi == null) sosfiltC(typedLit(sos), col(value))
      else sosfiltzC(typedLit(sos), col(value), typedLit(zi))
    val withOut = sdf.withColumn("_out", k)
    explodeSeries(withOut, keys, Seq(dim -> col("coords"), "value" -> col("_out")))
  }

  /** sosfiltfilt: zero-phase forward-backward filter per series. */
  def sosfiltfilt(sos: Array[Double], df: DataFrame, keys: Seq[String], dim: String,
                  value: String, padtype: String = "odd", padlen: Int = -1): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf.withColumn("_out",
      sosfiltfiltC(typedLit(sos), col(value), padtype, padlen))
    explodeSeries(withOut, keys, Seq(dim -> col("coords"), "value" -> col("_out")))
  }

  // ---- rate changes (signal.py:109-152, 374-400) ----------------------

  /** decimate: anti-alias + downsample by q. The reference drops the
    * core-dim coords (signal.py:124 TODO); we additionally emit the
    * true new coordinate (every q-th original coord).
    */
  def decimate(df: DataFrame, keys: Seq[String], dim: String, value: String,
               q: Int, n: Int = -1, ftype: String = "iir",
               zeroPhase: Boolean = true): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf
      .withColumn("_out", decimateC(col(value), q, n, ftype, zeroPhase))
      .withColumn("_dc", expr(s"filter(transform(coords, (c, i) -> IF(i % $q = 0, c, null)), c -> c IS NOT NULL)"))
    explodeSeries(withOut, keys, Seq(dim -> col("_dc"), "value" -> col("_out")))
  }

  /** resample to `num` samples via Fourier method, with the
    * reference's full signature (signal.py:374-382): `window` names a
    * periodic DFT-domain window ("" = none; hann/hamming/blackman/
    * bartlett/boxcar) applied to the spectrum before truncation/
    * padding, and `domain` is "time" (default) or "freq" (the value
    * column is a real-valued packed rfft spectrum). Output: keys, pos,
    * <dim> (uniform re-spaced coords over the original span), value.
    */
  def resample(df: DataFrame, keys: Seq[String], dim: String, value: String,
               num: Int, window: String = "",
               domain: String = "time"): DataFrame =
    resampleOn(df, keys, dim, value, num,
      v => resampleC(v, lit(num), window, domain))

  /** resample with the window as an explicit Fourier-order VECTOR —
    * scipy's `window: array_like` branch (applied directly in the DFT
    * domain, dc-first, no ifftshift). Same output contract as the
    * named-window overload.
    */
  def resample(df: DataFrame, keys: Seq[String], dim: String, value: String,
               num: Int, windowVec: Array[Double],
               domain: String): DataFrame =
    resampleOn(df, keys, dim, value, num,
      v => resampleWC(v, lit(num), typedLit(windowVec), domain))

  private def resampleOn(df: DataFrame, keys: Seq[String], dim: String,
                         value: String, num: Int,
                         kernel: Column => Column): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf
      .withColumn("_out", kernel(col(value)))
      .withColumn("_nc", expr(
        s"transform(sequence(0, $num - 1), i -> cmin + i * (delta * n) / $num)"))
    explodeSeries(withOut, keys, Seq(dim -> col("_nc"), "value" -> col("_out")))
  }

  // ---- hilbert (signal.py:279-327) ------------------------------------

  /** Analytic signal. With N set, coords become the N-point linear
    * interpolation of the original span (signal.py:314-326); otherwise
    * original coords pass through. Output: keys, pos, <dim>, re, im,
    * envelope.
    */
  def hilbert(df: DataFrame, keys: Seq[String], dim: String, value: String,
              n: Int = -1): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf
      .withColumn("_out", hilbertC(col(value), n))
      .withColumn("_nc",
        if (n <= 0) col("coords")
        else expr(s"transform(sequence(0, $n - 1), i -> cmin + i * (cmax - cmin) / $n)"))
    explodeSeries(withOut, keys, Seq(
      dim -> col("_nc"), "re" -> col("_out.re"), "im" -> col("_out.im"),
      "envelope" -> expr("transform(arrays_zip(_out.re, _out.im), s -> sqrt(s.re * s.re + s.im * s.im))")))
  }

  /** Batch STFT / spectrogram: sliding-window rfft (window `w`
    * samples, hop `h`, tapered by the named `window` — hann by
    * default, matching scipy.signal.stft/spectrogram; "boxcar" for
    * raw frames) per series — the batch twin of
    * [[graft.streaming.Streaming.streamingStft]] with identical window
    * placement (starts 0, h, 2h, … while start + w ≤ n). One seriesify
    * shuffle; the windows explode MAP-SIDE from the per-series array
    * (slice + posexplode), the taper applies as a codegen'd `zip_with`
    * against a literal weight array, and each window's spectrum is one
    * kernel call — no second exchange, no per-window grouping. Output:
    * keys, win (window ordinal), start (sample index), coord (of the
    * window-closing sample), bin, re, im.
    */
  def stft(df: DataFrame, keys: Seq[String], dim: String, value: String,
           w: Int, h: Int, window: String = "hann"): DataFrame = {
    require(w > 0 && h > 0 && h <= w, "need 0 < hop <= window")
    val wts = graft.dsp.Resample.periodicWindow(window, w) // also validates name
    val slice = expr(s"slice(_v, start + 1, $w)")
    val tapered =
      if (window == "boxcar" || window == "rectangular") slice
      else zip_with(slice, typedLit(wts), (x, wt) => x * wt)
    val sdf = seriesify(df, keys, dim, Seq(value))
    val windows = sdf
      .filter(col("n") >= w)
      .withColumn("_starts", expr(s"sequence(0, n - $w, $h)"))
      .select((keys.map(col) :+ col("coords") :+ col(value).as("_v") :+
        posexplode(col("_starts")).as(Seq("win", "start"))): _*)
      .withColumn("_spec", rfftC(tapered, -1, "backward"))
      .withColumn("coord", expr(s"element_at(coords, start + $w)"))
    explodeSeries(windows, keys ++ Seq("win", "start", "coord"),
      Seq("re" -> col("_spec.re"), "im" -> col("_spec.im")), posName = "bin")
  }

  /** scipy.signal.spectrogram (mode="psd", scaling="density"): the
    * per-window one-sided power spectral density with scipy's exact
    * defaults — ('tukey', 0.25) analysis window and per-window
    * CONSTANT detrend (both of which differ from stft's hann /
    * no-detrend; scipy's own two APIs disagree the same way). Window
    * placement is [[stft]]'s (starts 0, h, 2h, … — scipy's default
    * spectrogram hop is nperseg − nperseg//8). Same single-shuffle
    * shape as stft: windows explode map-side, one rfft kernel call per
    * window, the psd projection is a codegen'd transform. Output:
    * keys, win, start, coord, bin, frequency, psd.
    */
  def spectrogram(df: DataFrame, keys: Seq[String], dim: String, value: String,
                  w: Int, h: Int, window: String = "tukey",
                  tukeyAlpha: Double = 0.25, fs: Double = -1.0,
                  detrend: String = "constant"): DataFrame = {
    require(w > 0 && h > 0 && h <= w, "need 0 < hop <= window")
    val wts =
      if (window == "tukey") graft.dsp.Resample.tukeyPeriodic(w, tukeyAlpha)
      else graft.dsp.Resample.periodicWindow(window, w)
    var w2 = 0.0
    wts.foreach(x => w2 += x * x)
    val nb = w / 2 + 1
    val demean = demeanOf("spectrogram", detrend)
    val base = expr(s"slice(_v, start + 1, $w)")
    val centered =
      if (demean) expr(s"transform(slice(_v, start + 1, $w), x -> x - _m)")
      else base
    val tapered = zip_with(centered, typedLit(wts), (x, wt) => x * wt)
    val sdf = seriesify(df, keys, dim, Seq(value))
    val fsExpr = if (fs > 0) s"CAST($fs AS DOUBLE)" else "1.0 / _delta"
    val nyq = if (w % 2 == 0) s" OR b = ${nb - 1}" else ""
    val windows = sdf
      .filter(col("n") >= w)
      .withColumn("_starts", expr(s"sequence(0, n - $w, $h)"))
      .select((keys.map(col) :+ col("coords") :+ col("delta").as("_delta") :+
        col(value).as("_v") :+
        posexplode(col("_starts")).as(Seq("win", "start"))): _*)
      .withColumn("_m",
        if (demean)
          expr(s"aggregate(slice(_v, start + 1, $w), CAST(0 AS DOUBLE), (a, x) -> a + x) / $w")
        else lit(0.0))
      .withColumn("_spec", rfftC(tapered, -1, "backward"))
      .withColumn("coord", expr(s"element_at(coords, start + $w)"))
      .withColumn("_fs", expr(fsExpr))
      .withColumn("_psd", expr(
        s"transform(sequence(0, ${nb - 1}), b -> " +
          "(element_at(_spec.re, b+1)*element_at(_spec.re, b+1) + " +
          "element_at(_spec.im, b+1)*element_at(_spec.im, b+1)) * " +
          s"(CASE WHEN b = 0$nyq THEN 1.0 ELSE 2.0 END) / (_fs * CAST($w2 AS DOUBLE)))"))
      .withColumn("_freq", expr(s"transform(sequence(0, ${nb - 1}), b -> b * _fs / $w)"))
    explodeSeries(windows, keys ++ Seq("win", "start", "coord"),
      Seq("frequency" -> col("_freq"), "psd" -> col("_psd")), posName = "bin")
  }

  /** scipy.signal.istft: overlap-add inverse of [[stft]]. Input is an
    * stft-shaped frame (keys, window ordinal, bin, re, im — column
    * names configurable); windows regroup per series in ONE hash
    * exchange (the istft twin of the seriesify shuffle), sort
    * deterministically by (win, bin), and the whole reconstruction —
    * per-window irfft, analysis-window taper, overlap-add, division by
    * the accumulated squared-window envelope (scipy's exact `norm`
    * rule) — is one kernel call per series. For unmodified spectra the
    * round trip reproduces the signal exactly wherever the window
    * envelope is nonzero; zero-coverage samples (sample 0 under a
    * periodic hann) emit 0, mirroring scipy's NOLA contract. Output:
    * keys, pos (sample index from the first window's start), value.
    */
  def istft(df: DataFrame, keys: Seq[String], w: Int, h: Int,
            window: String = "hann",
            winCol: String = "win", binCol: String = "bin",
            reCol: String = "re", imCol: String = "im"): DataFrame = {
    require(w > 0 && h > 0 && h <= w, "need 0 < hop <= window")
    val wts = graft.dsp.Resample.periodicWindow(window, w)
    val packed = struct(
      col(winCol).cast("int").as("k"), col(binCol).cast("int").as("b"),
      col(reCol).cast("double").as("re"), col(imCol).cast("double").as("im"))
    val grouped = df.groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(packed)).as("_arr"),
        (max(col(winCol)).cast("int") + 1).as("_nw"))
    val out = grouped
      .withColumn("_y", istftC(
        expr("transform(_arr, s -> s.re)"), expr("transform(_arr, s -> s.im)"),
        col("_nw"), w, h, typedLit(wts)))
    explodeSeries(out, keys, Seq("value" -> col("_y")))
  }

  /** scipy.signal.cwt with the ricker (Mexican-hat) wavelet: one
    * "same"-mode convolution per width, rows stacked. The wavelet taps
    * are fixed ONCE at the driver ([[graft.dsp.Wavelet.ricker]] with
    * scipy's 10·width points) and broadcast as plan literals, so every
    * series convolves against bit-identical taps — scipy instead caps
    * the tap count at the per-series length, a difference only for
    * series shorter than 10·width (the taps then overhang and the
    * zero-padded convolution still matches the replayed sum). One
    * seriesify shuffle, one kernel call per series covering ALL
    * widths. Output: keys, width_idx, pos, value.
    */
  def cwt(df: DataFrame, keys: Seq[String], dim: String, value: String,
          widths: Array[Double]): DataFrame = {
    require(widths.nonEmpty, "cwt: need at least one width")
    val taps = widths.map(a => graft.dsp.Wavelet.ricker((10 * a).toInt, a))
    val sdf = seriesify(df, keys, dim, Seq(value))
    explodeGrid(sdf, keys, Seq(lit(widths.length), col("n")), Seq("value" ->
      cwtFlatC(col(value), typedLit(taps.flatten.toSeq), typedLit(taps.map(_.length).toSeq))),
      posNames = Seq("width_idx", "pos"))
  }

  /** scipy.signal.lombscargle lifted onto series: the least-squares
    * spectral power of an UNEVENLY sampled series — the one estimator
    * that drops the reference's equispaced-coordinate contract
    * (xarray_scipy README), and therefore the natural spectrum for raw
    * event streams. `center` (default) shifts each series' time axis
    * to start at 0 before the trig sums — the periodogram is
    * time-shift invariant, and small arguments keep the cross-engine
    * sin/cos agreement that the fixed-point oracles rely on. One
    * seriesify shuffle, one kernel call per series covering ALL
    * frequencies. Output: keys, fidx, freq (rad/s), pgram.
    */
  def lombscargle(df: DataFrame, keys: Seq[String], dim: String, value: String,
                  freqs: Array[Double], precenter: Boolean = false,
                  normalize: Boolean = false,
                  center: Boolean = true): DataFrame = {
    require(freqs.nonEmpty, "lombscargle: need at least one frequency")
    val sdf = seriesify(df, keys, dim, Seq(value))
    val t = if (center) expr("transform(coords, c -> c - cmin)") else col("coords")
    val out = sdf
      .withColumn("_p", lombscargleC(t, col(value), typedLit(freqs.toSeq),
        precenter, normalize))
      .withColumn("_f", typedLit(freqs.toSeq))
    explodeSeries(out, keys,
      Seq("freq" -> col("_f"), "pgram" -> col("_p")), posName = "fidx")
  }

  /** scipy.signal.detrend lifted onto series: remove the mean
    * ("constant") or the least-squares line over the sample index
    * ("linear", the scipy default) per series. Coordinates pass
    * through unchanged. One seriesify shuffle, one kernel call.
    */
  def detrend(df: DataFrame, keys: Seq[String], dim: String, value: String,
              typ: String = "linear"): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf.withColumn("_out", detrendC(col(value), typ))
    explodeSeries(withOut, keys, Seq(
      dim -> col("coords"), "value" -> col("_out")))
  }

  /** xarray-style `interp`/`resample` onto a regular grid: linear
    * interpolation of each series at start + i·step (i < n) with
    * numpy.interp's clamp-to-edge policy. NaN start anchors each
    * series' grid at its own first coordinate (the per-series resample
    * case); a finite start aligns every series onto one shared grid
    * (the join-series case). One seriesify shuffle, one kernel call.
    * Output: keys, pos, <dim> (grid coordinate), value.
    */
  def interpGrid(df: DataFrame, keys: Seq[String], dim: String, value: String,
                 step: Double, n: Int,
                 start: Double = Double.NaN): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf
      .withColumn("_out", interpGridC(col("coords"), col(value), start, step, n))
      .withColumn("_grid", expr(
        s"transform(sequence(0, ${n - 1}), i -> ${if (start.isNaN) "cmin" else start.toString} + i * cast($step as double))"))
    explodeSeries(withOut, keys, Seq(
      dim -> col("_grid"), "value" -> col("_out")))
  }

  /** scipy.signal.upfirdn lifted onto series: zero-stuff upsample by
    * `up`, FIR filter with the literal taps `h`, downsample by `down`
    * — evaluated polyphase-style in ONE kernel call per series (the
    * zero-stuffed intermediate is never materialized). Output: keys,
    * pos (output sample index), value.
    */
  def upfirdn(df: DataFrame, keys: Seq[String], dim: String, value: String,
              h: Array[Double], up: Int, down: Int): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf.withColumn("_out",
      upfirdnC(typedLit(h), col(value), up, down))
    explodeSeries(withOut, keys, Seq("value" -> col("_out")))
  }

  /** scipy.signal.resample_poly lifted onto series: rational-rate
    * polyphase resampling with the kaiser-windowed anti-alias design
    * (β = 5.0 default). One seriesify shuffle, one kernel call.
    */
  def resamplePoly(df: DataFrame, keys: Seq[String], dim: String, value: String,
                   up: Int, down: Int, beta: Double = 5.0): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf.withColumn("_out", resamplePolyC(col(value), up, down, beta))
    explodeSeries(withOut, keys, Seq("value" -> col("_out")))
  }

  /** scipy.signal.medfilt lifted onto series: sliding median with odd
    * kernel size, zero-padded edges, per series. One seriesify
    * shuffle, one kernel call.
    */
  def medfilt(df: DataFrame, keys: Seq[String], dim: String, value: String,
              kernelSize: Int = 3): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf.withColumn("_out", medfiltC(col(value), kernelSize))
    explodeSeries(withOut, keys, Seq(
      dim -> col("coords"), "value" -> col("_out")))
  }

  /** scipy.signal.savgol_filter lifted onto series: polynomial
    * least-squares smoothing per series (mode constant or scipy's
    * default interp; `deriv`/`delta` estimate the d-th derivative in
    * coordinate units). One seriesify shuffle, one kernel call.
    */
  def savgol(df: DataFrame, keys: Seq[String], dim: String, value: String,
             window: Int = 5, polyorder: Int = 2,
             mode: String = "constant", deriv: Int = 0,
             delta: Double = 1.0): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf.withColumn("_out",
      savgolC(col(value), window, polyorder, mode, deriv, delta))
    explodeSeries(withOut, keys, Seq(
      dim -> col("coords"), "value" -> col("_out")))
  }

  /** scipy.signal.order_filter lifted onto series: sliding rank
    * selection over a zero-padded odd window (rank size/2 == medfilt).
    * One seriesify shuffle, one kernel call.
    */
  def orderFilter(df: DataFrame, keys: Seq[String], dim: String, value: String,
                  size: Int, rank: Int): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf.withColumn("_out", orderFilterC(col(value), size, rank))
    explodeSeries(withOut, keys, Seq(
      dim -> col("coords"), "value" -> col("_out")))
  }

  /** scipy.signal.wiener lifted onto series: adaptive local-statistics
    * filter (local mean/variance over a zero-padded odd window, noise
    * estimated as the mean local variance unless given). One seriesify
    * shuffle, one kernel call.
    */
  def wiener(df: DataFrame, keys: Seq[String], dim: String, value: String,
             size: Int = 3, noise: Double = -1.0): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf.withColumn("_out", wienerC(col(value), size, noise))
    explodeSeries(withOut, keys, Seq(
      dim -> col("coords"), "value" -> col("_out")))
  }

  /** scipy.signal.welch lifted onto series: averaged-periodogram PSD
    * (onesided, density scaling) with `nperseg`-sample segments every
    * `nperseg - noverlap` samples (scipy's default noverlap =
    * nperseg // 2), per-segment constant detrend, named-window taper
    * (hann default, same [[graft.dsp.Resample.periodicWindow]] family
    * as [[stft]]). fs derives from the series spacing (1/delta), so
    * the output frequency axis is rfftfreq(nperseg, delta) exactly
    * like the FFT family. The whole estimate — every segment, taper,
    * rfft, and the average — is ONE kernel call per series on the
    * seriesified array: one shuffle total, no per-segment explode, no
    * second exchange (the segment loop is sequential reuse of one
    * scratch buffer, not materialized frames). Output: keys, pos
    * (bin), <newdim>, psd.
    */
  def welch(df: DataFrame, keys: Seq[String], dim: String, value: String,
            nperseg: Int, noverlap: Int = -1, window: String = "hann",
            detrend: String = "constant", fs: Double = -1.0,
            newdim: String = "frequency", average: String = "mean"): DataFrame = {
    val hop = welchHop("welch", nperseg, noverlap)
    val demean = demeanOf("welch", detrend)
    val wts = graft.dsp.Resample.periodicWindow(window, nperseg)
    // fs > 0: scipy's explicit sampling-rate argument; fs <= 0 (the
    // default): derive per series from the coordinate spacing, the
    // xarray convention every other op here follows
    val fsCol = if (fs > 0) lit(fs) else lit(1.0) / col("delta")
    val dCol = if (fs > 0) lit(1.0 / fs) else col("delta")
    val sdf = seriesify(df, keys, dim, Seq(value)).filter(col("n") >= nperseg)
    val withOut = sdf
      .withColumn("_psd", welchC(col(value), nperseg, hop, typedLit(wts),
        fsCol, demean, average))
      .withColumn("_freq", rfftfreqC(lit(nperseg), dCol))
    explodeSeries(withOut, keys, Seq(
      newdim -> col("_freq"), "psd" -> col("_psd")))
  }

  /** scipy.signal.zoom_fft lifted onto series: the spectrum on m
    * points of [f1, f2) only (endpoint=false default). One seriesify
    * shuffle, one kernel call. Output: keys, pos, <newdim>, re, im.
    */
  def zoomFft(df: DataFrame, keys: Seq[String], dim: String, value: String,
              f1: Double, f2: Double, m: Int, fs: Double = -1.0,
              endpoint: Boolean = false,
              newdim: String = "frequency"): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val fsCol = if (fs > 0) lit(fs) else lit(1.0) / col("delta")
    val step = if (m == 1) 0.0 else (f2 - f1) / (if (endpoint) m - 1 else m)
    val withOut = sdf
      .withColumn("_sp", zoomDftC(col(value), f1, f2, m, fsCol, endpoint))
      .withColumn("_freq", expr(
        s"transform(sequence(0, ${m - 1}), k -> cast($f1 as double) + k * cast($step as double))"))
    explodeSeries(withOut, keys, Seq(
      newdim -> col("_freq"), "re" -> col("_sp.re"), "im" -> col("_sp.im")))
  }

  /** scipy.signal.czt lifted onto series: the chirp-z transform on the
    * general spiral contour z_k = a·w^{−k} (polar-form a, w) — the
    * off-unit-circle generalization [[zoomFft]]'s band can't express
    * (pole-zero probing, decaying-contour analysis). One seriesify
    * shuffle, one kernel call per series. Output: keys, pos, k, re, im
    * (k = the contour point index).
    */
  def czt(df: DataFrame, keys: Seq[String], dim: String, value: String,
          m: Int, wMod: Double, wPhi: Double,
          aMod: Double = 1.0, aPhi: Double = 0.0): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf
      .withColumn("_sp", cztC(col(value), m, wMod, wPhi, aMod, aPhi))
      .withColumn("_k", expr(s"transform(sequence(0, ${m - 1}), x -> cast(x as int))"))
    explodeSeries(withOut, keys, Seq(
      "k" -> col("_k"), "re" -> col("_sp.re"), "im" -> col("_sp.im")))
  }

  /** scipy.signal.periodogram lifted onto series: the whole series as
    * ONE Welch segment (boxcar window and constant detrend are scipy's
    * defaults). The segment length is the per-series length, so the
    * window is built inside the kernel rather than passed as a plan
    * literal. One seriesify shuffle, one kernel call; n/2+1 bins at
    * rfftfreq(n, delta).
    */
  def periodogram(df: DataFrame, keys: Seq[String], dim: String, value: String,
                  window: String = "boxcar", detrend: String = "constant",
                  fs: Double = -1.0, newdim: String = "frequency"): DataFrame = {
    val demean = demeanOf("periodogram", detrend)
    val fsCol = if (fs > 0) lit(fs) else lit(1.0) / col("delta")
    val dCol = if (fs > 0) lit(1.0 / fs) else col("delta")
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf
      .withColumn("_psd", periodogramC(col(value), window, fsCol, demean))
      .withColumn("_freq", rfftfreqC(col("n"), dCol))
    explodeSeries(withOut, keys, Seq(
      newdim -> col("_freq"), "psd" -> col("_psd")))
  }

  /** Chunked Welch PSD for series whose core dim does not fit one task
    * (SURVEY §4, the spectral sibling of [[convolveLong]]): segments
    * are independent, so each chunk task computes the UNSCALED partial
    * Σ|rfft(seg)|² for the hop-aligned segments starting inside it — a
    * forward (nperseg−1)-sample halo replicated from the next chunk
    * lets edge segments complete, so the shuffle carries each row at
    * most twice and no task ever holds the whole series. The partials
    * then combine in one partial-aggregatable hash agg per (key, bin)
    * and scale by 1/(fs·Σw²·nSeg). Identical segmentation and math to
    * [[welch]] up to float summation order. Requires explicit fs > 0
    * OR equispaced coords (fs derived from the global span).
    */
  def welchLong(df: DataFrame, keys: Seq[String], dim: String, value: String,
                nperseg: Int, noverlap: Int = -1, window: String = "hann",
                detrend: String = "constant", fs: Double = -1.0,
                chunkSize: Int = 65536,
                newdim: String = "frequency"): DataFrame = {
    val hop = welchHop("welchLong", nperseg, noverlap)
    require(chunkSize >= nperseg,
      s"welchLong: chunkSize $chunkSize must be >= nperseg $nperseg")
    val demean = demeanOf("welchLong", detrend)
    val wts = graft.dsp.Resample.periodicWindow(window, nperseg)
    var w2 = 0.0
    wts.foreach(v => w2 += v * v)
    // forward halo: a segment starting near a chunk's end reads into
    // the next chunk, so a row in the first nperseg-1 samples of its
    // chunk also lands in the previous chunk
    val grouped = chunkSeries(df, keys, dim, value, chunkSize,
      (j, c0, _) => when(j % chunkSize <= nperseg - 2 && c0 >= 1,
        array(c0 - 1, c0)).otherwise(array(c0)),
      stats = Seq(min(col(dim).cast("double")).as("_cmin"),
        max(col(dim).cast("double")).as("_cmax")),
      carry = Seq(max(col("_cmin")).as("_gmin"), max(col("_cmax")).as("_gmax")))
      .withColumn("_acc", welchPartialC(col("_vals"), col("_start"), chunkSize,
        nperseg, hop, typedLit(wts), demean))
    val parts = grouped.select(
      (keys.map(col) ++ Seq(col("_gn"), col("_gmin"), col("_gmax"),
        posexplode(col("_acc")).as(Seq("_i", "_v")))): _*)
    val agg = parts
      .groupBy((keys.map(col) :+ col("_i")): _*)
      .agg(sum(col("_v")).as("_s"), max(col("_gn")).as("_n"),
        max(col("_gmin")).as("_cmin"), max(col("_gmax")).as("_cmax"))
    // a series shorter than nperseg produces zero segments — drop it,
    // matching welch's n >= nperseg filter (not a 0/0 NaN row)
    val cnt = agg.filter(col("_i") === 0)
      .select((keys.map(col) :+ col("_s").as("_cnt")): _*)
      .filter(col("_cnt") > 0)
    val bins =
      if (keys.isEmpty) agg.filter(col("_i") > 0).crossJoin(broadcast(cnt))
      else agg.filter(col("_i") > 0).join(cnt, keys)
    val fsCol =
      if (fs > 0) lit(fs)
      else (col("_n") - 1).cast("double") / (col("_cmax") - col("_cmin"))
    bins
      .withColumn("pos", (col("_i") - 1).cast("int"))
      .withColumn(newdim, col("pos") * fsCol / nperseg)
      .withColumn("psd", col("_s") / (fsCol * lit(w2) * col("_cnt")) *
        when(col("pos") === 0 ||
          col("pos") === (if (nperseg % 2 == 0) nperseg / 2 else -1), lit(1.0))
          .otherwise(lit(2.0)))
      .select((keys.map(col) ++ Seq(col("pos"), col(newdim), col("psd"))): _*)
  }

  /** Segment hop from scipy's noverlap (default nperseg // 2). */
  private def welchHop(op: String, nperseg: Int, noverlap: Int): Int = {
    val hop = nperseg - (if (noverlap >= 0) noverlap else nperseg / 2)
    require(hop > 0 && hop <= nperseg,
      s"$op: need 0 <= noverlap < nperseg, got noverlap=$noverlap nperseg=$nperseg")
    hop
  }

  /** scipy's per-segment `detrend` for the Welch family: "constant"
    * removes each segment's mean, "none" (or "") leaves it.
    */
  private def demeanOf(op: String, detrend: String): Boolean = detrend match {
    case "constant" => true
    case "none" | "" => false
    case other => throw new IllegalArgumentException(
      s"$op: unsupported detrend '$other' (constant|none)")
  }

  /** scipy.signal.csd lifted onto series: cross power spectral density
    * Pxy of two value columns of the SAME frame (already aligned on
    * `dim` — both samples live on one row, so the alignment is the
    * frame's, not a join's). Same segmentation/scaling as [[welch]];
    * csd(x, x) == welch(x). One seriesify shuffle packs BOTH columns
    * in the same pass (multi-value seriesify), then one kernel call.
    * Output: keys, pos (bin), <newdim>, re, im.
    */
  def csd(df: DataFrame, keys: Seq[String], dim: String, x: String, y: String,
          nperseg: Int, noverlap: Int = -1, window: String = "hann",
          fs: Double = -1.0, newdim: String = "frequency"): DataFrame = {
    val hop = welchHop("csd", nperseg, noverlap)
    val wts = graft.dsp.Resample.periodicWindow(window, nperseg)
    val fsCol = if (fs > 0) lit(fs) else lit(1.0) / col("delta")
    val dCol = if (fs > 0) lit(1.0 / fs) else col("delta")
    val sdf = seriesify(df, keys, dim, Seq(x, y)).filter(col("n") >= nperseg)
    val withOut = sdf
      .withColumn("_sp", csdC(col(x), col(y), nperseg, hop, typedLit(wts), fsCol))
      .withColumn("_freq", rfftfreqC(lit(nperseg), dCol))
    explodeSeries(withOut, keys, Seq(
      newdim -> col("_freq"), "re" -> col("_sp.re"), "im" -> col("_sp.im")))
  }

  /** Two-frame csd: cross power spectral density between value
    * columns of TWO frames sharing the same keys and coordinate axis
    * (two sensors on one clock). The frames align by an inner
    * equi-join on (keys, dim) — sample pairs must share exact
    * coordinates; rows present in only one frame drop (scipy would
    * require equal-length arrays outright). After the join this IS
    * [[csd]]: one seriesify shuffle packs both channels.
    */
  def csdFrames(left: DataFrame, right: DataFrame, keys: Seq[String],
                dim: String, lval: String, rval: String, nperseg: Int,
                noverlap: Int = -1, window: String = "hann",
                fs: Double = -1.0, newdim: String = "frequency"): DataFrame = {
    val l = left.select((keys.map(col) :+ col(dim) :+ col(lval)): _*)
    val r = right.select((keys.map(col) :+ col(dim) :+ col(rval).as("_y2")): _*)
    csd(l.join(r, keys :+ dim), keys, dim, lval, "_y2", nperseg, noverlap,
      window, fs, newdim)
  }

  /** scipy.signal.coherence lifted onto series: magnitude-squared
    * coherence Cxy = |Pxy|²/(Pxx·Pyy) of two value columns over the
    * shared Welch segmentation. One shuffle, one kernel call computing
    * all three spectra from the packed arrays. Output: keys, pos,
    * <newdim>, coh.
    */
  def coherence(df: DataFrame, keys: Seq[String], dim: String, x: String,
                y: String, nperseg: Int, noverlap: Int = -1,
                window: String = "hann", fs: Double = -1.0,
                newdim: String = "frequency"): DataFrame = {
    val hop = welchHop("coherence", nperseg, noverlap)
    val wts = graft.dsp.Resample.periodicWindow(window, nperseg)
    val fsCol = if (fs > 0) lit(fs) else lit(1.0) / col("delta")
    val dCol = if (fs > 0) lit(1.0 / fs) else col("delta")
    val sdf = seriesify(df, keys, dim, Seq(x, y)).filter(col("n") >= nperseg)
    val withOut = sdf
      .withColumn("_coh", coherenceC(col(x), col(y), nperseg, hop, typedLit(wts), fsCol))
      .withColumn("_freq", rfftfreqC(lit(nperseg), dCol))
    explodeSeries(withOut, keys, Seq(
      newdim -> col("_freq"), "coh" -> col("_coh")))
  }

  // ---- peaks (signal.py:330-371) --------------------------------------

  /** peak_widths at rel_height of prominence. Peaks default to the
    * series' interior local maxima (the find_peaks-shaped convenience);
    * output: keys, pos (peak ordinal), peak (sample index), coord of
    * peak, width, width_height, left_ip, right_ip — widths in samples,
    * like scipy.
    */
  def peakWidths(df: DataFrame, keys: Seq[String], dim: String, value: String,
                 relHeight: Double = 0.5, wlen: Int = -1): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    widthsOf(sdf.withColumn("_pk", localMaximaC(col(value))), keys, value,
      relHeight, wlen)
  }

  /** find_peaks-style interior local maxima per series (plateaus
    * report their midpoint, like the kernel) — produces exactly the
    * `peaks` long frame the reference-exact [[peakWidthsAt]] signature
    * consumes. Output: keys, pos (ordinal), peak (sample index).
    */
  def findPeaks(df: DataFrame, keys: Seq[String], dim: String,
                value: String): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    explodeSeries(sdf.withColumn("_pk", localMaximaC(col(value))), keys,
      Seq("peak" -> col("_pk")))
  }

  /** scipy.signal.find_peaks with the height / distance / prominence /
    * width filters (scipy's order: height, then the greedy distance
    * rule, then prominence with optional wlen, then `width` evaluated
    * by peak_widths at `relHeight`). NaN bounds and distance <= 1 mean
    * unfiltered. Output: keys, pos (ordinal), peak (sample index),
    * height (the sample value at the peak). One seriesify shuffle, one
    * kernel call.
    */
  def findPeaks(df: DataFrame, keys: Seq[String], dim: String, value: String,
                height: Double, distance: Int, prominence: Double,
                wlen: Int, widthMin: Double = Double.NaN,
                widthMax: Double = Double.NaN,
                relHeight: Double = 0.5,
                thresholdMin: Double = Double.NaN,
                thresholdMax: Double = Double.NaN,
                plateauMin: Int = -1,
                plateauMax: Int = -1): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withPk = sdf
      .withColumn("_pk", findPeaksFC(col(value), height, distance, prominence,
        wlen, widthMin, widthMax, relHeight, thresholdMin, thresholdMax,
        plateauMin, plateauMax))
      // height looked up map-side from the in-row array — no join
      .withColumn("_ph", expr(s"transform(_pk, p -> element_at($value, p + 1))"))
    explodeSeries(withPk, keys,
      Seq("peak" -> col("_pk"), "height" -> col("_ph")))
  }

  /** peak_widths with caller-provided peak indices (the reference's
    * exact signature, signal.py:331: `peaks` is a labelled array of
    * sample indices per series). `peaks` is a long frame (keys,
    * peakCol int); joined to the series on keys. scipy's passthrough
    * kwargs are honoured: `wlen` bounds the prominence search window,
    * and `prominenceData` — a long frame (keys, peakCol, promCols
    * prominence/left_base/right_base) parallel to `peaks` — skips the
    * prominence computation entirely (scipy's `prominence_data`).
    */
  def peakWidthsAt(df: DataFrame, peaks: DataFrame, keys: Seq[String], dim: String,
                   value: String, peakCol: String = "peak",
                   relHeight: Double = 0.5, wlen: Int = -1,
                   prominenceData: DataFrame = null): DataFrame = {
    val sdf = seriesify(df, keys, dim, Seq(value))
    if (prominenceData == null) {
      val pk = peaks
        .groupBy(keys.map(col): _*)
        .agg(sort_array(collect_list(col(peakCol).cast("int"))).as("_pk"))
      widthsOf(sdf.join(pk, keys), keys, value, relHeight, wlen)
    } else {
      // sort peaks and prominence triples together on the peak index
      // so the arrays stay parallel after collect_list
      val packed = struct(col(peakCol).cast("int").as("p"),
        col("prominence").cast("double").as("pr"),
        col("left_base").cast("int").as("lb"),
        col("right_base").cast("int").as("rb"))
      val pk = prominenceData
        .groupBy(keys.map(col): _*)
        .agg(array_sort(collect_list(packed)).as("_pp"))
        .withColumn("_pk", expr("transform(_pp, s -> s.p)"))
        .withColumn("_prom", expr("transform(_pp, s -> s.pr)"))
        .withColumn("_lb", expr("transform(_pp, s -> s.lb)"))
        .withColumn("_rb", expr("transform(_pp, s -> s.rb)"))
        .drop("_pp")
      val withOut = sdf.join(pk, keys).withColumn("_pw",
        peakWidthsPC(col(value), col("_pk"), lit(relHeight),
          col("_prom"), col("_lb"), col("_rb")))
      explodeWidths(withOut, keys)
    }
  }

  private def widthsOf(sdf: DataFrame, keys: Seq[String], value: String,
                       relHeight: Double, wlen: Int = -1): DataFrame =
    explodeWidths(sdf.withColumn("_pw",
      peakWidthsC(col(value), col("_pk"), relHeight, wlen)), keys)

  private def explodeWidths(withOut: DataFrame, keys: Seq[String]): DataFrame =
    explodeSeries(withOut, keys, Seq(
      "peak" -> col("_pk"),
      "width" -> col("_pw.widths"),
      "width_height" -> col("_pw.width_heights"),
      "left_ip" -> col("_pw.left_ips"),
      "right_ip" -> col("_pw.right_ips")))

  /** scipy.signal.deconvolve: per-series polynomial long division by a
    * literal divisor — quotient (`part = "quot"`, length n−nd+1) or
    * remainder (`part = "rem"`, length n) as a long frame. The filter
    * inverse of [[convolve]]: deconvolve(convolve(x, d), d) == (x, 0).
    */
  def deconvolve(df: DataFrame, keys: Seq[String], dim: String, value: String,
                 divisor: Array[Double], part: String = "quot"): DataFrame = {
    require(part == "quot" || part == "rem", s"deconvolve: part must be quot|rem, got $part")
    val sdf = seriesify(df, keys, dim, Seq(value))
    val withOut = sdf.withColumn("_dc",
      deconvolveC(col(value), typedLit(divisor.toSeq)))
    explodeSeries(withOut, keys, Seq("value" -> col(s"_dc.$part")))
  }

  /** scipy.signal.vectorstrength(events, period): the phase-locking
    * metric over raw event TIMES — strength = |mean e^{2πi·t/T}|,
    * phase = its angle. A plain partial-aggregatable groupBy (sums of
    * cos/sin + count), no seriesify, no kernel: the cheapest operator
    * in the family. The phase argument reduces through exact fmod
    * FIRST so the trig sees a small argument (identical math, and both
    * engines' cos stay within an ulp — epoch-second inputs would
    * otherwise stress large-argument reduction).
    */
  def vectorstrength(df: DataFrame, keys: Seq[String], dim: String,
                     period: Double): DataFrame = {
    require(period > 0.0, s"vectorstrength: period must be positive, got $period")
    val ang = lit(2.0 * math.Pi) * pmod(col(dim).cast("double"), lit(period)) / lit(period)
    val grouped =
      if (keys.isEmpty) df.groupBy() else df.groupBy(keys.map(col): _*)
    grouped
      .agg(sum(cos(ang)).as("_sc"), sum(sin(ang)).as("_ss"),
        count(lit(1)).as("_n"))
      .select((keys.map(col) :+
        (sqrt(col("_sc") * col("_sc") + col("_ss") * col("_ss")) / col("_n"))
          .as("strength") :+
        atan2(col("_ss"), col("_sc")).as("phase")): _*)
  }

  // ---- waveform synthesis (scipy.signal chirp/square/sawtooth) -------
  // Pure codegen'd column expressions over the coordinate — ZERO
  // shuffle, zero kernel calls: the test-tone/carrier generators a
  // pipeline composes with the analysis ops above. Phase arguments use
  // exact IEEE fmod, so the piecewise branches pick the same side on
  // every engine.

  /** scipy.signal.chirp(t, f0, t1, f1, method='linear', phi):
    * cos(2π·(f0·t + (f1−f0)/(2·t1)·t²) + phi·π/180).
    */
  def chirp(df: DataFrame, dim: String, out: String,
            f0: Double, t1: Double, f1: Double, phiDeg: Double = 0.0): DataFrame = {
    require(t1 != 0.0, "chirp: t1 must be nonzero")
    val t = col(dim).cast("double")
    df.withColumn(out, cos(
      lit(2.0 * math.Pi) * (lit(f0) * t +
        lit((f1 - f0) / (2.0 * t1)) * t * t) + lit(math.toRadians(phiDeg))))
  }

  /** scipy.signal.square(t, duty): +1 while the 2π-periodic phase sits
    * in the first `duty` fraction of the cycle, else −1.
    */
  def square(df: DataFrame, dim: String, out: String,
             duty: Double = 0.5): DataFrame = {
    require(duty >= 0.0 && duty <= 1.0, s"square: duty must be in [0,1], got $duty")
    val ph = pmod(col(dim).cast("double"), lit(2.0 * math.Pi))
    df.withColumn(out,
      when(ph < lit(2.0 * math.Pi * duty), lit(1.0)).otherwise(lit(-1.0)))
  }

  /** scipy.signal.sawtooth(t, width): rises −1→1 over the first
    * `width` fraction of each 2π cycle, falls 1→−1 over the rest
    * (width=1 is the pure ramp, width=0.5 a triangle).
    */
  def sawtooth(df: DataFrame, dim: String, out: String,
               width: Double = 1.0): DataFrame = {
    require(width >= 0.0 && width <= 1.0, s"sawtooth: width must be in [0,1], got $width")
    val frac = pmod(col(dim).cast("double"), lit(2.0 * math.Pi)) / lit(2.0 * math.Pi)
    val rise =
      if (width == 0.0) lit(Double.NaN) else lit(-1.0) + lit(2.0) * frac / lit(width)
    val fall =
      if (width == 1.0) lit(Double.NaN)
      else lit(1.0) - lit(2.0) * (frac - lit(width)) / lit(1.0 - width)
    df.withColumn(out, when(frac < lit(width), rise).otherwise(fall))
  }
}
