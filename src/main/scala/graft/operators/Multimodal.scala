package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Functions.dsl._

/** Multimodal columns (SURVEY.md §2.2 op 29): media as opaque binary
  * columns with typed metadata; decode / feature-extract / resize /
  * frame-demux run as Catalyst expressions over the bytes.
  *
  * The image kernels are REAL: `javax.imageio` decode (the PNG/BMP/
  * GIF/JPEG readers ship with the JDK — no external codec), raster
  * block features, nearest-neighbor + Graphics2D-bilinear resize, and
  * concatenated-BMP demux by container parsing (see
  * [[graft.dsp.Image]]). Audio decode (PCM16) is likewise real. The
  * only synthetic piece is the test-data SOURCE: the sandbox has no
  * image table, so [[asImageMedia]] renders documents into real
  * BMP/PNG bytes with an oracle-replayable pixel formula.
  */
object Multimodal {

  /** Wrap a text frame as a media frame: content bytes + typed
    * metadata (the shape a real image/audio table would have).
    */
  def asMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      encode(col(textCol), "UTF-8").as("content"),
      struct(
        length(col(textCol)).as("n_chars"),
        octet_length(encode(col(textCol), "UTF-8")).as("n_bytes"),
        lit("text/plain").as("mime")).as("meta"))

  /** Render a text frame into real image media: `content` holds BMP
    * (our spec-direct writer) or PNG (the JDK encoder) bytes of a
    * w×h gray image whose pixel (x,y) is the codepoint of
    * text[(off + y·w + x) mod len]. Empty texts are dropped (no
    * pixels to render). The deterministic formula is what makes the
    * decode kernels DuckDB-verifiable end-to-end.
    */
  def asImageMedia(df: DataFrame, idCol: String, textCol: String,
                   w: Int, h: Int, format: String = "bmp",
                   off: Int = 0, jpegQuality: Int = 95): DataFrame = {
    val synth = format match {
      case "bmp" => synthBmpC(col(textCol), w, h, off)
      case "png" => synthPngC(col(textCol), w, h, off)
      case "jpeg" => synthJpegC(col(textCol), w, h, off, jpegQuality)
      case other => throw new IllegalArgumentException(
        s"asImageMedia: unsupported format '$other' (bmp|png|jpeg)")
    }
    // spread the CPU-bound render (and the decode kernels consuming it
    // in the same stage)
    graft.Width.spread(df.filter(length(col(textCol)) > 0))
      .select(
        col(idCol).as("media_id"),
        synth.as("content"),
        struct(lit(w).as("width"), lit(h).as("height"),
          lit(s"image/$format").as("mime")).as("meta"))
  }

  /** REAL feature extraction: ImageIO decode + per-block gray sums
    * over a gw×gh grid; decoded geometry rides along as (w, h).
    */
  def imageFeatures(media: DataFrame, gw: Int = 4, gh: Int = 4): DataFrame =
    media.withColumn("_f", imageBlockSumsC(col("content"), gw, gh))
      .withColumn("width", col("_f.w"))
      .withColumn("height", col("_f.h"))
      .withColumn("features", col("_f.sums"))
      .drop("_f")

  /** Batched decode plumbing — the Scala analog of a pandas-UDF /
    * mapInPandas decoder: the partition iterator is re-chunked into
    * `batchSize` groups and the decoder runs once per batch, which is
    * the shape a real codec/JNI/model decoder needs (per-batch
    * initialization amortized; bounded memory per task). The default
    * decoder is the REAL ImageIO block-sum kernel; a deployment passes
    * its own `Seq[bytes] => Seq[features]`.
    */
  def imageFeaturesBatched(
      media: DataFrame, batchSize: Int = 64,
      decode: Seq[Array[Byte]] => Seq[Array[Long]] =
        _.map(b => graft.dsp.Image.blockSums(b, 4, 4)._3)): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("string"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val feats = decode(batch.map(_._2))
          batch.iterator.zip(feats.iterator).map { case ((id, _), f) => (id, f) }
        }
      }
      .toDF("media_id", "features")
  }

  /** Audio frame features over a PCM16-LE binary column: per complete
    * `frameLen`-sample frame, (frame, energy, zero-crossing rate).
    * The decode (bytes → two's-complement samples, minus an optional
    * DC offset `center`) is REAL — PCM needs no codec library — so
    * this path exercises the full decode→feature pipeline the image
    * stubs can only shape.
    */
  def audioFrameFeatures(media: DataFrame, frameLen: Int = 32,
                         center: Int = 0): DataFrame =
    media
      .select(col("media_id"),
        explode(pcmFramesC(col("content"), frameLen, center)).as("f"))
      .select(col("media_id"), col("f.frame").as("frame"),
        col("f.energy").as("energy"), col("f.zcr").as("zcr"))

  /** Per-frame MFCCs over a PCM16-LE binary column — the standard
    * audio-feature representation a training pipeline stores next to
    * (or instead of) raw audio. Entirely composed from shipped
    * kernels (graft.dsp.Mel: Hamming → rfft power → triangular mel
    * filterbank → log → orthonormal Makhoul DCT-II), evaluated as ONE
    * codegen'd map-side expression per recording — zero shuffle, the
    * write-time featurization shape at 100 TB.
    */
  def mfccFeatures(media: DataFrame, frameLen: Int = 32, center: Int = 0,
                   nMels: Int = 8, nCoef: Int = 4,
                   sampleRate: Double = 8000.0): DataFrame =
    media
      .select(col("media_id"),
        explode(mfccFramesC(col("content"), frameLen, center, nMels, nCoef,
          sampleRate)).as("f"))
      .select(col("media_id"), col("f.frame").as("frame"),
        col("f.coefs").as("coefs"))

  /** Voice-activity segmentation over the frame-feature stream: the
    * speech-detection front end of an audio training pipeline (what
    * decides which spans are worth transcribing/storing). A frame is
    * ACTIVE iff its integral energy exceeds `energyThr` (exact long
    * comparison — no float); active runs become segments via
    * gaps-and-islands (frame − row_number is constant within a
    * consecutive run), and runs shorter than `minFrames` are dropped
    * (the debounce that kills single-frame clicks).
    *
    * Scale shape: one hash exchange (the per-media window over active
    * frames — bounded groups, a recording's frame count), then a
    * plain hash agg per island; thresholds are literals; everything
    * upstream is the map-side pcmFrames expression. Deterministic end
    * to end: integral energies, integer frame arithmetic.
    */
  def vadSegments(features: DataFrame, idCol: String, energyThr: Long,
                  minFrames: Int = 2): DataFrame = {
    require(minFrames >= 1, "minFrames must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("frame"))
    features.filter(col("energy") > energyThr)
      .withColumn("_grp", col("frame") - row_number().over(w))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("frame")).as("start_frame"),
        max(col("frame")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("energy")).as("sum_energy"))
      .filter(col("n_frames") >= minFrames)
      .select(col(idCol), col("start_frame"), col("end_frame"),
        col("n_frames"), col("sum_energy"))
  }

  /** REAL resize: ImageIO decode + nearest-neighbor resample to
    * ow×oh (explicit floor index mapping, oracle-replayable);
    * `resized` is the row-major gray values.
    */
  def resize(media: DataFrame, ow: Int, oh: Int): DataFrame =
    media.withColumn("resized", imageResizeNNC(col("content"), ow, oh))

  /** Perceptual difference hash (dHash) per image: NN-resize to
    * (dw+1)×dh gray, one bit per cell for the horizontal gradient
    * direction, emitted as (hi, lo) 32-bit halves — the simhash
    * layout, so image near-dup clustering reuses the SAME downstream
    * machinery as text (hamming pairs, Manku keys, CC clustering).
    * Map-side expression over the binary column, zero shuffle; at
    * 100 TB this is the write-time image fingerprint the dedup pass
    * groups on. NN (not bilinear) keeps every sampled value an exact
    * source pixel, so the oracle replays the hash from the generative
    * pixel formula by integer arithmetic alone.
    */
  def imageDHash(media: DataFrame, dw: Int = 8, dh: Int = 8): DataFrame =
    media.withColumn("_dh", imageDHashC(col("content"), dw, dh))
      .withColumn("phash_hi", col("_dh.hi"))
      .withColumn("phash_lo", col("_dh.lo"))
      .drop("_dh")

  /** REAL smooth resize: ImageIO decode + Graphics2D bilinear,
    * re-encoded PNG (the production thumbnailing path; invariant-
    * tested rather than oracle-replayed — Java2D's sub-pixel phase is
    * implementation-defined).
    */
  def resizeBilinear(media: DataFrame, ow: Int, oh: Int): DataFrame =
    media.withColumn("resized_png", imageResizeBilinearC(col("content"), ow, oh))

  /** REAL frame extraction: demux a concatenated-BMP video column by
    * container parsing (each frame's BMP file-size field), decode
    * every frame, reduce to (w, h, gray pixel sum) structs.
    */
  def sampleFrames(media: DataFrame): DataFrame =
    media.withColumn("frames", imageFramesC(col("content")))
}
