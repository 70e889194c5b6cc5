package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.TopKAgg

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  test("TopKAgg keeps k best with deterministic order and partial merge") {
    val df = (1 to 1000).map(i => ("g" + (i % 3), (i * 37 % 997).toLong, i.toLong))
      .toDF("g", "score", "id").repartition(7) // force multi-partition merge
    val out = df.groupBy("g")
      .agg(TopKAgg.topK(col("score"), col("id"), 5).as("tk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Row](1)).toMap
    for (g <- Seq("g0", "g1", "g2")) {
      val want = (1 to 1000).filter(i => "g" + (i % 3) == g)
        .map(i => ((i * 37 % 997).toLong, i.toLong))
        .sortBy { case (s, id) => (-s, id) }.take(5)
      val got = out(g).map(r => (r.getLong(0), r.getLong(1)))
      assert(got == want, s"group $g")
    }
  }

  test("unicodeTokens: NFC fold, CJK isolation, \\p{L} extraction") {
    graft.functions.Functions.install(spark)
    val composed = "Café crème"            // precomposed é è
    val decomposed = "Café crème"        // e + combining marks
    val df = Seq(
      (1L, composed), (2L, decomposed),
      (3L, "東京郻abcこん"),      // Han Han Han abc Hira Hira
      (4L, "naïve 123 שלום Привет")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextOps.unicodeTokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // NFC: decomposed and composed spellings yield IDENTICAL tokens
    assert(out(1L) == Seq("café", "crème"))
    assert(out(2L) == out(1L))
    // CJK chars isolate to single-char tokens; Latin run survives whole
    assert(out(3L) == Seq("東", "京", "郻", "abc", "こ", "ん"))
    // accented Latin intact, digit runs are tokens (the \w-class
    // convention — round 15 widened \p{L}+ to [\p{L}\p{N}]+ so the
    // dedup path keeps "chapter 1" distinct from "chapter 2"),
    // RTL and Cyrillic lowered/kept
    assert(out(4L) == Seq("naïve", "123", "שלום", "привет"))
  }

  test("uniTokens kernel == the two-regex pipeline it replaced (r17)") {
    graft.functions.Functions.install(spark)
    // the ORIGINAL r15 pipeline, verbatim — the kernel's contract
    def regexPath(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val norm = lower(graft.functions.Functions.dsl.nfcC(text))
      val padded = regexp_replace(norm,
        "([\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}])", " $1 ")
      regexp_extract_all(padded, lit("[\\p{L}\\p{N}]+"), lit(0))
    }
    val adversarial = Seq(
      "", " ", "\t\n", "a", "漢", "abc漢def", "漢字かなカナ",
      "Café crème",                       // decomposed combining marks
      "ＡＢＣ１２３",                       // fullwidth (Common script, L/N)
      "ー",                                // U+30FC: script Common, Lm
      "カーナビ",                           // Katakana + prolonged mark
      "x² + Ⅻ = ½",                       // No, Nl, No number categories
      "naïve mixed spaces",      // exotic whitespace
      "emoji 😀 splits", "🇯🇵 flags",       // supplementary plane, So
      "under_score-dash.dot",
      "русский ΚΕΊΜΕΝΟ عربى עברית हिन्दी",  // incl. Greek final-sigma lowering
      "ạ̃ double-combining", "ᛒᚢᚾᛖ runic",
      "ligature ﬁne ß ss")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val df = (adversarial ++ docs).toDF("doc_id", "text")
    val diff = df.select(col("doc_id"),
        TextOps.unicodeTokens(col("text")).as("k"),
        regexPath(col("text")).as("r"))
      .filter(col("k") =!= col("r"))
      .collect()
    assert(diff.isEmpty, s"kernel/regex divergence on: " +
      diff.take(3).map(r => s"${r.getLong(0)}: ${r.getSeq[String](1)} vs ${r.getSeq[String](2)}").mkString("; "))
  }

  test("simhash: identical docs collide, near-dups are close, disjoint far") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base.replace("dog", "cat")
    val far = "completely different words describing nothing alike whatsoever here"
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("doc_id", "text")
    val sig = Dedup.simhashFrame(df, "doc_id", "text")
      .select("doc_id", "sim_hi", "sim_lo").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sig(1L) == sig(2L))
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    assert(ham(sig(1L), sig(3L)) < ham(sig(1L), sig(4L)))
    assert(ham(sig(1L), sig(3L)) <= 16)
  }

  test("winnow fingerprints: containment for shared content, short-text empty") {
    import graft.functions.Bridge
    import org.apache.spark.unsafe.types.UTF8String
    def fps(s: String): Set[Long] =
      Bridge.winnow(UTF8String.fromString(s), 8, 4, 31, 1000000007L)
        .toLongArray().toSet
    val a = fps("shared middle segment of text plus unique head")
    val b = fps("other prefix then shared middle segment of text")
    assert(a.intersect(b).nonEmpty) // shared substring → shared fingerprints
    assert(fps("short") == Set.empty[Long])
    assert(fps("exactly8") == fps("exactly8"))
  }

  test("exact dedup maps duplicates to min id") {
    val df = Seq((10L, "A  b C"), (11L, "a b c"), (12L, "different")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text")
      .select("doc_id", "canonical_id", "is_dup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(out.toSeq == Seq((10L, 10L, 0), (11L, 10L, 1), (12L, 12L, 0)))
  }

  test("minhash LSH maxBucket cap drops degenerate buckets and rejects unsafe caps") {
    // 6 identical docs collapse to one bucket per band; with
    // maxBucket=4 every bucket exceeds the cap, so candidate emission
    // yields nothing — the fully-connected cluster is exact-dedup's
    // job (the documented contract), not a crash or a partial pairing
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val dup = (1L to 6L).map(i => (i, text)).toDF("doc_id", "text")
    assert(Dedup.minhashCandidates(dup, "doc_id", "text", maxBucket = 4).count() == 0)
    // cap above the pair kernel's emission limit fails at plan time
    val ex = intercept[IllegalArgumentException] {
      Dedup.minhashCandidates(dup, "doc_id", "text", maxBucket = 10000)
    }
    assert(ex.getMessage.contains("maxBucket"))
  }

  test("minhash LSH finds a planted near-duplicate") {
    val words = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = ((1 to 59).map(i => s"w$i") :+ "changed").mkString(" ")
    val other = (100 to 160).map(i => s"x$i").mkString(" ")
    val df = Seq((1L, words), (2L, near), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    val jac = Dedup.ngramJaccard(df, "doc_id", "text", minJac = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(jac((1L, 2L)) - 57.0 / 59.0) < 1e-12) // 58 shingles, 57 shared
  }

  test("encodeJpeg: real lossy round-trip, dHash stays near, severity ordered") {
    import graft.dsp.Image
    val text = "The quick brown fox jumps over the lazy dog 0123456789"
    val img = Image.synthGray(text, 16, 16, 0)
    val (bh, bl) = Image.dHash(Image.encodeBmp24(img))
    def ham(q: Int): Int = {
      val bytes = Image.encodeJpeg(img, q)
      // it IS a JPEG container (FF D8 SOI) decoding at the same geometry
      assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
      val dec = Image.decode(bytes)
      assert(dec.getWidth == 16 && dec.getHeight == 16)
      val (jh, jl) = Image.dHash(bytes)
      java.lang.Long.bitCount(bh ^ jh) + java.lang.Long.bitCount(bl ^ jl)
    }
    // q=100 is near-lossless for gray; heavier compression drifts
    // farther, but a perceptual hash stays FAR from the 32-bit
    // expectation of an unrelated image
    assert(ham(100) <= 3)
    assert(ham(95) <= 12)
    assert(ham(75) <= 26)
  }

  test("image kernels: BMP/PNG round-trip is bit-exact, demux + resize real") {
    import graft.dsp.Image
    val text = "The quick brown fox jumps over the lazy dog 0123456789"
    val img = Image.synthGray(text, 16, 16, 0)
    // both encoders decode back to the same raster the formula built
    for (bytes <- Seq(Image.encodeBmp24(img), Image.encodePng(img))) {
      val dec = Image.decode(bytes)
      assert(dec.getWidth == 16 && dec.getHeight == 16)
      for (y <- 0 until 16; x <- 0 until 16)
        assert(Image.resizeNN(bytes, 16, 16)(y * 16 + x) ==
          text.charAt((y * 16 + x) % text.length).toInt)
    }
    // block sums equal the formula's per-block codepoint sums
    val (w, h, sums) = Image.blockSums(Image.encodeBmp24(img), 4, 4)
    assert(w == 16 && h == 16 && sums.length == 16)
    val want = Array.tabulate(16) { blk =>
      val (by, bx) = (blk / 4, blk % 4)
      (for (y <- by * 4 until by * 4 + 4; x <- bx * 4 until bx * 4 + 4)
        yield text.charAt((y * 16 + x) % text.length).toLong).sum
    }
    assert(sums.toSeq == want.toSeq)
    // demux: three concatenated BMPs come back as three decoded frames
    val vid = Image.encodeBmp24(Image.synthGray(text, 8, 8, 0)) ++
      Image.encodeBmp24(Image.synthGray(text, 8, 8, 64)) ++
      Image.encodeBmp24(Image.synthGray(text, 8, 8, 128))
    val fr = Image.frames(vid)
    assert(fr.length == 3 && fr.forall(f => f._1 == 8 && f._2 == 8))
    assert(fr(1)._3 ==
      (0 until 64).map(p => text.charAt((64 + p) % text.length).toLong).sum)
    // malformed stream fails fast instead of silently truncating
    assertThrows[IllegalArgumentException](Image.frames(vid.dropRight(3)))
    // bilinear resize invariants: dims, range, constant fixed point
    val const = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 16) const.getRaster.setSample(x, y, 0, 77)
    val bi = Image.resizeBilinear(Image.encodePng(const), 7, 5)
    assert(bi.getWidth == 7 && bi.getHeight == 5)
    for (y <- 0 until 5; x <- 0 until 7)
      assert(bi.getRaster.getSample(x, y, 0) == 77)
  }

  test("pcmFrames decodes PCM16-LE and counts energy + zero crossings") {
    import graft.functions.Bridge
    // 4 samples, frameLen 2 → 2 frames; values chosen so centered
    // samples are (+1, -1, +2, +2): le16(16385)=0x01,0x40 → +1;
    // le16(16383)=0xff,0x3f → -1; le16(16386) → +2
    def le16(v: Int): Seq[Byte] = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val bytes = (le16(16385) ++ le16(16383) ++ le16(16386) ++ le16(16386)).toArray
    val frames = Bridge.pcmFrames(bytes, 2, 16384)
    assert(frames.numElements() == 2)
    val f0 = frames.getStruct(0, 3); val f1 = frames.getStruct(1, 3)
    assert(f0.getInt(0) == 0 && f0.getLong(1) == 2L && f0.getInt(2) == 1) // +1,-1: flip
    assert(f1.getInt(0) == 1 && f1.getLong(1) == 8L && f1.getInt(2) == 0) // +2,+2
    // trailing partial frame (and odd byte) dropped
    assert(Bridge.pcmFrames(bytes :+ 0x41.toByte, 2, 16384).numElements() == 2)
    assert(Bridge.pcmFrames(Array.emptyByteArray, 2, 0).numElements() == 0)
    // true two's-complement: 0x8000 = -32768, 0x7fff = 32767 (center 0)
    val fullScale = (le16(0x8000) ++ le16(0x7fff)).toArray
    val fs = Bridge.pcmFrames(fullScale, 2, 0).getStruct(0, 3)
    assert(fs.getLong(1) == 32768L * 32768L + 32767L * 32767L)
    assert(fs.getInt(2) == 1) // -32768 -> +32767 crosses zero
  }

  test("dupClusters labels chains and cycles with the component minimum") {
    // components: {1,2,3,9} (chain + cycle edge), {5,6}, singletons absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (9L, 1L), (5L, 6L)).toDF("a", "b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("dupClusters does not converge early on split 2-level states") {
    // Advisor counterexample: pairs {(3,1),(4,3),(5,2),(5,4)} reach a
    // state after one star round where no node is both edge source and
    // target, yet node 3 points at two distinct roots (1 and 2) and
    // the single component {1..5} would be split. The convergence test
    // must also demand one distinct target per source.
    val pairs = Seq((3L, 1L), (4L, 3L), (5L, 2L), (5L, 4L)).toDF("a", "b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 5, s"one row per node, got $got")
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L), s"$got")
  }

  test("dupClusters matches union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val nNodes = 40
      val edges = Seq.fill(30)((rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find oracle
      val parent = Array.tabulate(nNodes)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = touched.map(n => n -> find(n.toInt).toLong).toMap
      val got = Dedup.dupClusters(edges.toDF("a", "b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: got $got want $want")
    }
  }

  test("dupClusters fails loudly when maxIters ends before the star fixpoint") {
    // a 12-node path needs several star rounds; one round cannot reach
    // the fixpoint, and the result must not be over-split clusters
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](Dedup.dupClusters(pairs, maxIters = 1))
    assert(e.getMessage.contains("after 1 rounds") && e.getMessage.contains("unconverged"),
      e.getMessage)
    val got = Dedup.dupClusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 12L).map(_ -> 1L).toMap)
  }

  test("batched media decode equals the per-row expression path") {
    val media = Multimodal.asImageMedia(
      Seq((1L, "hello world"), (2L, "abc"), (3L, "xyz" * 40)).toDF("doc_id", "text"),
      "doc_id", "text", w = 16, h = 16, format = "bmp")
    val perRow = Multimodal.imageFeatures(media)
      .select($"media_id".cast("string"), $"features").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // default decoder = the same REAL ImageIO block-sum kernel
    val batched = Multimodal.imageFeaturesBatched(media, batchSize = 2)
    val got = batched.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got == perRow)
  }

  test("ANN brute force matches a local computation") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 50L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Ann.topkBruteForce(df, df.filter($"vec_id" < 2), "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    for (q <- 0L until 2L) {
      val qv = vecs(q.toInt)._2
      val want = vecs.filter(_._1 != q)
        .map { case (i, v) => (math.floor(cos(qv, v) * 1e6 + 0.5).toLong, i) }
        .sortBy { case (s, i) => (-s, i) }.take(4).map(_._2)
      val got = out.filter(_._1 == q).sortBy(_._2).map(_._3)
      assert(got == want, s"query $q")
    }
  }

  test("IVF with full probing equals brute force; partial probing is a subset") {
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 40L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 3)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val bf = rows(Ann.topkBruteForce(df, q, "vec_id", "embedding", 4))
    val full = rows(Ann.topkIvf(df, q, "vec_id", "embedding", 4,
      nCentroids = Some(4), nProbe = 4))
    assert(full == bf)
    // probing fewer cells returns ranked results drawn from the probed subset
    val part = Ann.topkIvf(df, q, "vec_id", "embedding", 4, nCentroids = Some(4), nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val bfScores = bf.map(t => (t._1, t._3) -> t._4).toMap
    assert(part.nonEmpty)
    part.foreach { case (qid, nid, score) =>
      // any (query, neighbor) also present in brute force must agree on score
      bfScores.get((qid, nid)).foreach(s => assert(s == score))
    }
  }

  test("sizedCells: sqrt-n rule with kMin floor and n cap (oracle GREATEST/CEIL/SQRT parity)") {
    // the floor: tiny corpora keep kMin cells (capped at n so
    // kmeansFit's smallest-id init stays satisfiable)
    assert(Ann.sizedCells(1) == 1)
    assert(Ann.sizedCells(10) == 10)
    assert(Ann.sizedCells(16) == 16)
    assert(Ann.sizedCells(200) == 16)   // ceil(sqrt(200))=15 < 16
    assert(Ann.sizedCells(256) == 16)   // exact square at the floor
    assert(Ann.sizedCells(257) == 17)   // first n where sqrt wins
    assert(Ann.sizedCells(500) == 23)   // the sf0.01 embeddings corpus
    assert(Ann.sizedCells(2000) == 45)  // sf0.1
    assert(Ann.sizedCells(20000) == 142) // the x100 graph-node corpus
    assert(Ann.sizedCells(50, kMin = 16) == 16)
    intercept[IllegalArgumentException](Ann.sizedCells(0))
  }

  test("kmeansFit: deterministic quantized unit centroids that separate planted clusters") {
    // three tight direction-clusters in 8-d: members of cluster c point
    // near axis c with small deterministic jitter
    val vecs = (0L until 30L).map { i =>
      val c = (i % 3).toInt
      val v = Array.tabulate(8)(d =>
        (if (d == c) 10f else 0f) + ((i * 8 + d) % 7).toFloat * 0.1f)
      (i, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val fit1 = Ann.kmeansFit(df, "vec_id", "embedding", k = 3, iters = 2)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val fit2 = Ann.kmeansFit(df, "vec_id", "embedding", k = 3, iters = 2)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    assert(fit1.map(_._1).toSeq == Seq(0, 1, 2))
    // run-to-run determinism (the 1e-6 grid absorbs partial-agg order)
    assert(fit1.zip(fit2).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    fit1.foreach { case (_, cv) =>
      // every component sits on the 1e-6 grid
      cv.foreach(x => assert(x == math.floor(x * 1e6 + 0.5) / 1e6))
      // unit norm up to quantization error (64 components × 5e-7)
      assert(math.abs(math.sqrt(cv.map(x => x * x).sum) - 1.0) < 1e-4)
    }
    // after 2 iterations each centroid is dominated by one distinct axis
    val axes = fit1.map { case (_, cv) => cv.indexOf(cv.max) }.toSet
    assert(axes == Set(0, 1, 2))
    // the fitted centroids drive assignment: members co-locate by cluster
    val cells = Ann.assignCells(df, Ann.kmeansFit(df, "vec_id", "embedding", 3, 2),
      "vec_id", "embedding")
      .collect().map(r => (r.getLong(0) % 3, r.getInt(2))).toSeq
    assert(cells.groupBy(_._1).values.forall(g => g.map(_._2).distinct.size == 1))
    assert(cells.map(_._2).distinct.size == 3)
  }

  test("trained IVF probing every cell equals brute force") {
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 40L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 3)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val cents = Ann.kmeansFit(df, "vec_id", "embedding", k = 4, iters = 2)
    val trained = rows(Ann.topkIvf(df, q, "vec_id", "embedding", 4,
      nProbe = 4, centroids = Some(cents)))
    assert(trained == rows(Ann.topkBruteForce(df, q, "vec_id", "embedding", 4)))
  }

  test("kmeansFit: empty cells keep their previous centroid") {
    // two identical far-out vectors + duplicates of one direction: with
    // k=3 and smallest-id init, at least one init cell captures nothing
    val vecs = Seq(
      (0L, Array.fill(4)(1f)), (1L, Array.fill(4)(1f)), (2L, Array.fill(4)(1f)),
      (3L, Array.fill(4)(1f)), (4L, Array.fill(4)(1f)))
    val df = vecs.toDF("vec_id", "embedding")
    // all vectors identical → cells 1 and 2 capture nothing after the
    // smallest-cell tie-break sends everything to cell 0
    val fit = Ann.kmeansFit(df, "vec_id", "embedding", k = 3, iters = 2)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val unit = Array.fill(4)(math.floor(0.5 * 1e6 + 0.5) / 1e6)
    fit.foreach { case (_, cv) => assert(cv.sameElements(unit)) }
  }

  test("IVF with caller-supplied centroids matches the stand-in quantizer") {
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 40L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 3)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    // passing the stand-in's own centroid vectors explicitly must give
    // the identical result — proves the parameter drives the quantizer
    val sameCents = df.filter($"vec_id" < 4)
    val standIn = rows(Ann.topkIvf(df, q, "vec_id", "embedding", 4,
      nCentroids = Some(4), nProbe = 2))
    val explicit = rows(Ann.topkIvf(df, q, "vec_id", "embedding", 4,
      nProbe = 2, centroids = Some(sameCents)))
    assert(explicit == standIn)
    // a DIFFERENT (trained-elsewhere) centroid set still produces a
    // structurally valid ranked result whose every score is the exact
    // cosine (computed directly — a top-k-map lookup would silently
    // skip neighbors outside the brute-force top-4 and check nothing)
    val trained = vecs.filter(v => v._1 % 10 == 5)
      .map { case (i, v) => (i / 10, v) }.toDF("vec_id", "embedding")
    val out = Ann.topkIvf(df, q, "vec_id", "embedding", 4,
      nProbe = 4, centroids = Some(trained))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val vecMap = vecs.toMap
    out.foreach { case (qid, nid, score) =>
      val want = math.floor(cos(vecMap(qid), vecMap(nid)) * 1e6 + 0.5).toLong
      assert(score == want, s"($qid, $nid)")
    }
  }

  test("BPE kernel: greedy overlap, composite merges, encode = iterated merges") {
    import graft.dsp.Bpe
    // self-pair run: greedy merges (0,1) then (2,3)... — "aaa" -> [aa, a]
    assert(Bpe.applyMerge(Array("a", "a", "a"), "a", "a").toSeq === Seq("aa", "a"))
    assert(Bpe.applyMerge(Array("a", "a", "a", "a"), "a", "a").toSeq === Seq("aa", "aa"))
    // distinct pair: all occurrences merge in one pass
    assert(Bpe.applyMerge(Array("a", "b", "a", "b"), "a", "b").toSeq === Seq("ab", "ab"))
    // no occurrence: unchanged
    assert(Bpe.applyMerge(Array("x", "y"), "a", "b").toSeq === Seq("x", "y"))
    // composite merge uses symbols produced by an earlier merge
    assert(Bpe.encode("parse",
      Array("a", "p"), Array("r", "ar")).toSeq === Seq("par", "s", "e"))
    // single char / empty word
    assert(Bpe.encode("a", Array("a"), Array("a")).toSeq === Seq("a"))
    assert(Bpe.encode("", Array("a"), Array("a")).toSeq === Seq.empty)
  }

  test("byte-level BPE: multi-byte scripts merge; roundtrip is byte-exact") {
    import graft.operators.TextOps
    import graft.dsp.Bpe
    // kernel: greedy overlap convention over bytes (x x x merges 1st pair)
    val x = Array('x'.toByte)
    assert(Bpe.applyMergeB(Array(x, x, x), x, x).map(_.toSeq).toSeq ===
      Seq(Seq('x'.toByte, 'x'.toByte), Seq('x'.toByte)))
    // CJK: 東 = E6 9D B1 (3 bytes) — merges inside the character
    val docs = Seq(
      (0L, "東京 東京 東京 x7!"),
      (1L, "東京 naïve 42")).toDF("doc_id", "text")
    val merges = TextOps.bpeTrainBytes(docs, "text", 4)
    // the most frequent adjacent byte pair lives inside 東京 (4 occurrences
    // of the word across both docs; every other pair is rarer)
    assert(merges(0)._3 === 4L)
    // roundtrip: digits, punctuation, CJK, accents — all reproduce
    val rt = TextOps.bpeBytesRoundtrip(docs, "text",
      merges.map(m => (m._1, m._2)))
      .select(col("doc_id"), col("decoded"),
        regexp_replace(col("text"), "\\s+", "").as("ref"))
      .collect()
    rt.foreach(r => assert(r.getString(1) === r.getString(2),
      s"roundtrip drift on doc ${r.getLong(0)}"))
    // the [a-z]+ char-level pipeline provably loses this content: its
    // training regex admits nothing from these documents except "nave"
    val charStream = docs.select(
      expr("array_join(regexp_extract_all(lower(text), '[a-z]+', 0), '')"))
      .collect().map(_.getString(0)).mkString
    assert(!charStream.contains("東") && !charStream.contains("7"))
  }

  test("byte BPE: driver fast path and distributed loop produce IDENTICAL merges") {
    import graft.operators.TextOps
    // corpus engineered with count TIES (the tie-break — count desc,
    // then unsigned-byte memcmp on l then r — must agree between the
    // in-memory argmax and Spark's BinaryType ordering) and high
    // (>0x7F) bytes, where a SIGNED compare would order differently
    val docs = Seq(
      (0L, "東京 東京 abc abd abe ÿþ ÿþ"),
      (1L, "xy xy xz zz zz qq qq"),
      (2L, "mnop mnop abc xy zz ÿþ")).toDF("doc_id", "text")
    val local = TextOps.bpeTrainBytes(docs, "text", 10) // tiny vocab -> driver path
    val dist = graft.Local.withBudget(0L)(TextOps.bpeTrainBytes(docs, "text", 10))
    assert(local.length === dist.length)
    local.zip(dist).zipWithIndex.foreach {
      case (((ll, lr, lc), (dl, dr, dc)), i) =>
        assert(ll.toSeq === dl.toSeq && lr.toSeq === dr.toSeq && lc === dc,
          s"merge $i drifted between the driver and distributed paths")
    }
  }

  test("char BPE: driver fast path and distributed loop produce IDENTICAL merges") {
    import graft.operators.TextOps
    // ASCII corpus engineered with count ties: the tie-break (count
    // desc, then l, then r) must agree between the driver argmax and
    // Spark's string ordering
    val docs = Seq(
      (0L, "abc abd abe xy xy mnop mnop theme"),
      (1L, "xy xz zz zz qq qq The"),
      (2L, "mnop abc xy zz the THESIS")).toDF("doc_id", "text")
    val local = TextOps.bpeTrain(docs, "text", 10)
    val dist = graft.Local.withBudget(0L)(TextOps.bpeTrain(docs, "text", 10))
    assert(local.toSeq === dist.toSeq)
  }

  test("char BPE: the distributed loop's per-merge argmax plans stay constant-depth") {
    import graft.operators.TextOps
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.graftshim.BusInternals
    import org.apache.spark.sql.util.QueryExecutionListener
    val docs = Seq(
      (0L, "the theme thesis mnop abc abd"),
      (1L, "xy xz zz qq ababab mnop")).toDF("doc_id", "text")
    // analyzed-plan node count of every argmax collect, in order
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "collect" && qe.analyzed.find(_.isInstanceOf[Sort]).isDefined)
          sizes.add(qe.analyzed.collect { case p => p }.length)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      graft.Local.withBudget(0L)(TextOps.bpeTrain(docs, "text", 10))
      BusInternals.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    val seen = sizes.asScala.toSeq
    assert(seen.length == 10, seen)
    assert(seen.drop(1).distinct.length == 1,
      s"argmax plans deepen per merge: ${seen.mkString(", ")}")
  }

  test("char BPE over the [a-z]+ words equals byte BPE over the same words") {
    import graft.operators.TextOps
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val chars = TextOps.bpeTrain(docs, "text", 8)
    val words = docs.select(expr(
      "array_join(regexp_extract_all(lower(text), '[a-z]+', 0), ' ')").as("text"))
    val bytes = TextOps.bpeTrainBytes(words, "text", 8).map { case (l, r, c) =>
      (new String(l, "US-ASCII"), new String(r, "US-ASCII"), c)
    }
    assert(chars.toSeq === bytes.toSeq)
  }

  test("unigramTrain caps the collected vocabulary at the MOST FREQUENT types") {
    import graft.operators.TextOps
    // 1 head type ('common', count 100) + 50 singleton tail types:
    // maxTypes=1 must train on the head alone — the open-vocabulary
    // guard that keeps the collect bounded at 100 TB
    val docs = (1 to 50).map(i => (i.toLong, s"common common rare$i"))
      .toDF("doc_id", "text")
    val m = TextOps.unigramTrain(docs, "text", maxLen = 3,
      seedDivisor = 4L, keepMulti = 4, maxTypes = 1)
    val headChars = "common".toSet
    assert(m.pieces.nonEmpty &&
      m.pieces.forall(_._1.forall(headChars)),
      s"tail types leaked into the capped fit: ${m.pieces.map(_._1).mkString(",")}")
    // determinism across runs of the capped path
    val m2 = TextOps.unigramTrain(docs, "text", maxLen = 3,
      seedDivisor = 4L, keepMulti = 4, maxTypes = 1)
    assert(m.pieces.toSeq == m2.pieces.toSeq)
  }

  test("unigramTrainLarge: soft-EM prunes to the exact target, stays monotone, roundtrips") {
    import graft.operators.TextOps
    // compound words over a small base lexicon — enough multi-char
    // substring candidates for an iterative prune to 8 pieces
    val base = Seq("key", "row", "agg", "scan", "sort", "join")
    val docs = (0 until 60).map { i =>
      val w = (0 until 6).map(j => base((i + j) % 6) + base((i + 2 * j + 1) % 6))
      (i.toLong, w.mkString(" "))
    }.toDF("doc_id", "text")
    val fit = TextOps.unigramTrainLarge(docs, "text", maxLen = 6,
      seedSize = 64, targetMulti = 8, shrinkKeep = 0.75, finalRounds = 2)
    assert(fit.pieces.count(_._1.length > 1) == 8,
      s"vocab: ${fit.pieces.map(_._1).mkString(",")}")
    assert(fit.monotoneOk, s"stats: ${fit.stats.mkString("; ")}")
    // every corpus char survives as a single-char piece (coverage)
    val chars = base.flatMap(_.toCharArray).map(_.toString).distinct
    val pieceSet = fit.pieces.map(_._1).toSet
    chars.foreach(c => assert(pieceSet(c), s"char '$c' pruned"))
    // the shrink schedule actually iterated (not a single jump)
    assert(fit.stats.count(_.vocabChanged) >= 2, fit.stats.mkString("; "))
    // map-side encode under the fit roundtrips every doc
    val rt = TextOps.unigramEncode(docs, "text", fit.pieces)
      .select((array_join(col("unigram_tokens"), "") ===
        regexp_replace(col("text"), "\\s+", "")).as("ok"))
      .collect().map(_.getBoolean(0))
    assert(rt.forall(identity))
    // bit determinism across refits
    val fit2 = TextOps.unigramTrainLarge(docs, "text", maxLen = 6,
      seedSize = 64, targetMulti = 8, shrinkKeep = 0.75, finalRounds = 2)
    assert(fit.pieces.toSeq == fit2.pieces.toSeq)
    assert(fit.stats.toSeq == fit2.stats.toSeq)
  }

  test("unigramTrainLarge: the executor treeReduce combine equals the driver combine") {
    import graft.operators.TextOps
    val base = Seq("key", "row", "agg", "scan", "sort", "join")
    val docs = (0 until 60).map { i =>
      val w = (0 until 6).map(j => base((i + j) % 6) + base((i + 2 * j + 1) % 6))
      (i.toLong, w.mkString(" "))
    }.toDF("doc_id", "text")
    def fit() = TextOps.unigramTrainLarge(docs, "text", maxLen = 6,
      seedSize = 64, targetMulti = 8, shrinkKeep = 0.75, finalRounds = 2)
    val flat = fit()
    val tree = graft.Local.withBudget(0L)(fit())
    assert(tree.pieces.toSeq == flat.pieces.toSeq)
    assert(tree.stats.toSeq == flat.stats.toSeq)
    assert(tree.totalWords == flat.totalWords)
  }

  test("unigramTrainLarge guards: unreachable target and non-BMP corpora are loud") {
    import graft.operators.TextOps
    val tiny = Seq((0L, "ab ab ab")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException](
      TextOps.unigramTrainLarge(tiny, "text", maxLen = 3,
        seedSize = 64, targetMulti = 32))
    assert(ex.getMessage.contains("unreachable"))
    val emoji = Seq((0L, "a😀b ab")).toDF("doc_id", "text")
    val ex2 = intercept[Exception](
      TextOps.unigramTrainLarge(emoji, "text", maxLen = 3,
        seedSize = 4, targetMulti = 1))
    assert(ex2.getMessage.contains("non-BMP"))
  }

  test("bpeTrain learns the most frequent pair first; encode counts match") {
    import graft.operators.TextOps
    val docs = Seq(
      (0L, "the theme the"),
      (1L, "theme thesis the"),
      (2L, "ababab zz")).toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(docs, "text", 2)
    // 'th' and 'he' both occur 6 times ('e'+'m' twice, 'a'+'b' 3x);
    // ties resolve lexicographically -> (h,e) first, then (t,he)
    assert(merges(0)._1 === "h" && merges(0)._2 === "e" && merges(0)._3 === 6L)
    assert(merges(1)._1 === "t" && merges(1)._2 === "he" && merges(1)._3 === 6L)
    val counts = TextOps.bpeEncodeCounts(docs, "text", "doc_id",
      merges.map(m => (m._1, m._2)))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // doc 0: the=1, theme=3 (the,m,e), the=1 -> 5 tokens over 3 words
    assert(counts(0) === ((0L, 3, 5)))
    // doc 1: theme=3, thesis=4 (the,s,i,s), the=1 -> 8
    assert(counts(1) === ((1L, 3, 8)))
    // doc 2: ababab=6 chars unmerged, zz=2 -> 8
    assert(counts(2) === ((2L, 2, 8)))
    // vocab ids: base chars 0-25, merges 26+; duplicate strings keep
    // the lowest id
    val vocab = TextOps.bpeVocab(Array(("h", "e"), ("t", "he")))
    assert(vocab("a") === 0 && vocab("z") === 25)
    assert(vocab("he") === 26 && vocab("the") === 27)
    assert(TextOps.bpeVocab(Array(("a", "b"), ("a", "b")))("ab") === 26)
    val ids = TextOps.bpeEncodeIds(
      Seq((7L, "The theme")).toDF("doc_id", "text"), "text", "doc_id",
      Array(("h", "e"), ("t", "he")))
      .orderBy("pos").collect().map(r => (r.getInt(1), r.getInt(2)))
    // "the theme" -> [the] [the, m, e] -> ids 27, 27, 12, 4
    assert(ids.toSeq === Seq((0, 27), (1, 27), (2, 12), (3, 4)))
  }

  test("langid scores and quality are deterministic and sane") {
    val df = Seq((1L, "the cat and the dog is in a house"),
      (2L, "der hund und die katze ist da"),
      (3L, "xyzzy 42 12345 qwerty")).toDF("doc_id", "text")
    val lid = TextOps.langidFrame(df, "text").select("doc_id", "pred_lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lid(1L) == "en" && lid(2L) == "de")
    // zero stopword hits in every language => undetermined, NOT the
    // alphabetically first language
    assert(lid(3L) == "und")
    val q = TextOps.qualityFrame(df, "text").select("doc_id", "quality")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q.values.forall(v => v >= 0 && v <= 1))
  }

  test("words() ignores leading/trailing whitespace (no empty tokens)") {
    val df = Seq((1L, "hello world foo"), (2L, "\n\n  hello world foo \t"))
      .toDF("doc_id", "text")
    // identical shingle sets => minhash candidates treat them as dups
    val sh = Dedup.shingleFrame(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byDoc = sh.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc(1L) == byDoc(2L))
    assert(byDoc(1L) == Set("hello world foo"))
  }

  private def sampleCorpus = (1 to 400)
    .map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
    .toDF("doc_id", "stratum")

  test("sampleByRates: deterministic, stratum-scoped, and nested by rate") {
    val df = sampleCorpus
    def kept(rates: Seq[(String, Double)]): Set[Long] =
      TextOps.sampleByRates(df, "doc_id", "stratum", rates)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept(Seq("a" -> 1.0, "b" -> 1.0)).size == 400)
    assert(kept(Seq("a" -> 0.0)) == (1 to 400).filter(_ % 2 == 1).map(_.toLong).toSet)
    // hash-threshold sampling is NESTED: raising a rate only adds docs
    // (the property that keeps incrementally re-run pipelines stable)
    val k3 = kept(Seq("a" -> 0.3)); val k6 = kept(Seq("a" -> 0.6))
    assert(k3.subsetOf(k6))
    assert(k3.size < k6.size && k6.size < 400)
    // rates only touch their own stratum
    assert(k3.count(_ % 2 == 1) == 200)
    // deterministic across runs
    assert(kept(Seq("a" -> 0.3)) == k3)
  }

  test("quotaSample matches row_number-over-hash reference, multi-partition") {
    val df = sampleCorpus.repartition(7) // force partial-agg merges
    val got = TextOps.quotaSample(df, "doc_id", "stratum", n = 15)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    // reference ranking: same salted hash computed via Spark SQL,
    // sorted (hash, id) in plain Scala
    val hv = sampleCorpus.selectExpr("stratum", "doc_id",
      "cast(conv(substring(md5(concat('quota|', cast(doc_id as string))), 1, 15), 16, 10) as long) as h")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = hv.groupBy(_._1).toSeq.flatMap { case (st, rows) =>
      rows.sortBy(t => (t._3, t._2)).take(15).zipWithIndex
        .map { case ((_, id, _), i) => (st, i + 1, id) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want)
    // quota larger than the stratum returns the whole stratum, ranked
    val tiny = Seq((1L, "x"), (2L, "x")).toDF("doc_id", "stratum")
    val all = TextOps.quotaSample(tiny, "doc_id", "stratum", n = 10)
      .collect().map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(all.map(_._2).toSet == Set(1L, 2L) && all.map(_._1).toSeq == Seq(1, 2))
  }

  test("asofJoin: latest at-or-before match, strict <, atomic payload, null before first") {
    val left = Seq((1L, 1.0, "a"), (1L, 5.0, "b"), (1L, 10.0, "c"), (2L, 3.0, "d"))
      .toDF("k", "t", "lv")
    val right = Seq((1L, 5.0, "s5", 50L), (1L, 8.0, "s8", 80L))
      .toDF("k", "t", "snap", "sid")
    def rows(strict: Boolean) =
      AsOf.asofJoin(left, right, Seq("k"), "t", Seq("snap", "sid"), strict)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
          Option(r.getString(3)), if (r.isNullAt(4)) -1L else r.getLong(4)))
        .sortBy(x => (x._1, x._2)).toSeq
    // <=: the t=5 left row SEES the t=5 snapshot; payload columns come
    // from the same right row (snap and sid always pair up)
    assert(rows(strict = false) == Seq(
      (1L, 1.0, "a", None, -1L),
      (1L, 5.0, "b", Some("s5"), 50L),
      (1L, 10.0, "c", Some("s8"), 80L),
      (2L, 3.0, "d", None, -1L)))
    // strict <: the t=5 left row no longer sees the t=5 snapshot
    assert(rows(strict = true) == Seq(
      (1L, 1.0, "a", None, -1L),
      (1L, 5.0, "b", None, -1L),
      (1L, 10.0, "c", Some("s8"), 80L),
      (2L, 3.0, "d", None, -1L)))
  }

  test("asofJoin tolerance nulls stale matches, keeps fresh ones, all-payload atomic") {
    val left = Seq((1L, 5.0, "a"), (1L, 9.0, "b"), (1L, 30.0, "c"))
      .toDF("k", "t", "lv")
    val right = Seq((1L, 5.0, "s5", 50L), (1L, 8.0, "s8", 80L))
      .toDF("k", "t", "snap", "sid")
    val got = AsOf.asofJoin(left, right, Seq("k"), "t", Seq("snap", "sid"),
        strict = false, tolerance = 2.0)
      .collect().map(r => (r.getDouble(1), Option(r.getString(3)),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (5.0, Some("s5"), 50L),   // exact hit, age 0 <= 2
      (9.0, Some("s8"), 80L),   // age 1 <= 2
      (30.0, None, -1L)))       // latest is s8, age 22 > 2 -> BOTH fields null
    // tolerance = 0 keeps only exact-time matches
    val exact = AsOf.asofJoin(left, right, Seq("k"), "t", Seq("snap", "sid"),
        strict = false, tolerance = 0.0)
      .collect().map(r => (r.getDouble(1), Option(r.getString(3))))
      .sortBy(_._1).toSeq
    assert(exact == Seq((5.0, Some("s5")), (9.0, None), (30.0, None)))
    assertThrows[IllegalArgumentException](
      AsOf.asofJoin(left, right, Seq("k"), "t", Seq("snap"), tolerance = -1.0))
  }

  test("asofJoin matches a brute-force reference on random frames (ties, gaps, dup times)") {
    val rnd = new scala.util.Random(29)
    for (trial <- 0 until 3) {
      // small discrete time domain forces equal-time ties; some keys
      // appear only on one side
      val left = Seq.tabulate(60)(i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(12).toDouble, i.toLong))
        .toDF("k", "t", "lid")
      // unique (k, t) on the right (the documented dedupe contract)
      val rightRows = Seq.tabulate(30)(i =>
        (rnd.nextInt(6).toLong, rnd.nextInt(12).toDouble, i.toLong))
        .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val right = rightRows.toDF("k", "t", "snap")
      for (strict <- Seq(false, true)) {
        val got = AsOf.asofJoin(left, right, Seq("k"), "t", Seq("snap"), strict)
          .collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
            if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq.sorted
        val want = left.collect().map { lr =>
          val (k, t, lid) = (lr.getLong(0), lr.getDouble(1), lr.getLong(2))
          val cand = rightRows.filter(r =>
            r._1 == k && (if (strict) r._2 < t else r._2 <= t))
          val snap = if (cand.isEmpty) -1L else cand.maxBy(_._2)._3
          (k, t, lid, snap)
        }.toSeq.sorted
        assert(got == want, s"trial $trial strict=$strict")
      }
    }
  }

  test("intervalJoin matches brute force on random intervals (overlaps, edges, degenerate)") {
    val rnd = new scala.util.Random(37)
    for (trial <- 0 until 3) {
      val left = Seq.tabulate(60)(i =>
        (rnd.nextInt(4).toLong, rnd.nextInt(40).toDouble, i.toLong))
        .toDF("k", "t", "lid")
      val intervals = Seq.tabulate(25) { i =>
        val s = rnd.nextInt(40).toDouble
        // ~1 in 5 degenerate (end < start): must be dropped, not mis-bucketed
        val e = s + rnd.nextInt(10) - 2.0
        (rnd.nextInt(4).toLong, s, e, i.toLong)
      }
      val right = intervals.toDF("k", "s", "e", "rid")
      for (w <- Seq(1.0, 3.0, 7.0, 100.0)) {
        val got = RangeJoin.intervalJoin(left, right, Seq("k"), "t", "s", "e", w)
          .select("k", "t", "lid", "rid")
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
          .toSeq.sorted
        val want = (for {
          (lk, t, lid) <- left.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
          (rk, s, e, rid) <- intervals
          if lk == rk && s <= e && t >= s && t <= e
        } yield (lk, t, lid, rid)).toSeq.sorted
        assert(got == want, s"trial $trial width=$w")
      }
    }
  }

  test("packChunks matches a sequential reference on random token counts") {
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 3) {
      val toks = Seq.tabulate(50)(i => (i.toLong * 3 + 1, rnd.nextInt(40).toLong))
      val ctx = 16 + rnd.nextInt(50)
      val got = TextOps.packChunks(toks.toDF("id", "n"), "id", "n", ctx,
          bucketSpan = 1 + rnd.nextInt(30))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
        .toSeq.sorted
      // sequential reference: lay tokens end to end in id order
      var off = 0L
      val want = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int)]
      toks.sortBy(_._1).foreach { case (id, n) =>
        if (n > 0) {
          var b = off / ctx
          while (b * ctx < off + n) {
            val s = math.max(b * ctx, off); val e = math.min((b + 1) * ctx, off + n)
            want += ((id, b, (s - b * ctx).toInt, (e - s).toInt))
            b += 1
          }
        }
        off += n
      }
      assert(got == want.toSeq.sorted, s"trial $trial ctx=$ctx")
    }
  }

  test("packChunks: full interior bins, zero-token docs skipped, bucketSpan-invariant") {
    val docs = Seq((1L, 100L), (2L, 0L), (3L, 700L), (4L, 300L), (5L, 64L))
      .toDF("id", "n")
    def run(span: Long) =
      TextOps.packChunks(docs, "id", "n", ctxLen = 256, bucketSpan = span)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
        .sortBy(x => (x._1, x._2)).toSeq
    val packed = run(2)
    assert(packed.map(_._4.toLong).sum == 1164, "every token lands in exactly one bin")
    assert(!packed.exists(_._1 == 2L), "zero-token doc occupies no span")
    val byBin = packed.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    val last = byBin.keys.max
    byBin.foreach { case (b, n) => if (b != last) assert(n == 256, s"bin $b not full") }
    assert(byBin(last) == 1164 - 4 * 256)
    // the distributed prefix sum is bucketSpan-invariant
    assert(run(1000L) == packed)
  }

  test("commonNgramCoverage: shared shingles counted by occurrence, short docs zero") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),      // shingles: abg, bgd
      (2L, "alpha beta gamma epsilon"),    // shingles: abg, bge
      (3L, "one two three one two three one two"), // repeated shingles, none shared
      (4L, "too short")                    // <3 words -> zeros
    ).toDF("doc_id", "text")
    val out = TextOps.commonNgramCoverage(df, "doc_id", "text", minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(1L) == ((2L, 1L, 0.5)))  // "alpha beta gamma" shared with doc 2
    assert(out(2L) == ((2L, 1L, 0.5)))
    // doc 3's shingles repeat WITHIN the doc (6 occurrences) but appear
    // in one distinct doc only -> not common at minDocs=2
    assert(out(3L) == ((6L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
    // minDocs=1 marks everything common (the decontamination degenerate)
    val all1 = TextOps.commonNgramCoverage(df, "doc_id", "text", minDocs = 1)
      .filter(col("n_sh") > 0)
      .collect().map(r => r.getDouble(3))
    assert(all1.forall(_ == 1.0))
  }

  test("piiScrub: sequential scrub, per-category counts, clean text untouched") {
    val df = Seq(
      (1L, "reach me at jo.doe+spam@mail.example.org or 415-555-0142 ok"),
      (2L, "server 10.0.255.7 and backup 192.168.1.1 online"),
      (3L, "no pii here at all"),
      (4L, "a@b.co next to 1.2.3.4 then 000-555-9999 and x@y.net")
    ).toDF("doc_id", "text")
    val out = TextOps.piiScrub(df, "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[String]("text_scrubbed"), r.getInt(r.fieldIndex("n_email")),
          r.getInt(r.fieldIndex("n_ip")), r.getInt(r.fieldIndex("n_phone")))).toMap
    assert(out(1L) == (("reach me at <EMAIL> or <PHONE> ok", 1, 0, 1)))
    assert(out(2L) == (("server <IP> and backup <IP> online", 0, 2, 0)))
    assert(out(3L) == (("no pii here at all", 0, 0, 0)))
    assert(out(4L) == (("<EMAIL> next to <IP> then <PHONE> and <EMAIL>", 2, 1, 1)))
  }

  test("gopherRules: each rule fires independently") {
    val longDoc = ("the word and some that other filler text with more of be to have " * 5).trim
    val df = Seq(
      (1L, longDoc),                                   // passes everything
      (2L, "short doc"),                               // fails r_words
      (3L, longDoc + " " + Array.fill(30)("###").mkString(" ")), // fails r_symbol + r_alpha
      (4L, ("aaaaaaaaaaaaaaaaaaaaaaaa " * 60).trim)    // fails r_word_len + r_stop
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(df, "text")
      .collect().map(r => r.getLong(0) -> Seq("r_words", "r_word_len", "r_symbol",
        "r_alpha", "r_stop", "keep").map(c => r.getBoolean(r.fieldIndex(c)))).toMap
    assert(out(1L) == Seq(true, true, true, true, true, true))
    assert(out(2L).head == false && out(2L).last == false)
    assert(out(3L)(2) == false && out(3L)(3) == false && out(3L).last == false)
    assert(out(4L)(1) == false && out(4L)(4) == false && out(4L).last == false)
  }

  test("Emb.covariance matches a local computation across partition merges") {
    val d = 5
    val rnd = new scala.util.Random(11)
    val vecs = (1 to 200).map(_ => Array.fill(d)(rnd.nextFloat() * 2 - 1))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .repartition(7) // force multi-partition partial merge
    val got = Emb.covariance(df, "embedding", d)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(5))).toMap
    assert(got.size == d * (d + 1) / 2)
    val n = vecs.length
    val mean = Array.tabulate(d)(i => vecs.map(_(i).toDouble).sum / n)
    for (i <- 0 until d; j <- i until d) {
      val gram = vecs.map(v => v(i).toDouble * v(j).toDouble).sum / n
      val want = gram - mean(i) * mean(j)
      val (gn, gc) = got((i, j))
      assert(gn == n)
      assert(math.abs(gc - want) < 1e-12, s"cov($i,$j): $gc vs $want")
    }
    // wrong-length vector fails fast, not silently
    val bad = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    assertThrows[org.apache.spark.SparkException](
      Emb.covariance(bad, "embedding", d).collect())
  }

  test("pcaFit recovers a planted dominant direction; projection is variance-sorted") {
    val d = 6
    val rnd = new scala.util.Random(17)
    // points spread mostly along a fixed axis u with small isotropic noise
    val u = Array(1.0, 2.0, -1.0, 0.5, 0.0, 1.5)
    val un = { val n = math.sqrt(u.map(x => x * x).sum); u.map(_ / n) }
    val vecs = (1 to 400).map { _ =>
      val t = rnd.nextGaussian() * 5
      Array.tabulate(d)(i => (t * un(i) + rnd.nextGaussian() * 0.1).toFloat)
    }
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .repartition(5)
    val model = Emb.pcaFit(df, "embedding", d)
    // top eigenvector aligns with the planted direction (|cos| ~ 1)
    val cos = math.abs(model.vectors(0).zip(un).map { case (a, b) => a * b }.sum)
    assert(cos > 0.999, s"top axis misaligned: |cos|=$cos")
    // dominant variance: first eigenvalue carries nearly everything
    assert(model.explained(0) > 0.95, s"explained=${model.explained(0)}")
    assert(model.values.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    // projection: column 0 variance >> column 1 variance
    val proj = Emb.pcaProject(df, "embedding", model, 2)
      .select("proj").collect().map(_.getSeq[Double](0))
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val v0 = variance(proj.map(_(0)).toSeq)
    val v1 = variance(proj.map(_(1)).toSeq)
    assert(v0 > 10 * v1, s"projection variances not sorted: $v0 vs $v1")
    // and the projection variances equal the eigenvalues (population)
    assert(math.abs(v0 - model.values(0)) < 1e-6 * model.values(0))
    // whiten: every kept component lands at unit population variance
    val white = Emb.pcaProject(df, "embedding", model, 2, whiten = true)
      .select("proj").collect().map(_.getSeq[Double](0))
    for (c <- 0 until 2) {
      val vc = variance(white.map(_(c)).toSeq)
      assert(math.abs(vc - 1.0) < 1e-9, s"whitened var($c)=$vc")
    }
    // standardize: per-component z-scores have mean 0 / var 1; a
    // constant component maps to 0, not NaN
    val zs = Emb.standardize(df, "embedding", model)
      .select("z").collect().map(_.getSeq[Double](0))
    for (c <- 0 until d) {
      val col0 = zs.map(_(c)).toSeq
      assert(math.abs(col0.sum / col0.size) < 1e-9)
      assert(math.abs(variance(col0) - 1.0) < 1e-9)
    }
    val constDf = Seq((1L, Seq(1.0f, 7.0f)), (2L, Seq(2.0f, 7.0f)))
      .toDF("vec_id", "embedding")
    val cm = Emb.pcaFit(constDf, "embedding", 2)
    val cz = Emb.standardize(constDf, "embedding", cm)
      .select("z").collect().map(_.getSeq[Double](0))
    assert(cz.forall(_(1) == 0.0), "constant component must standardize to 0")
  }

  test("tfidf: corpus-wide terms score zero, rare terms rank first, ties on term") {
    val df = Seq(
      (1L, "shared shared rare1 rare1 rare1"),
      (2L, "shared duo x"),
      (3L, "shared duo y")
    ).toDF("doc_id", "text")
    val out = TextOps.tfidf(df, "doc_id", "text", topK = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // "shared" is in all 3 docs -> idf = ln(1) = 0 -> ranks last always
    def close(got: (String, Long, Long, Double),
              want: (String, Long, Long, Double)): Unit = {
      assert(got._1 == want._1 && got._2 == want._2 && got._3 == want._3, got)
      assert(math.abs(got._4 - want._4) < 1e-12, got)
    }
    val ln3 = math.log(3.0)
    close(out((1L, 1)), ("rare1", 3L, 1L, 3 * ln3))
    close(out((1L, 2)), ("shared", 2L, 3L, 0.0))
    // doc 2: x (df=1, idf=ln 3) outranks duo (df=2, idf=ln 1.5)
    close(out((2L, 1)), ("x", 1L, 1L, ln3))
    close(out((2L, 2)), ("duo", 1L, 2L, math.log(1.5)))
    assert(out((3L, 1))._1 == "y")
  }

  test("bm25: idf favors rare terms, length norm favors short docs, hand-checked score") {
    val df = Seq(
      (1L, "hash"),                       // short doc, one hit
      (2L, "hash hash filler filler filler filler filler"), // tf=2 but long
      (3L, "rare"),                       // df=1 term -> highest idf
      (4L, "filler filler"),              // no query term -> absent
      (5L, "hash rare")                   // two hits
    ).toDF("doc_id", "text")
    val out = TextOps.bm25(df, "doc_id", "text", Seq("hash", "rare"), topK = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!out.contains(4L), "a doc with no query term never scores")
    assert(out(5L)._2 == 2 && out(1L)._2 == 1)
    // two hits beat one; a rare term (df=1 of N=5) beats a common one
    // (df=3) at equal tf and length
    assert(out(5L)._1 > out(1L)._1 && out(3L)._1 > out(1L)._1)
    // hand-check doc 3: N=5, df(rare)=2, tf=1, dl=1, avgdl=13/5
    //   idf = ln(1 + (5-2+0.5)/(2+0.5)); tfn = 2.2/(1 + 1.2*(0.25+0.75*5/13))
    val want = math.log(1 + 3.5 / 2.5) * 2.2 /
      (1 + 1.2 * (0.25 + 0.75 * (1.0 / (13.0 / 5))))
    assert(math.abs(out(3L)._1 - math.floor(want * 1e4 + 0.5)) <= 1,
      s"got ${out(3L)._1}, want ~${want * 1e4}")
    // length normalization: doc 1 (dl=1) outranks doc 2 (tf=2, dl=7)
    assert(out(1L)._1 > out(2L)._1,
      "a shorter doc must outrank a longer one with mildly higher tf")
    // topK cap + deterministic order
    val top1 = TextOps.bm25(df, "doc_id", "text", Seq("hash", "rare"), topK = 1)
      .collect()
    assert(top1.length == 1 && top1(0).getLong(0) == 5L)
  }

  test("lmScore: common-bigram docs outrank rare-bigram docs; short docs null out") {
    val df = Seq(
      (1L, "the cat sat"),       // bigrams shared with docs 2,3
      (2L, "the cat sat"),
      (3L, "the cat ran"),       // shares "the cat"
      (4L, "zq xv"),             // unique bigram of rare words
      (5L, "one")                // < 2 words -> no score
    ).toDF("doc_id", "text")
    val out = TextOps.lmScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getLong(2))).toMap
    assert(out(1L)._1.get == out(2L)._1.get)       // identical docs tie exactly
    assert(out(1L)._1.get > out(4L)._1.get)        // fluent beats rare soup
    assert(out(3L)._1.get > out(4L)._1.get)
    assert(out(5L) == ((None, 0L)))
    assert(out(1L)._2 == 2 && out(4L)._2 == 1)
    // hand-check doc 4: V=7 distinct words (the,cat,sat,ran,zq,xv,one);
    // c("zq xv")=1, c("zq")=1 -> ln((1+1)/(1+7))
    assert(math.abs(out(4L)._1.get - math.log(2.0 / 8.0)) < 1e-12)
  }

  test("contamination: shingle overlap with the bench set, occurrence-weighted") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),          // abg overlaps bench
      (2L, "one two three four five"),         // disjoint
      (3L, "alpha beta gamma alpha beta gamma x"), // abg twice (+bga, gab...)
      (4L, "too short")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma zeta")).toDF("doc_id", "text")
    val out = TextOps.contamination(corpus, "doc_id", "text", bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == ((2L, 1L, true)))   // abg hit, bgd clean
    assert(out(2L) == ((3L, 0L, false)))
    // doc 3 shingles: abg, bga, gab, abg, bgx -> abg occurs twice (bench),
    // "beta gamma zeta" not present
    assert(out(3L) == ((5L, 2L, true)))
    assert(out(4L) == ((0L, 0L, false)))
  }

  test("semDedup: keep-the-atypical rule within clusters, distinct vectors survive") {
    // two unit centroids; two planted near-dup groups + one atypical
    // in-cell vector below the threshold
    val cents = Seq(
      (0L, Seq(1.0f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1.0f, 0f, 0f))).toDF("id", "v")
    val docs = Seq(
      (0L, Seq(0.90f, 0.10f, 0f, 0f)),    // cell 0, dup of 1
      (1L, Seq(0.92f, 0.08f, 0.05f, 0f)), // cell 0, closer to centroid
      (2L, Seq(0.70f, 0f, 0.70f, 0f)),    // cell 0, cos<tau to both -> kept
      (3L, Seq(0.10f, 0.95f, 0f, 0f)),    // cell 1, closer to centroid
      (4L, Seq(0.12f, 0.93f, 0.02f, 0f))  // cell 1, dup of 3
    ).toDF("id", "v")
    val out = Dedup.semDedup(docs, "id", "v", minCos = 0.8,
      centroids = Some(cents))
      .orderBy("id").collect()
    assert(out.map(_.getInt(1)).toSeq == Seq(0, 0, 0, 1, 1))
    // within each dup pair the member FARTHER from the centroid
    // (lower centroid-cos) wins; the atypical vector is untouched
    assert(out.map(r => r.getLong(0) -> r.getBoolean(3)).toMap ==
      Map(0L -> true, 1L -> false, 2L -> true, 3L -> false, 4L -> true))
    // raising the threshold above every pairwise cos keeps everything
    val all = Dedup.semDedup(docs, "id", "v", minCos = 0.9999,
      centroids = Some(cents)).collect()
    assert(all.forall(_.getBoolean(3)))
  }

  test("incremental ANN: delta encoded against the frozen base model surfaces in top-k, no refit") {
    // base: two direction-clusters of four DISTINCT vectors each
    // (ids 0..7); delta: a NEW vector (id 100) that duplicates the
    // query exactly — the ANN-dup-detection shape. Through the frozen
    // model it must rank first (cos 1.0 beats every distinct base
    // member) and carry the delta flag.
    def vec(axis: Int, jitter: Float): Seq[Float] =
      Seq.tabulate(4)(d => if (d == axis) 1.0f else jitter)
    val base = (0L until 8L).map { i =>
      (i, vec((i % 2).toInt, 0.1f * (1 + i / 2)))
    }
    val delta = Seq((100L, base.head._2))          // dup of id 0
    val all = (base ++ delta).toDF("vec_id", "embedding")
    val baseDf = all.filter(col("vec_id") < 100)
    // frozen model: fit on base only
    val cents = Ann.kmeansFit(baseDf, "vec_id", "embedding", k = 2, iters = 2)
    val centsAfter = Ann.kmeansFit(baseDf, "vec_id", "embedding", k = 2, iters = 2)
    // the fit is a pure function of the base — re-running it (the
    // "no refit happened" claim) reproduces the identical model
    assert(cents.collect().map(_.toString).sorted.sameElements(
      centsAfter.collect().map(_.toString).sorted))
    val q = all.filter(col("vec_id") === 0L)
    val out = Ann.topkIvf(all, q, "vec_id", "embedding",
        k = 3, nProbe = 1, centroids = Some(cents))
      .withColumn("neighbor_is_new", col("neighbor_id") >= 100)
      .orderBy("rank").collect()
    assert(out.length == 3)
    // the delta vector is the query's nearest neighbor through the
    // frozen quantizer: same cell as cluster 0, probed first
    assert(out.head.getAs[Long]("neighbor_id") == 100L)
    assert(out.head.getAs[Boolean]("neighbor_is_new"))
    assert(out.tail.forall(!_.getAs[Boolean]("neighbor_is_new")))
  }

  test("CmsAgg: never undercounts, stays in the error band, merge-order invariant") {
    import graft.functions.CmsAgg
    val d = 4; val w = 64
    // zipf-ish multiset over a domain larger than w so collisions are real
    val items = (1 to 2000).map(i => "k" + (i % (i % 97 + 3)))
    val df = items.toDF("s")
    def sketchOf(parts: Int): Array[Long] =
      df.repartition(parts).agg(CmsAgg.cms(col("s"), d, w)).head()
        .getSeq[Long](0).toArray
    val sk = sketchOf(1)
    // partition layout must not change a single counter (merge = sum)
    assert(sk.sameElements(sketchOf(7)))
    assert(sk.length == d * w)
    val n = items.length
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = n * math.E / w
    exact.foreach { case (k, cnt) =>
      val est = CmsAgg.estimate(sk, d, w, k)
      assert(est >= cnt, s"CMS undercounted $k: $est < $cnt")
      assert(est <= cnt + bound, s"CMS blew its band on $k: $est > $cnt + $bound")
    }
    // every row's counters sum to the stream length
    (0 until d).foreach { r =>
      assert(sk.slice(r * w, (r + 1) * w).sum == n)
    }
  }

  test("bpeDecodeIds: decode of encode reproduces the letter stream") {
    val docs = Seq(
      (1L, "the cat, the hat!"),
      (2L, "  MIXED Case 42 words  "),
      (3L, "zzz"),
      (4L, "!!! 123 ...") // no letters: empty stream, no id rows
    ).toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(docs, "text", 4).map { case (l, r, _) => (l, r) }
    val ids = TextOps.bpeEncodeIds(docs, "text", "doc_id", merges)
    val dec = TextOps.bpeDecodeIds(ids, "doc_id", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val want = Map(1L -> "thecatthehat", 2L -> "mixedcasewords", 3L -> "zzz")
    want.foreach { case (id, ref) =>
      val (n, got) = dec(id)
      assert(got == ref, s"doc $id: '$got' != '$ref'")
      assert(n >= 1 && n <= ref.length)
    }
    assert(!dec.contains(4L)) // letterless doc emits no ids at all
    // merge ids above the base vocab decode too (at least one merge fired)
    assert(ids.filter(col("token_id") >= 26).count() > 0)
  }

  test("quantizeInt8: codes within range, error <= scale/2, zero vector safe") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(127.0f, -127.0f, 1.0f, -1.0f)),
      (3L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),   // zero vector: scale 0
      (4L, Seq(1e-8f, -1e-8f, 5e-9f, 0.0f)) // tiny but nonzero scale
    ).toDF("vec_id", "embedding")
    val out = Emb.quantizeInt8(df, "embedding").collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(r.fieldIndex("q8_scale")),
          r.getSeq[Int](r.fieldIndex("q8")))).toMap
    out.foreach { case (id, (scale, codes)) =>
      assert(codes.forall(c => c >= -127 && c <= 127), s"doc $id out of range")
    }
    // absmax element always codes to exactly +-127
    assert(out(1L)._2(1) == -127)
    assert(out(2L)._2(0) == 127 && out(2L)._2(1) == -127)
    assert(out(3L)._1 == 0.0 && out(3L)._2.forall(_ == 0))
    // dequantization error bound holds elementwise
    val orig = Map(
      1L -> Seq(0.5, -1.0, 0.25, 0.0), 2L -> Seq(127.0, -127.0, 1.0, -1.0),
      4L -> Seq(1e-8f.toDouble, -1e-8f.toDouble, 5e-9f.toDouble, 0.0))
    orig.foreach { case (id, xs) =>
      val (scale, codes) = out(id)
      xs.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x - c * scale) <= scale * 0.500002 + 1e-12,
          s"doc $id: err ${math.abs(x - c * scale)} > ${scale / 2}")
      }
    }
  }

  test("exactMedianHist matches sorted reference incl. duplicates, forced descent") {
    val rnd = new scala.util.Random(7)
    // groups: odd size, even size, heavy duplicates, constant, singleton
    val rows = Seq.newBuilder[(String, Double)]
    (1 to 501).foreach(_ => rows += ("odd" -> (rnd.nextDouble() * 100 - 50)))
    (1 to 500).foreach(_ => rows += ("even" -> rnd.nextGaussian() * 7))
    (1 to 400).foreach(i => rows += ("dup" -> (i % 5).toDouble))
    (1 to 300).foreach(_ => rows += ("const" -> 3.25))
    rows += ("one" -> 42.0)
    val data = rnd.shuffle(rows.result())
    val df = data.toDF("k", "v").repartition(7)
    // a 16-element Local budget + nBins 8 forces several descent levels
    val got = graft.Local.withBudget(16L)(Stats.exactMedianHist(df, "k", "v",
      nBins = 8, maxPasses = 16))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    data.groupBy(_._1).foreach { case (k, kv) =>
      val vs = kv.map(_._2).sorted
      val n = vs.length
      val lo = vs((n - 1) / 2)
      val hi = vs(n / 2)
      val (gn, glo, ghi, gmed) = got(k)
      assert(gn == n, s"$k count")
      assert(glo == lo && ghi == hi, s"$k order stats: ($glo,$ghi) vs ($lo,$hi)")
      assert(gmed == (lo + hi) / 2.0, s"$k median")
    }
    assert(got.size == 5)
  }

  test("exactQuantileHist matches sorted reference at several p, forced descent") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.newBuilder[(String, Double)]
    (1 to 501).foreach(_ => rows += ("odd" -> (rnd.nextDouble() * 100 - 50)))
    (1 to 500).foreach(_ => rows += ("even" -> rnd.nextGaussian() * 7))
    (1 to 400).foreach(i => rows += ("dup" -> (i % 5).toDouble))
    (1 to 300).foreach(_ => rows += ("const" -> 3.25))
    rows += ("one" -> 42.0)
    val data = rnd.shuffle(rows.result())
    val df = data.toDF("k", "v").repartition(7)
    for (p <- Seq(0.0, 0.25, 0.5, 0.95, 1.0)) {
      val got = graft.Local.withBudget(16L)(Stats.exactQuantileHist(df, "k", "v", p,
        nBins = 8, maxPasses = 16))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      data.groupBy(_._1).foreach { case (k, kv) =>
        val vs = kv.map(_._2).sorted
        val n = vs.length
        val h = (n - 1) * p
        val lo = vs(math.floor(h).toInt)
        val hi = vs(math.ceil(h).toInt)
        val (gn, glo, ghi, gq) = got(k)
        assert(gn == n, s"$k count at p=$p")
        assert(glo == lo && ghi == hi,
          s"$k order stats at p=$p: ($glo,$ghi) vs ($lo,$hi)")
        assert(gq == lo + (h - math.floor(h)) * (hi - lo), s"$k quantile at p=$p")
      }
    }
    // p=0.5 agrees with the median machinery (lo + 0.5*(hi-lo) vs
    // (lo+hi)/2 — same value up to one ulp of rounding difference)
    val med = graft.Local.withBudget(16L)(Stats.exactMedianHist(df, "k", "v",
      nBins = 8, maxPasses = 16))
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    val q50 = graft.Local.withBudget(16L)(Stats.exactQuantileHist(df, "k", "v", 0.5,
      nBins = 8, maxPasses = 16))
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    med.foreach { case (k, m) =>
      assert(math.abs(q50(k) - m) <= math.ulp(m), s"$k p50 != median") }
  }

  /** `median` and `quantile` at p in {0, 0.25, 0.5, 0.95, 1} over
    * `data` equal a driver sort: NaN greatest, zeros compared
    * numerically, NaN equal to NaN.
    */
  private def assertRankStats(data: Seq[(String, Double)])(
      median: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      quantile: (org.apache.spark.sql.DataFrame, Double) => org.apache.spark.sql.DataFrame
  ): Unit = {
    val df = data.toDF("k", "v").repartition(7)
    val ref = data.groupBy(_._1).map { case (k, kv) =>
      k -> kv.map(_._2).sortWith((a, b) => !a.isNaN && (b.isNaN || a < b)).toIndexedSeq
    }
    def same(a: Double, b: Double) = a == b || (a.isNaN && b.isNaN)
    def rows(out: org.apache.spark.sql.DataFrame) = out.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val med = rows(median(df))
    assert(med.keySet == ref.keySet)
    ref.foreach { case (k, vs) =>
      val n = vs.length
      val (lo, hi) = (vs((n - 1) / 2), vs(n / 2))
      val (gn, glo, ghi, gmed) = med(k)
      assert(gn == n && same(glo, lo) && same(ghi, hi) && same(gmed, (lo + hi) / 2.0),
        s"$k median: ($gn, $glo, $ghi, $gmed) vs ($n, $lo, $hi)")
    }
    for (p <- Seq(0.0, 0.25, 0.5, 0.95, 1.0)) {
      val got = rows(quantile(df, p))
      assert(got.keySet == ref.keySet)
      ref.foreach { case (k, vs) =>
        val n = vs.length
        val h = (n - 1) * p
        val (lo, hi) = (vs(math.floor(h).toInt), vs(math.ceil(h).toInt))
        val (gn, glo, ghi, gq) = got(k)
        assert(gn == n && same(glo, lo) && same(ghi, hi) &&
          same(gq, lo + (h - math.floor(h)) * (hi - lo)),
          s"$k at p=$p: ($gn, $glo, $ghi, $gq) vs ($n, $lo, $hi)")
      }
    }
  }

  /** Heavy ties, signed zeros, a singleton, a constant group, odd and
    * even sizes; `nonFinite` adds +-Infinity and NaN groups.
    */
  private def edgeGroups(nonFinite: Boolean): Seq[(String, Double)] = {
    val rnd = new scala.util.Random(13)
    val rows = Seq.newBuilder[(String, Double)]
    (1 to 301).foreach(i => rows += ("ties" -> (if (i % 3 == 0) 1.5 else 2.5)))
    Seq(-0.0, 0.0, 0.0, -0.0, -0.0, 1.0, -1.0, 0.0).foreach(v => rows += ("zeros" -> v))
    rows += ("one" -> 7.0)
    (1 to 40).foreach(_ => rows += ("const" -> -3.5))
    (1 to 99).foreach(_ => rows += ("odd" -> rnd.nextGaussian()))
    (1 to 100).foreach(_ => rows += ("even" -> rnd.nextGaussian() * 1e6))
    if (nonFinite) {
      val (inf, nan) = (Double.PositiveInfinity, Double.NaN)
      Seq(-inf, -1.0, 0.0, 3.0, inf, inf).foreach(v => rows += ("inf" -> v))
      Seq(nan, 1.0, nan, -2.0, 5.0).foreach(v => rows += ("nan" -> v))
      Seq(nan, nan, nan).foreach(v => rows += ("allnan" -> v))
    }
    rnd.shuffle(rows.result())
  }

  test("exact order statistics: edge values equal a driver sort") {
    assertRankStats(edgeGroups(nonFinite = true))(
      Stats.exactMedianHist(_, "k", "v"), Stats.exactQuantileHist(_, "k", "v", _))
  }

  test("exact order statistics: finite edge values equal a driver sort, forced descent") {
    assertRankStats(edgeGroups(nonFinite = false))(
      df => graft.Local.withBudget(16L)(
        Stats.exactMedianHist(df, "k", "v", nBins = 8, maxPasses = 16)),
      (df, p) => graft.Local.withBudget(16L)(
        Stats.exactQuantileHist(df, "k", "v", p, nBins = 8, maxPasses = 16)))
  }

  test("exact order statistics reject NULL group keys, naming the column and count") {
    val df = Seq[(String, Double)](("a", 1.0), (null, 2.0), ("b", 3.0), (null, 4.0),
      ("a", 5.0), (null, 6.0)).toDF("grp", "v")
    for (run <- Seq(() => Stats.exactMedianHist(df, "grp", "v"),
        () => Stats.exactQuantileHist(df, "grp", "v", 0.95))) {
      val ex = intercept[IllegalArgumentException](run())
      assert(ex.getMessage.contains("grp") && ex.getMessage.contains("3 NULL"), ex.getMessage)
    }
  }

  test("exact order statistics: forced-descent plans do not grow with the group count") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.graftshim.BusInternals
    import org.apache.spark.sql.util.QueryExecutionListener
    def largestPlan(groups: Int): Int = {
      val rnd = new scala.util.Random(groups)
      val df = (0 until groups).flatMap(g => (0 until 100).map(_ => (s"g$g", rnd.nextDouble())))
        .toDF("k", "v")
      val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]
      val l = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          sizes.add(qe.analyzed.collect { case p => p }.length)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        graft.Local.withBudget(16L)(Stats.exactMedianHist(df, "k", "v", nBins = 8, maxPasses = 16))
        BusInternals.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(l)
      import scala.jdk.CollectionConverters._
      sizes.asScala.max
    }
    assert(largestPlan(2) == largestPlan(20))
  }

  test("BloomAgg: no false negatives, FPR near prediction, merge-order and probe-path invariant") {
    import graft.functions.BloomAgg
    val m = 4096; val k = 5
    val members = (0 until 400).map(i => s"member_$i")
    val df = members.toDF("s")
    def bitsOf(parts: Int): Array[Long] =
      df.repartition(parts).agg(BloomAgg.bloom(col("s"), m, k)).head()
        .getSeq[Long](0).toArray
    val bits = bitsOf(1)
    // partition layout must not flip a single bit (merge = OR)
    assert(bits.sameElements(bitsOf(7)))
    assert(bits.length == m / 64)
    // no false negatives — every inserted item probes true
    members.foreach { s =>
      assert(BloomAgg.contains(bits, k, s.getBytes("UTF-8")), s"false negative: $s")
    }
    // false-positive rate on a disjoint probe set tracks the
    // occupancy-exact prediction (set_bits/m)^k
    val probes = (0 until 4000).map(i => s"outsider_$i")
    val fp = probes.count(s => BloomAgg.contains(bits, k, s.getBytes("UTF-8")))
    val occup = bits.map(java.lang.Long.bitCount(_).toLong).sum.toDouble / m
    val predicted = math.pow(occup, k)
    assert(fp.toDouble / probes.size <= 2.0 * predicted + 10.0 / probes.size,
      s"FPR ${fp.toDouble / probes.size} above band (predicted $predicted)")
    // the codegen'd column probe agrees with the driver-side probe on
    // every member and every outsider
    val probeDf = (members ++ probes).toDF("s")
      .withColumn("hit", BloomAgg.containsC(bits, k, col("s")))
    val got = probeDf.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    (members ++ probes).foreach { s =>
      assert(got(s) == BloomAgg.contains(bits, k, s.getBytes("UTF-8")),
        s"column/driver probe disagree on $s")
    }
    // the filter is genuinely loaded: occupancy in a sane band, and at
    // least one outsider collides at this m/n (k·n/m ≈ 0.49)
    assert(occup > 0.3 && occup < 0.6, s"occupancy $occup out of band")
  }

  test("nbClassify: separates distinct vocabularies, smoothing scores unseen words, ties break alphabetically") {
    // two classes with disjoint core vocab + shared filler
    val mk = (base: Long, label: String, core: String, n: Int) =>
      (0 until n).map(i => (base + i, label,
        s"$core $core shared filler $core word$i"))
    val rows = mk(1000L, "spam", "buy pills cheap", 10) ++
      mk(2000L, "ham", "meeting agenda notes", 10)
    val df = rows.toDF("id", "cls", "text")
    // train on all but the last 2 of each class
    val trainPred = col("id") % 100 < 8
    val out = TextOps.nbClassify(df, "id", "cls", "text", trainPred)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(3))).toMap
    assert(out.size == 4)
    out.foreach { case (id, (pred, correct)) =>
      assert(correct, s"doc $id misclassified as $pred")
    }
    // unseen words fall back to the smoothed default, not a crash/null:
    // a doc of pure out-of-vocabulary words gets the majority prior
    val df2 = (rows :+ (999L, "spam", "qqq zzz www")).toDF("id", "cls", "text")
    val o2 = TextOps.nbClassify(df2, "id", "cls", "text", col("id") =!= 999L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // both classes equally sized and all words unseen → scores tie at
    // every token; alphabetical rule picks "ham"
    assert(o2(999L) == "ham")
  }

  test("nbClassify rejects duplicate test ids at execution, naming the id") {
    val rows = Seq((1L, "spam", "buy pills"), (2L, "ham", "meeting notes"),
      (3L, "spam", "cheap pills"), (4L, "ham", "agenda notes"))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    // same label twice (tokens would merge into one score) and two
    // labels (one row per label) — both fail, neither reshapes
    Seq((7L, "spam", 7L, "spam"), (7L, "spam", 7L, "ham")).foreach { case (i1, l1, i2, l2) =>
      val df = (rows ++ Seq((i1, l1, "buy cheap"), (i2, l2, "notes agenda")))
        .toDF("id", "cls", "text")
      val out = TextOps.nbClassify(df, "id", "cls", "text", col("id") < 5)
      val e = intercept[Exception](out.collect())
      assert(messages(e).contains("duplicate test id in id: 7"), messages(e))
    }
  }

  test("chunk: boundary counts, 16-token overlap, ragged tail, full coverage") {
    def doc(id: Long, n: Int) = (id, (0 until n).map(i => s"t$i").mkString(" "))
    val df = Seq(doc(1, 64), doc(2, 65), doc(3, 112), doc(4, 113),
      doc(5, 1), doc(6, 200)).toDF("doc_id", "text")
    val got = TextOps.chunk(df, "doc_id", "text", chunkTokens = 64, stride = 48)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val wantCounts = Map(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 3, 5L -> 1, 6L -> 4)
    wantCounts.foreach { case (id, n) =>
      assert(got(id).length == n, s"doc $id: ${got(id).length} chunks != $n")
    }
    // chunk i starts at 48·i; consecutive chunks overlap by start+64−next
    got.values.foreach { chunks =>
      chunks.zipWithIndex.foreach { case ((_, idx, start, _), i) =>
        assert(idx == i && start == 48 * i)
      }
      // coverage: last chunk reaches exactly the doc end
      val (_, _, lastStart, lastN) = chunks.last
      val docLen = Map(1L -> 64, 2L -> 65, 3L -> 112, 4L -> 113, 5L -> 1,
        6L -> 200)(chunks.head._1)
      assert(lastStart + lastN == docLen)
      // every non-last chunk is full-width (64), so the overlap with
      // its successor is exactly 64 − 48 = 16 tokens
      chunks.init.foreach { case (_, _, _, n) => assert(n == 64) }
    }
    // empty doc emits no chunks
    val empty = TextOps.chunk(Seq((9L, "   ")).toDF("doc_id", "text"),
      "doc_id", "text").count()
    assert(empty == 0)
  }

  test("knnGraph: matches a hand-computed mutual graph and prunes one-way hub edges") {
    // two tight clusters + one "hub" vector mid-way: cluster members
    // rank each other above the hub, but the hub's own top-k is all
    // cluster members — those hub edges are one-way and must be pruned
    def v(xs: Double*) = xs.toArray.map(_.toFloat)
    val vecs = Seq(
      10L -> v(1, 0, 0, 0), 11L -> v(0.99, 0.1, 0, 0), 12L -> v(0.98, 0.15, 0, 0),
      20L -> v(0, 1, 0, 0), 21L -> v(0.1, 0.99, 0, 0), 22L -> v(0.15, 0.98, 0, 0),
      99L -> v(0.7, 0.7, 0, 0) // hub
    ).toDF("vec_id", "embedding")
    val got = Ann.knnGraph(vecs, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force reference in scala
    val m = Seq(10L -> v(1, 0, 0, 0), 11L -> v(0.99, 0.1, 0, 0),
      12L -> v(0.98, 0.15, 0, 0), 20L -> v(0, 1, 0, 0),
      21L -> v(0.1, 0.99, 0, 0), 22L -> v(0.15, 0.98, 0, 0),
      99L -> v(0.7, 0.7, 0, 0)).toMap
    def cos(a: Array[Float], b: Array[Float]) = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val knn = m.keys.map { q =>
      q -> m.keys.filter(_ != q).toSeq
        .sortBy(c => (-math.floor(cos(m(q), m(c)) * 1e6 + 0.5), c)).take(2).toSet
    }.toMap
    val want = (for {
      a <- m.keys; b <- m.keys if a < b
      if knn(a).contains(b) && knn(b).contains(a)
    } yield (a, b)).toSet
    assert(got == want, s"graph mismatch: $got vs $want")
    // the hub picked neighbors, but no edge survives mutuality
    assert(!got.exists(e => e._1 == 99L || e._2 == 99L))
    // clusters are internally connected
    assert(got.contains((10L, 11L)) && got.contains((20L, 21L)))
  }

  test("invertedIndex: postings, positions, df/cf on a hand-checked corpus") {
    val df = Seq(
      (1L, "a b a c a"),
      (2L, "b b c"),
      (3L, "")
    ).toDF("doc_id", "text")
    val got = TextOps.invertedIndex(df, "doc_id", "text")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5), r.getInt(6),
          r.getString(7)))
      .toMap
    def md5(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    // a: doc1 at 1,3,5 — df 1, cf 3
    assert(got(("a", 1L)) == (3L, 1L, 3L, 1, 5, md5("1,3,5")))
    // b: doc1 at 2; doc2 at 1,2 — df 2, cf 3
    assert(got(("b", 1L)) == (1L, 2L, 3L, 2, 2, md5("2")))
    assert(got(("b", 2L)) == (2L, 2L, 3L, 1, 2, md5("1,2")))
    // c: doc1 at 4; doc2 at 3
    assert(got(("c", 1L)) == (1L, 2L, 2L, 4, 4, md5("4")))
    assert(got(("c", 2L)) == (1L, 2L, 2L, 3, 3, md5("3")))
    // empty doc contributes nothing
    assert(got.size == 5)
  }

  test("editVerify: confirms a true near-dup, rejects a false candidate, exact lev") {
    val docsDf = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumped over the lazy dog"), // lev 2 from 1
      (3L, "completely different content about something else entirely")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 1L), (1L, 3L, 3L)).toDF("a", "b", "hamming")
    val got = Dedup.editVerify(docsDf, "doc_id", "text", pairs, maxEdits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getBoolean(4))).toMap
    // "jumps" -> "jumped": substitute 's'->'e' + insert 'd' = 2 edits
    assert(got((1L, 2L)) == (2L, true))
    // far pair: banded DP proves > 8 edits and reports -1, not a dup
    assert(got((1L, 3L)) == (-1L, false))
    assert(got.size == 2)
    // band boundary: exactly maxEdits edits is still a dup with the
    // exact distance reported
    val b = Seq((1L, "aaaaaaaaaa"), (2L, "bbaaaaaaaa")).toDF("doc_id", "text")
    val bp = Seq((1L, 2L, 0L)).toDF("a", "b", "hamming")
    val gb = Dedup.editVerify(b, "doc_id", "text", bp, maxEdits = 2)
      .collect().head
    assert(gb.getLong(3) == 2L && gb.getBoolean(4))
  }

  test("knnOutliers: planted isolate flagged, cluster members not, ceil fraction honored") {
    def v(xs: Double*) = xs.toArray.map(_.toFloat)
    // a tight 10-vector cluster + one orthogonal isolate
    val vecs = ((0 until 10).map(i =>
      (i.toLong, v(1, 0.01 * i, 0, 0))) :+ (99L, v(0, 0, 1, 0)))
      .toDF("vec_id", "embedding")
    val got = Ann.knnOutliers(vecs, "vec_id", "embedding", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.size == 11)
    // frac 1/10 of 11 nodes → ceil = 2 flagged
    assert(got.values.count(_._2) == 2)
    // the isolate has the largest k-distance and is flagged
    val iso = got(99L)
    assert(iso._2 && iso._1 == got.values.map(_._1).max)
    // the second flag (ceil rounds 1.1 up to 2) goes to a cluster EDGE
    // member (largest within-cluster k-dist); interior members stay clean
    assert((2 until 8).forall(i => !got(i.toLong)._2))
  }

  test("text_entropy: zero for one-char spam, ln(k) for uniform, natural text in between") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.Pipeline.textEntropy(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // planted doc_id % 101 == 0 docs are 20x'a' → exactly zero entropy
    val docs0 = out.keys.filter(_ % 101 == 0)
    assert(docs0.nonEmpty && docs0.forall(out(_) == 0L))
    // natural word-salad docs sit in a sane band (well above zero,
    // below ln(40) ≈ 3.69 for letters+digits+space)
    val rest = out.filter { case (id, _) => id % 101 != 0 }.values
    assert(rest.forall(e => e > 2000000L && e < 3690000L),
      s"entropy out of band: min=${rest.min} max=${rest.max}")
  }

  test("vadSegments: islands split on gaps, single-frame blips debounced, exact bounds") {
    // media A: frames 0-2 active, 3 quiet, 4 active (blip), 5-6 active
    // media B: all quiet
    val feats = Seq(
      ("A", 0, 100L), ("A", 1, 100L), ("A", 2, 100L), ("A", 3, 1L),
      ("A", 4, 100L), ("A", 5, 1L), ("A", 6, 100L), ("A", 7, 100L),
      ("B", 0, 1L), ("B", 1, 2L)
    ).toDF("media_id", "frame", "energy")
    val got = Multimodal.vadSegments(feats, "media_id", energyThr = 10L,
        minFrames = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    // segment 0-2 (3 frames, 300 energy) and 6-7 survive; the frame-4
    // blip (1 frame) is debounced; B emits nothing
    assert(got == Set(("A", 0, 2, 3L, 300L), ("A", 6, 7, 2L, 200L)))
  }

  test("funnelFrame: purchase-before-click does not convert; first purchase after first click wins") {
    // ns timestamps; user 1 converts (click@10, purchases@5(ignored),20,30)
    // user 2 has purchase only before its click → not converted
    // user 3 clicks, never purchases
    val us = 1000L
    val ev = Seq(
      (1L, "click", 10L), (1L, "purchase", 5L), (1L, "purchase", 20L),
      (1L, "purchase", 30L),
      (2L, "purchase", 3L), (2L, "click", 8L),
      (3L, "click", 1L),
      (4L, "purchase", 9L) // never clicks: no row at all
    ).map { case (u, t, ts) => (u, t, ts * us) }
      .toDF("user_id", "event_type", "ts")
    val got = graft.queries.Relational.funnelFrame(ev, "click", "purchase")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got.size == 3 && !got.contains(4L))
    assert(got(1L) == ((10L, true, 10L))) // first qualifying purchase: t=20
    assert(got(2L) == ((8L, false, -1L)))
    assert(got(3L) == ((1L, false, -1L)))
  }

  test("welchTTest: detects a shifted group, stays silent on identical groups") {
    import graft.operators.Stats
    // A ~ 10 ± small wiggle, B shifted to 12 — hugely significant
    val rows = (0 until 50).map(i => ("a", 10.0 + 0.01 * (i % 5))) ++
      (0 until 60).map(i => ("b", 12.0 + 0.01 * (i % 7)))
    val df = rows.toDF("g", "v")
    val r = Stats.welchTTest(df, "g", "v", "a", "b").collect().head
    assert(r.getLong(0) == 50 && r.getLong(1) == 60)
    assert(r.getBoolean(5), "shifted group not flagged significant")
    assert(r.getLong(4) < 0, "t sign should be negative (a < b)")
    // identical distributions: t == 0 exactly (same quantized sums)
    val same = ((0 until 40).map(i => ("a", 5.0 + (i % 3))) ++
      (0 until 40).map(i => ("b", 5.0 + (i % 3)))).toDF("g", "v")
    val r2 = Stats.welchTTest(same, "g", "v", "a", "b").collect().head
    assert(r2.getLong(4) == 0L && !r2.getBoolean(5))
  }

  test("collocations: PMI ranks a fixed phrase above independent fillers") {
    // "new york" always adjacent (high PMI); "the" pairs freely (low)
    val docsDf = (0 until 10).map(i =>
      (i.toLong, s"new york the a$i the b$i new york the c$i"))
      .toDF("doc_id", "text")
    val got = TextOps.collocations(docsDf, "text", minCount = 5, topK = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val nyRow = got.find(r => r._1 == "new" && r._2 == "york")
    assert(nyRow.isDefined && nyRow.get._3 == 20L)
    // hand-computed PMI: N=100 tokens (10 per doc), c(new)=c(york)=c12=20
    val pmi = math.floor(math.log(100.0 * 20 / (20.0 * 20)) * 1e6 + 0.5).toLong
    assert(nyRow.get._4 == pmi)
    // "new york" outranks every "the"-bigram
    val theRows = got.filter(r => r._1 == "the" || r._2 == "the")
    assert(theRows.forall(_._4 < nyRow.get._4))
    // min-count filter: a{i}/b{i} bigrams (count 1 each) never appear
    assert(got.forall(_._3 >= 5))
  }

  test("pageRank: hand-computed star graph, symmetry, integer determinism across layouts") {
    import graft.operators.Graph
    // star: hub 1 connected to leaves 2,3,4 — leaves are symmetric
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val got = Graph.pageRank(star, "a", "b", iters = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L)._1 == 3 && got(2L)._1 == 1)
    assert(got(2L) == got(3L) && got(3L) == got(4L))
    // hub dominates
    assert(got(1L)._2 > got(2L)._2)
    // exact integer replay in scala of the recurrence
    val n = 4L
    var r = Map(1L -> 1000000L / n, 2L -> 1000000L / n, 3L -> 1000000L / n,
      4L -> 1000000L / n)
    val deg = Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 4L -> 1L)
    val und = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L), (4L, 1L))
    for (_ <- 0 until 5) {
      val sums = und.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => r(s) / deg(s) }.sum).toMap
      r = deg.keys.map(v =>
        v -> (150000L / n + 17L * sums.getOrElse(v, 0L) / 20L)).toMap
    }
    deg.keys.foreach(v => assert(got(v)._2 == r(v), s"node $v rank mismatch"))
    // partition layout cannot change a single rank (pure long arithmetic)
    val star7 = Graph.pageRank(star.repartition(7), "a", "b", iters = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    deg.keys.foreach(v => assert(star7(v) == got(v)._2))
  }

  test("pageRank: driver fast path is bit-identical to the distributed loop") {
    import graft.operators.Graph
    // random multigraph with duplicate edges and a self-loop — the
    // degree-multiset cases where a sloppy local rewrite would diverge
    val rnd = new scala.util.Random(7)
    val edges = ((0 until 60).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong)) :+ (5L, 5L) :+
      (3L, 9L) :+ (3L, 9L)).toDF("a", "b")
    for (it <- Seq(0, 1, 5)) {
      val fast = Graph.pageRank(edges, "a", "b", iters = it)
      val dist = graft.Local.withBudget(0L)(Graph.pageRank(edges, "a", "b", iters = it))
      assert(fast.schema == dist.schema,
        s"iters=$it schema: ${fast.schema} vs ${dist.schema}")
      val f = fast.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      val d = dist.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(f.sameElements(d), s"iters=$it: ${f.toSeq} vs ${d.toSeq}")
    }
  }

  test("pageRank: per-superstep fp6 mass leak stays under the documented floor bound") {
    import graft.operators.Graph
    // each floor loses < 1 fp6 unit: teleport floor (n), damping floor
    // (n), and node u's contribution split (deg(u) − 1, totalling
    // D − n over the directed edge count D). Per step:
    //   0 <= 150000 + floor(17·prev/20) ... ideal - actual < 2n + 0.85(D − n)
    // checked in exact integer arithmetic (×20 to clear the rational).
    val rnd = new scala.util.Random(13)
    val ring = (0L until 12L).map(i => (i, (i + 1) % 12))
    val rand = (0 until 30).map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter { case (a, b) => a != b }.distinct
    for (edgeSeq <- Seq(ring, rand)) {
      val edges = edgeSeq.toDF("a", "b")
      val d = edgeSeq.size * 2 // directed edge count after undirect
      var prev = -1L
      for (t <- 0 to 4) {
        val ranks = Graph.pageRank(edges, "a", "b", iters = t).collect()
        val n = ranks.length
        val mass = ranks.map(_.getLong(2)).sum
        if (t == 0) {
          // r0 = 10^6 div n per node, no leak beyond the init floor
          assert(mass == n * (1000000L / n))
        } else {
          // 20·actual in (20·(150000 + 0.85·prev) − 20·bound, 20·ideal]
          val ideal20 = 20L * 150000L + 17L * prev
          val bound20 = 20L * (2L * n) + 17L * (d - n)
          assert(20L * mass <= ideal20,
            s"step $t mass ${mass} above ideal (floors can only lose)")
          assert(20L * mass > ideal20 - bound20,
            s"step $t leaked too much: 20*mass=${20 * mass}, ideal20=$ideal20, bound20=$bound20")
        }
        prev = mass
      }
    }
  }

  test("incrementalDedup: exact hit, near hit with best-match rank, and clean doc") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docsDf = Seq(
      // index
      (1L, base),
      (2L, base + " kilo lima mike november oscar papa"),
      (3L, "totally unrelated words about nothing in particular here now"),
      // new batch (ids % 2 == 0 would clash; use explicit flag below)
      (10L, base),                                      // exact dup of 1
      (11L, base + " kilo lima mike november oscar QQQ"), // near dup of 2
      (12L, "fresh unique content that matches no existing document at all xyz abc def ghi")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(docsDf, "doc_id", "text",
        col("doc_id") >= 10L, minJac = 0.3)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getBoolean(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(got.size == 3)
    // exact dup: canonical is the index copy; it is also a near dup of it
    val (ex10, canon10, near10, best10) = got(10L)
    assert(ex10 && canon10 == 1L && near10 && best10 == 1L)
    // near dup: no exact hit, best match is doc 2
    val (ex11, _, near11, best11) = got(11L)
    assert(!ex11 && near11 && best11 == 2L)
    // clean doc: nothing fires
    assert(got(12L) == ((false, -1L, false, -1L)))
  }

  test("cohort retention counts match a hand-built activity matrix") {
    val day = 86400000000000L // ns
    // u1 active days 0,1,3; u2 days 1,1(dup),2; u3 day 3 only
    val ev = Seq((1L, 0L), (1L, 1L), (1L, 3L), (2L, 1L), (2L, 1L), (2L, 2L),
      (3L, 3L)).map { case (u, d) => (u, d * day + 12345L) }
      .toDF("user_id", "ts")
    val got = graft.queries.Relational.cohortFrame(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // cohort 0 (u1): offsets 0,1,3; cohort 1 (u2): offsets 0,1;
    // cohort 3 (u3): offset 0
    assert(got == Map((0L, 0L) -> 1L, (0L, 1L) -> 1L, (0L, 3L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 1L, (3L, 0L) -> 1L))
  }
}
