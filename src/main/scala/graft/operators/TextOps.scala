package graft.operators

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Functions.dsl._

/** Text analysis for large-scale training-data pipelines (SURVEY.md
  * §2.2 ops 25-28): language-ID, quality scoring, token counting,
  * winnowing fingerprints. All map-side column transforms — no
  * shuffle; scale is limited only by scan width.
  */
object TextOps {

  /** Lowercased whitespace tokens, empty tokens dropped: split() on
    * text with leading/trailing whitespace yields spurious empty
    * tokens that would inflate word counts and corrupt the first/last
    * shingle (two docs differing only in surrounding whitespace would
    * near-dup-hash differently even though exact dedup calls them
    * identical). A filter, not trim(): Spark's trim strips only the
    * space character, not \n or \t.
    */
  def words(text: Column): Column =
    filter(split(lower(text), "\\s+"), w => w =!= "")

  /** Whitespace-collapsed lowercase normalization (dedup canonical form). */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Unicode-aware tokenizer (VERDICT r12 #2 — the multilingual twin
    * of [[words]]): NFC-fold (combining marks compose, so decomposed
    * "cafe&#x301;" and precomposed "café" yield the SAME token), Unicode
    * lowercase, then token extraction with `\p{L}` letter classes so
    * accented Latin, Cyrillic, Greek, Arabic and Hebrew words survive
    * intact where the ASCII `[a-z]+` core tokenizes them to fragments
    * or nothing. CJK has no spaces, so Han/Hiragana/Katakana chars are
    * first isolated (pad-with-spaces regexp_replace — RE2 has no class
    * intersection, so the two-pass pad-then-extract beats an
    * inexpressible single regex) and emerge as single-char tokens, the
    * BPE-ish unit real CJK pipelines count. Every step is a codegen'd
    * builtin (or the [[graft.functions.Bridge.nfc]] kernel) and every
    * regex construct exists in BOTH java.util.regex and DuckDB's RE2
    * (`\p{IsHan}` there spelled `\p{Han}`), so oracles replay
    * textually.
    */
  def unicodeTokens(text: Column): Column =
    // [\p{L}\p{N}]+ not \p{L}+: tokens KEEP digits ("v2" stays one
    // token, "3" survives as a token) — the \w-class convention every
    // word tokenizer uses. Dropping digits would merge "chapter 1"
    // and "chapter 2" for the dedup path, a fidelity loss.
    // Since round 17 the pad+extract regex pair runs as ONE codegen'd
    // codepoint walk (Bridge.uniTokens — identical semantics, ASCII
    // short-circuit, no padded intermediate string): the two
    // java.util.regex passes were the dominant cost the r15 unicode
    // flip added to the whole shingle family. The DuckDB oracles
    // still replay the ORIGINAL two-regex pipeline textually, so the
    // correctness gate proves the equivalence corpus-wide every run.
    graft.functions.Functions.dsl.uniTokensC(
      lower(graft.functions.Functions.dsl.nfcC(text)))

  /** Tiny embedded stopword lists per language (alphabetical order —
    * ties in scoring resolve to the alphabetically first language).
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  /** Per-language stopword occurrence counts (tf, not distinct). */
  def langScore(ws: Column, lang: String): Column = {
    val sw = langStopwords.toMap.apply(lang)
    size(filter(ws, w => w.isin(sw.map(_.asInstanceOf[Any]): _*)))
  }

  /** Predicted language: argmax score, ties to alphabetically first. */
  def langidFrame(df: DataFrame, textCol: String): DataFrame = {
    var out = df.withColumn("_ws", words(col(textCol)))
    langStopwords.foreach { case (l, _) =>
      out = out.withColumn(s"s_$l", langScore(col("_ws"), l))
    }
    val scores = langStopwords.map { case (l, _) => col(s"s_$l") }
    val m = greatest(scores: _*)
    // CASE chain in alphabetical order: first language hitting the max
    // wins (same tie rule as the SQL oracle's CASE). The m === 0 guard
    // makes 'und' reachable: greatest() always equals SOME score, so
    // without it a zero-stopword document would be labeled with the
    // alphabetically first language instead of undetermined.
    val pred = langStopwords.tail.foldLeft(
      when(col(s"s_${langStopwords.head._1}") === m, lit(langStopwords.head._1))) {
      case (c, (l, _)) => c.when(col(s"s_$l") === m, lit(l))
    }.otherwise(lit("und"))
    out.withColumn("pred_lang", when(m === 0, lit("und")).otherwise(pred))
      .drop("_ws")
  }

  /** Quality features + composite score in [0,1]:
    * word count (saturating at 100), vocabulary diversity, English
    * stopword density (×4, saturating), non-letter/digit density
    * (inverted, ×5 saturating).
    *
    * Unicode is the DEFAULT here (round 15, closing VERDICT r12 #2 /
    * r14 #2): words come from [[unicodeTokens]] (NFC + `\p{L}`, CJK
    * char isolation) and the punctuation class is `[^\p{L}\p{N}\s]`
    * over the NFC-folded text — so "café" is a 4-letter word with
    * zero punctuation whether it arrives composed or decomposed,
    * where the old ASCII classes counted the accent as punctuation
    * and split the word. On pure-ASCII text both paths agree exactly.
    */
  def qualityFrame(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val tn = lower(graft.functions.Functions.dsl.nfcC(t))
    // empty-doc guards: a zero divisor would yield NaN here but NULL
    // in the SQL oracle — both sides define the ratios as 0 instead
    df.withColumn("_ws", unicodeTokens(t))
      .withColumn("n_words", size(col("_ws")))
      .withColumn("n_chars_q", length(tn))
      .withColumn("distinct_ratio", when(col("n_words") > 0,
        size(array_distinct(col("_ws"))).cast("double") / col("n_words"))
        .otherwise(lit(0.0)))
      .withColumn("stop_ratio", when(col("n_words") > 0,
        langScore(col("_ws"), "en").cast("double") / col("n_words"))
        .otherwise(lit(0.0)))
      .withColumn("punct_count", regexp_count(tn, lit("[^\\p{L}\\p{N}\\s]")))
      .withColumn("quality",
        lit(0.25) * least(lit(1.0), col("n_words").cast("double") / 100.0) +
          lit(0.25) * col("distinct_ratio") +
          lit(0.25) * least(lit(1.0), col("stop_ratio") * 4.0) +
          lit(0.25) * (lit(1.0) - least(lit(1.0),
            when(col("n_chars_q") > 0,
              col("punct_count").cast("double") / col("n_chars_q") * 5.0)
              .otherwise(lit(0.0)))))
      .drop("_ws")
  }

  /** Gopher-style repetition signal: the fraction of duplicated
    * word-3-gram occurrences per document (0 = all shingles distinct).
    * Map-side only, no shuffle. The word split and shingle list are
    * bound as lambda variables (single-element array + transform) so
    * each is computed exactly once per row — plain column aliases
    * would be re-inlined into every reference by CollapseProject.
    */
  def repetitionFrame(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("_r", expr(
      // same empty-token filter as words() — without it a doc with
      // boundary whitespace counts phantom tokens/shingles and
      // diverges from the oracle's filtered split
      s"""element_at(transform(array(filter(split(lower($textCol), '\\\\s+'), x -> x != '')), w ->
         |  element_at(transform(array(
         |      CASE WHEN size(w) >= 3 THEN
         |        transform(sequence(0, size(w) - 3), i ->
         |          concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3)))
         |      ELSE array() END
         |    ), sh -> named_struct(
         |      'n', size(sh),
         |      'r', CASE WHEN size(sh) > 0
         |           THEN 1.0 - CAST(size(array_distinct(sh)) AS DOUBLE) / size(sh)
         |           ELSE 0.0 END)), 1)), 1)""".stripMargin))
      .withColumn("n_shingles", col("_r.n"))
      .withColumn("dup_ratio", col("_r.r"))
      .drop("_r")

  /** Whitespace token count and a BPE-ish regex token count
    * (letter runs, single digits, single other non-space chars).
    */
  def tokensFrame(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens", size(words(col(textCol))))
      .withColumn("bpe_tokens",
        regexp_count(lower(col(textCol)), lit("[a-z]+|[0-9]|[^a-z0-9\\s]")))

  /** Curriculum / difficulty bucketing: assign every doc to a global
    * quantile bucket of a numeric score WITHOUT a global window —
    * the scalable "ntile at 100 TB" pattern. Boundaries come from ONE
    * sort-based percentile aggregate (a bounded `quantiles.length`-row
    * collect, the kmeansFit control-plane shape; at corpus scale swap
    * in approx_percentile's mergeable sketch — q15 pins its error
    * band), then the bucket is a map-side codegen'd comparison chain
    * against the fp6-gridded literal boundaries. A window-based ntile
    * would drag every row into one task ordering; this is two scans
    * and zero windows. fp6 on BOTH sides of each comparison makes the
    * boundary ties engine-exact (the boundaries are rank-interpolated
    * doubles; the grid absorbs the last-ulp ambiguity).
    */
  def quantileBuckets(df: DataFrame, scoreCol: String,
                      quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75),
                      bucketCol: String = "bucket"): DataFrame = {
    require(quantiles.nonEmpty && quantiles == quantiles.sorted &&
      quantiles.forall(q => q > 0 && q < 1), "quantiles must be sorted in (0,1)")
    val qArr = quantiles.map(q => s"$q").mkString(", ")
    // NOTE: this collect runs a full scan job EAGERLY at builder time
    // (the boundaries must be plan literals for the map-side bucket
    // chain). percentile returns NULL on an empty/all-null score
    // column — fail with a descriptive error, not an NPE (ADVICE r10).
    val boundsRow = df.agg(
      expr(s"percentile($scoreCol, array($qArr))").as("_b"))
      .collect()(0)
    require(!boundsRow.isNullAt(0),
      s"quantileBuckets: '$scoreCol' has no non-null values, " +
        "cannot compute quantile boundaries")
    val bounds = boundsRow.getSeq[Double](0)
    val fpScore = graft.Tables.fp6(col(scoreCol).cast("double"))
    val bucket = bounds.zipWithIndex.foldRight(lit(bounds.length): Column) {
      case ((b, i), els) =>
        when(fpScore <= graft.Tables.fp6(lit(b)), lit(i)).otherwise(els)
    }
    df.withColumn(bucketCol, bucket)
  }

  /** Lowercase alphabetic word TYPES with occurrence counts — the BPE
    * training corpus representation: training cost scales with the
    * vocabulary (sublinear in corpus size), not with raw tokens.
    */
  private def wordTypes(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(expr(
      s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** REAL byte-pair-encoding training (Sennrich et al., ACL 2016):
    * learn `nMerges` merges over the lowercase `[a-z]+` word types
    * ([[wordTypes]]) with the one trainer, [[bpeFit]]. The regex admits
    * only ASCII letters, so each char symbol is one byte, string
    * concatenation is byte concatenation and Spark's string order is
    * unsigned byte order: the byte fit's merges, decoded as ASCII, are
    * the char fit's. Returns (left, right, pairCount) in rank order.
    */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int): Array[(String, String, Long)] =
    bpeFit(wordTypes(df, textCol), nMerges).map { case (l, r, c) =>
      (new String(l, US_ASCII), new String(r, US_ASCII), c)
    }

  /** Per-document token counts under a learned merge table: pure
    * map-side (merges ride into the plan as literal arrays — the
    * broadcast-dimension of tokenization), explode words → encode →
    * sum. Docs with no alphabetic words count 0.
    */
  def bpeEncodeCounts(df: DataFrame, textCol: String, idCol: String,
                      merges: Array[(String, String)]): DataFrame = {
    graft.functions.Functions.install(df.sparkSession)
    val mL = typedLit(merges.map(_._1))
    val mR = typedLit(merges.map(_._2))
    df.select(col(idCol), explode_outer(expr(
      s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("_word"))
      .withColumn("_n", when(col("_word").isNull, lit(0))
        .otherwise(size(bpeEncodeC(col("_word"), mL, mR))))
      .groupBy(idCol)
      .agg(count(col("_word")).cast("int").as("n_words"),
        sum(col("_n")).cast("int").as("n_tokens"))
  }

  /** Tokenize under a learned merge table: adds `bpe` (array of token
    * strings per word, flattened doc-order) — the map-side production
    * path a training pipeline feeds to an id-lookup table.
    */
  def bpeTokenize(df: DataFrame, textCol: String,
                  merges: Array[(String, String)]): DataFrame = {
    graft.functions.Functions.install(df.sparkSession)
    val mL = typedLit(merges.map(_._1))
    val mR = typedLit(merges.map(_._2))
    df.withColumn("bpe", flatten(transform(
      expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)"),
      w => bpeEncodeC(w, mL, mR))))
  }

  /** Decode a flattened (doc, pos, token_id) tensor — the
    * [[bpeEncodeIds]] output / the stored training layout — back to
    * each document's character stream. Every id maps to its token
    * string unconditionally (base ids 0-25 → 'a'-'z', merge id 25+t →
    * its concatenation; a duplicate-string merge id still decodes to
    * the right text even though the encoder never emits it), so
    * decode∘encode is exactly the document's [a-z]+ runs concatenated
    * — the roundtrip the text_bpe_decode oracle gates without
    * replaying the training.
    *
    * Output: (idCol, n_ids, decoded). One shuffle (groupBy doc);
    * the inverse vocab rides as a literal map, the per-doc reorder is
    * a bounded in-group sort_array — no window function.
    */
  def bpeDecodeIds(ids: DataFrame, idCol: String,
                   merges: Array[(String, String)]): DataFrame = {
    val invPairs: Seq[(Int, String)] =
      ('a' to 'z').zipWithIndex.map { case (c, i) => (i, c.toString) } ++
        merges.zipWithIndex.map { case ((l, r), t) => (26 + t, l + r) }
    val invMap = map(invPairs.flatMap {
      case (i, s) => Seq(lit(i), lit(s))
    }: _*)
    ids
      .select(col(idCol), col("pos"),
        element_at(invMap, col("token_id")).as("_tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ids"),
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("_tok")))),
          e => e.getField("_tok")), "").as("decoded"))
  }

  /** Deterministic vocabulary over a merge table: ids 0-25 are the
    * base symbols 'a'-'z' (the training regex admits nothing else),
    * merge t (1-based rank) is id 25 + t. If two merges produce the
    * same token string (possible in principle: (a, br) and (ab, r)
    * both yield "abr"), the string keeps its FIRST (lowest) id —
    * token→id is a function of the string, as in any real vocab file.
    */
  def bpeVocab(merges: Array[(String, String)]): Map[String, Int] = {
    val base = ('a' to 'z').zipWithIndex.map { case (c, i) => (c.toString, i) }
    val merged = merges.zipWithIndex.map { case ((l, r), t) => (l + r, 26 + t) }
    (merged.reverse ++ base.reverse).toMap // earliest occurrence wins
  }

  /** Encode documents to flattened token-ID sequences: one row per
    * (doc, position) in document order — what a packing/training
    * pipeline consumes. Map-side end to end (the vocab rides as a
    * literal map; posexplode is a generator, not a shuffle).
    */
  def bpeEncodeIds(df: DataFrame, textCol: String, idCol: String,
                   merges: Array[(String, String)]): DataFrame = {
    val vocab = bpeVocab(merges)
    val vocabMap = map(vocab.toSeq.sortBy(_._2).flatMap {
      case (tok, id) => Seq(lit(tok), lit(id))
    }: _*)
    bpeTokenize(df, textCol, merges)
      .select(col(idCol), posexplode(col("bpe")).as(Seq("pos", "_tok")))
      .select(col(idCol), col("pos"), element_at(vocabMap, col("_tok")).as("token_id"))
  }

  /** BYTE-level BPE training (the GPT-2 byte alphabet, Sennrich's
    * algorithm applied to UTF-8 bytes; both public): word types are
    * WHITESPACE-split pieces of the RAW text — case, digits,
    * punctuation, and multi-byte scripts (CJK, Arabic, Cyrillic) all
    * participate, closing the documented [a-z]+ gap of [[bpeTrain]] —
    * and symbols are byte sequences. Returns (left bytes, right bytes,
    * pairCount) in rank order; the fit is [[bpeFit]].
    */
  def bpeTrainBytes(df: DataFrame, textCol: String, nMerges: Int
                   ): Array[(Array[Byte], Array[Byte], Long)] =
    bpeFit(df.select(explode(filter(split(col(textCol), "\\s+"),
        w => length(w) > 0)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt")), nMerges)

  /** The one BPE trainer: `nMerges` merges over a (word: string,
    * cnt: long) word-type frame whose symbols start as the words'
    * UTF-8 bytes. Each merge is the most frequent adjacent pair
    * (overlaps counted; ties: max count, then unsigned byte order on
    * l then r — Spark's BinaryType ordering and DuckDB's blob memcmp,
    * so the oracles replay the fit exactly), applied to every word by
    * the greedy [[graft.dsp.Bpe.applyMergeB]].
    *
    * Scale shape: the state is the word-type frame, vocabulary-sized
    * rather than corpus-sized (vocabulary grows ~O(corpus^0.6), and at
    * 100 TB the fit runs on a hashSplit sample). [[graft.Local]] picks
    * the path from one aggregate over the cached types, which also
    * materializes the cache: types + Σ bytes elements, one per initial
    * symbol and one per count.
    *   - Within the budget the types collect once through
    *     [[graft.Local.collect]], each partition packed as its words'
    *     concatenated bytes, word ends and counts, and the merge loop
    *     runs on the driver: one job instead of nMerges sequential
    *     (shuffle + 1-row collect) round-trips.
    *   - Over it, each merge is one partial-aggregated shuffle of pair
    *     counts, a one-row argmax collect and a map-side merge pass.
    *     Each merged state is localCheckpointed, so every argmax plan
    *     has the same depth and the loop's cost is linear in nMerges
    *     (a withColumn chain adds a plan node per merge, and Catalyst's
    *     cost on the deepening plan grows super-linearly).
    * Both paths give identical merges; PipelineSpec pins them equal
    * with engineered ties and bytes over 0x7F.
    */
  private def bpeFit(types: DataFrame, nMerges: Int
                    ): Array[(Array[Byte], Array[Byte], Long)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    graft.functions.Functions.install(types.sparkSession)
    val merges = graft.CacheUtil.eager { scope =>
      val words = scope.cache(types.select(encode(col("word"), "UTF-8").as("word"), col("cnt")))
      val n = words.agg(count(lit(1)), coalesce(sum(length(col("word"))), lit(0L))).head()
      if (graft.Local.fits(n.getLong(0) + n.getLong(1))) bpeFitLocal(words, nMerges)
      else bpeFitDistributed(words, nMerges)
    }
    require(merges.length == nMerges,
      s"BPE training ran out of pairs after ${merges.length} merges " +
        s"(every word is a single symbol); asked for $nMerges")
    merges
  }

  /** [[bpeFit]]'s driver loop over the collected (word bytes, cnt)
    * frame; stops early when no word has two symbols left.
    */
  private def bpeFitLocal(words: DataFrame, nMerges: Int
                         ): Array[(Array[Byte], Array[Byte], Long)] = {
    val spark = words.sparkSession
    import spark.implicits._
    val parts = graft.Local.collect(words) { it =>
      val (bytes, ends, cnts) = (Array.newBuilder[Byte], Array.newBuilder[Int], Array.newBuilder[Long])
      var end = 0
      it.foreach { r =>
        val w = r.getAs[Array[Byte]](0)
        bytes ++= w; end += w.length; ends += end; cnts += r.getLong(1)
      }
      (bytes.result(), ends.result(), cnts.result())
    }
    // one shared array per byte value: an initial symbol costs a reference
    val byteSym = Array.tabulate(256)(b => Array(b.toByte))
    val syms = parts.flatMap { case (bytes, ends, _) =>
      ends.indices.map { i =>
        val s = if (i == 0) 0 else ends(i - 1)
        Array.tabulate(ends(i) - s)(j => byteSym(bytes(s + j) & 0xff))
      }
    }
    val cnts = parts.flatMap(_._3)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Array[Byte], Long)]
    var more = true
    while (more && merges.length < nMerges) {
      if (merges.nonEmpty) {
        val (l, r, _) = merges.last
        var w = 0
        while (w < syms.length) { syms(w) = graft.dsp.Bpe.applyMergeB(syms(w), l, r); w += 1 }
      }
      val counts = new java.util.HashMap[(java.nio.ByteBuffer, java.nio.ByteBuffer), java.lang.Long]()
      var w = 0
      while (w < syms.length) {
        val s = syms(w)
        var i = 0
        while (i + 1 < s.length) {
          counts.merge((java.nio.ByteBuffer.wrap(s(i)), java.nio.ByteBuffer.wrap(s(i + 1))),
            cnts(w), (x, y) => x + y)
          i += 1
        }
        w += 1
      }
      var bestL: Array[Byte] = null
      var bestR: Array[Byte] = null
      var bestC = -1L
      counts.forEach { (k, c) =>
        val l = k._1.array(); val r = k._2.array()
        val better = c > bestC || (c == bestC && {
          val dl = java.util.Arrays.compareUnsigned(l, bestL)
          dl < 0 || (dl == 0 && java.util.Arrays.compareUnsigned(r, bestR) < 0)
        })
        if (better) { bestL = l; bestR = r; bestC = c }
      }
      more = !counts.isEmpty
      if (more) merges += ((bestL, bestR, bestC))
    }
    merges.toArray
  }

  /** [[bpeFit]]'s distributed loop over the cached (word bytes, cnt)
    * frame; stops early when no word has two symbols left.
    */
  private def bpeFitDistributed(words: DataFrame, nMerges: Int
                               ): Array[(Array[Byte], Array[Byte], Long)] = {
    var state = words.select(byteSymsC(col("word")).as("syms"), col("cnt"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Array[Byte], Long)]
    var more = true
    while (more && merges.length < nMerges) {
      if (merges.nonEmpty) {
        val (l, r, _) = merges.last
        state = state.withColumn("syms", bpeMergeBC(col("syms"), lit(l), lit(r)))
          .localCheckpoint(true)
      }
      val top = state.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      more = top.nonEmpty
      if (more) merges += ((top(0).getAs[Array[Byte]](0), top(0).getAs[Array[Byte]](1), top(0).getLong(2)))
    }
    merges.toArray
  }

  /** Tokenize raw text under a learned BYTE merge table and decode
    * straight back: adds `decoded` = the concatenation of every
    * word's decoded tokens in document order. Because byte-level
    * symbols cover the whole alphabet, decode∘encode reproduces the
    * text EXACTLY up to the whitespace the word split consumed —
    * the roundtrip the text_bpe_bytes_decode oracle gates over the
    * multilingual slice where [a-z]+ provably loses content. Pure
    * map-side (merges ride as literal arrays).
    */
  def bpeBytesRoundtrip(df: DataFrame, textCol: String,
                        merges: Array[(Array[Byte], Array[Byte])]): DataFrame = {
    graft.functions.Functions.install(df.sparkSession)
    val mL = typedLit(merges.map(_._1))
    val mR = typedLit(merges.map(_._2))
    df.withColumn("decoded", array_join(transform(
      filter(split(col(textCol), "\\s+"), w => length(w) > 0),
      w => decode(aggregate(
        bpeEncodeBC(encode(w, "UTF-8"), mL, mR),
        lit(Array.emptyByteArray),
        (acc, tk) => concat(acc, tk)), "UTF-8")), ""))
  }

  /** Unigram-LM tokenizer fit (Kudo 2018's SentencePiece unigram
    * algorithm, hard-EM variant — see [[graft.dsp.Unigram]]): the
    * word-type histogram aggregates DISTRIBUTEDLY (one shuffle,
    * partial-agg), and the bounded vocabulary-sized frame collects
    * for the driver-side EM — the same collect-a-model shape as
    * k-means; the fitted model then broadcasts back as literals for
    * map-side encoding. At 100 TB the histogram is the only
    * corpus-sized stage and it is one partial-aggregated pass.
    */
  def unigramTrain(df: DataFrame, textCol: String, maxLen: Int = 3,
                   seedDivisor: Long = 400L,
                   keepMulti: Int = 40,
                   maxTypes: Int = 1000000): graft.dsp.Unigram.Model = {
    // An open vocabulary (URLs, ids) makes the word-TYPE histogram
    // unbounded at 100 TB, so the collect is capped at the `maxTypes`
    // most frequent types — SentencePiece's own input-cap practice:
    // the frequency mass that drives the fit lives in the head. The
    // cut is deterministic ((cnt desc, word asc), a bounded-heap
    // TakeOrdered — maxTypes rows per partition cross, never the
    // vocabulary) and coverage stays total: fit() seeds every single
    // CHARACTER of the kept types, and encode-time characters outside
    // them would fail LOUDLY, never silently.
    require(maxTypes >= 1, s"maxTypes must be >= 1, got $maxTypes")
    val hist = df
      .select(explode(filter(split(col(textCol), "\\s+"),
        w => length(w) > 0)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val words = hist
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(maxTypes)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    graft.dsp.Unigram.fit(words, maxLen, seedDivisor, keepMulti)
  }

  /** Production-scale unigram-LM fit (VERDICT r19 #1 — the shape
    * SentencePiece actually trains with, Kudo 2018 §4, public). Unlike
    * [[unigramTrain]] — the small-config variant whose ENTIRE fit a
    * DuckDB oracle replays bit-for-bit — every corpus-sized stage here
    * stays DISTRIBUTED, so the parameter point a real pipeline needs
    * (a 32k-piece vocabulary, maxLen 8–16, a million-type word
    * histogram) is structurally reachable:
    *
    *  - Seed (`seed_sentencepiece_size` practice): the substring
    *    histogram — all positions, lengths 1..maxLen, weighted by
    *    word-type count — partial-aggregates in ONE shuffle, and only
    *    the top `seedSize` multi-char candidates by (count desc,
    *    piece asc) collect, plus every single character (the
    *    full-coverage/roundtrip invariant). Driver state is
    *    O(seedSize + alphabet), never O(all substrings) — the r19
    *    all-substrings driver HashMap this replaces was ~10⁸ entries
    *    at production parameters.
    *  - E-step (SOFT, Kudo 2018's actual estimator — hard-Viterbi
    *    counting concentrates all mass on the single best path and
    *    collapses the candidate pool long before a large target is
    *    reachable): the word-TYPE frame runs a forward/backward
    *    lattice pass MAP-SIDE under the broadcast-literal model (the
    *    [[graft.functions.DspExpr]] unigramExp kernel), emitting
    *    per-piece EXPECTED occurrence counts quantized to integer
    *    micro-units plus each word's marginal log-likelihood Z;
    *    exact-integer partial aggregation brings back one
    *    vocabulary-sized frame per round — so the whole fit is
    *    bit-deterministic across partitionings and cluster sizes.
    *  - Prune loop (SentencePiece's iterative shrink): after each
    *    round keep all single chars + the top max(targetMulti,
    *    ceil(shrinkKeep · current)) multi-char pieces by (expected
    *    count desc, piece asc), re-scored with Laplace (+1 word)
    *    smoothing, until exactly `targetMulti` remain; then
    *    `finalRounds` more EM rounds at the fixed vocabulary.
    *
    * The EM monotonicity invariant is GATED, not assumed: on every
    * fixed-vocabulary round the corpus marginal loglik must not
    * decrease beyond the documented quantization tolerance of 1
    * micro-nat per word occurrence (each word's Z rounds to an
    * integer micro-nat before the exact-integer aggregation) — see
    * [[graft.dsp.Unigram.LargeFit.monotoneOk]]. Rounds that PRUNE
    * legitimately lower Z and are excluded (monotonicity is only
    * defined at fixed vocabulary).
    *
    * Encoding under the fitted model stays Viterbi
    * ([[unigramEncode]]) — SentencePiece's default decode too.
    */
  def unigramTrainLarge(df: DataFrame, textCol: String, maxLen: Int = 8,
                        seedSize: Int = 20000, targetMulti: Int = 4096,
                        shrinkKeep: Double = 0.75, finalRounds: Int = 2
                       ): graft.dsp.Unigram.LargeFit = {
    import graft.dsp.Unigram
    require(maxLen >= 2, s"maxLen must be >= 2, got $maxLen")
    require(targetMulti >= 1 && seedSize >= targetMulti,
      s"need seedSize ($seedSize) >= targetMulti ($targetMulti) >= 1")
    require(shrinkKeep > 0.0 && shrinkKeep < 1.0,
      s"shrinkKeep must be in (0,1), got $shrinkKeep")
    require(finalRounds >= 1, s"finalRounds must be >= 1, got $finalRounds")
    graft.functions.Functions.install(df.sparkSession)
    graft.CacheUtil.eager { scope =>
      val hist = scope.cache(df
        .select(explode(filter(split(col(textCol), "\\s+"),
          w => length(w) > 0)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt")))
      // the driver Viterbi kernel indexes UTF-16 code units while
      // Spark's substring counts code points — identical only on BMP
      // text; and U+001F is the kernel's reserved path separator.
      // Loud, never silently divergent (same contract as the small fit).
      val bad = hist.filter(col("word").contains("\u001f") ||
        col("word").rlike("[\\x{10000}-\\x{10FFFF}]")).count()
      require(bad == 0, s"$bad word type(s) contain the reserved " +
        "separator U+001F or non-BMP characters (surrogate pairs)")
      // distributed seed: one partial-aggregated substring histogram
      val subs = scope.cache(hist.select(col("cnt"), explode(expr(
          s"flatten(transform(sequence(1, length(word)), i -> " +
          s"transform(sequence(i, least(length(word), i + ${maxLen - 1})), " +
          s"j -> substring(word, i, j - i + 1))))")).as("piece"))
        .groupBy("piece").agg(sum("cnt").as("c")))
      val chars = subs.filter(length(col("piece")) === 1)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val seedMulti = subs.filter(length(col("piece")) > 1)
        .orderBy(col("c").desc, col("piece").asc).limit(seedSize)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      scope.release(subs)
      require(chars.nonEmpty, "unigram fit needs a non-empty corpus")
      require(seedMulti.length >= targetMulti,
        s"corpus yields only ${seedMulti.length} multi-char seed " +
        s"candidates — targetMulti=$targetMulti unreachable; lower the " +
        "target or raise maxLen")
      val totalWords = BigInt(hist.agg(sum(col("cnt"))).collect()(0).getLong(0))
      // EM-input partitioning: measured (optimization round 22), the
      // session's 32-way split of the cached histogram is NOT
      // scheduling waste — coalescing the EM input to one
      // types-per-partition-sized task made text_unigram_large
      // 3.7 → 7.2 s (the soft-lattice over compound word types is
      // ~15–25 µs/type of real CPU per round, so the 32 tasks each
      // carry ~15 ms of genuine work). Left at the inherited
      // partitioning; the treeReduce gate below handles the
      // many-partition scale end.
      val charNames = chars.map(_._1)
      val totSeed = (chars.iterator ++ seedMulti.iterator).map(_._2.toDouble).sum
      var vocab: Array[String] = (charNames ++ seedMulti.map(_._1))
        .sortWith(Unigram.utf8Cmp(_, _) < 0)
      var scores: Map[String, Long] = (chars.iterator ++ seedMulti.iterator)
        .map { case (p, c) => p -> Unigram.q(c.toDouble, totSeed) }.toMap
      var prevLl: BigInt = null
      var prunedLastRound = true // round 1 has no fixed-vocab predecessor
      var lastCounts: collection.Map[String, BigInt] = null
      val stats = scala.collection.mutable.ArrayBuffer.empty[Unigram.RoundStat]
      var nMulti = seedMulti.length
      var remainingFinal = finalRounds
      var round = 0
      var done = false
      while (!done) {
        round += 1
        require(round <= 1000, "unigram prune loop failed to converge")
        // E-step: map-side soft lattice over word types with the
        // WHOLE partial aggregation inside the task (optimization
        // round 21, guide §2.4/§4.2): each task builds the trie model
        // once from the broadcast vocabulary, runs the lattice over
        // its cached word types, and accumulates exact-integer
        // expected counts (BigInt — corpus-scale cnt × nano-count
        // products overflow Long) in a local map; the driver merges
        // one vocab-sized partial per partition. ZERO shuffle per
        // round — the previous explode → decimal groupBy wrote and
        // mmap-fetched 32×32 tiny shuffle blocks per round, which
        // jstack sampling showed dominating the round wall. Integer
        // sums are associative/commutative, so the result is
        // bit-identical under any partitioning (the same argument the
        // decimal aggregation used). The "" sentinel lane carries
        // Σ count·Z = the corpus marginal loglik, as before.
        val spark0 = df.sparkSession
        val bcVocab = spark0.sparkContext.broadcast((vocab, vocab.map(scores)))
        val mlCap = maxLen
        // Two-level combine (optimization round 22, VERDICT r21 #2):
        // partials (vocab + 1 lanes each) that fit the [[graft.Local]]
        // budget collect flat and merge on the driver; otherwise they
        // treeReduce on the EXECUTORS and the driver receives ONE
        // O(vocab) array per round, not partitions × vocab lanes (a
        // 100 TB scale bug at 10⁴–10⁵ partitions). treeReduce adds a
        // shuffle stage per round (text_unigram_large 2.5 → 4.0 s when
        // unconditional). BigInteger sums are associative/commutative,
        // so both paths give bit-identical totals (hash-oracle-verified).
        val merged: Array[(String, Array[Byte])] = {
          import spark0.implicits._
          val partials = hist.select(col("word"), col("cnt")).as[(String, Long)]
            .mapPartitions { it =>
              val (psA, lqA) = bcVocab.value
              val m = Unigram.UniModel.build(psA, lqA, mlCap)
              val acc = new java.util.HashMap[String, java.math.BigInteger]()
              var z = java.math.BigInteger.ZERO
              it.foreach { case (w, c) =>
                val (pairs, zw) = Unigram.lattice(w, m)
                val cB = java.math.BigInteger.valueOf(c)
                var i = 0
                while (i < pairs.length) {
                  val add = java.math.BigInteger.valueOf(pairs(i)._2).multiply(cB)
                  acc.merge(pairs(i)._1, add, (a, b) => a.add(b))
                  i += 1
                }
                z = z.add(java.math.BigInteger.valueOf(zw).multiply(cB))
              }
              val out = new Array[(String, Array[Byte])](acc.size() + 1)
              val jt = acc.entrySet().iterator()
              var k = 0
              while (jt.hasNext) {
                val e = jt.next()
                out(k) = (e.getKey, e.getValue.toByteArray); k += 1
              }
              out(k) = ("", z.toByteArray)
              Iterator.single(out)
            }
          // a lane counts as 8 elements (driver heap in [[graft.Local]])
          val lanes = graft.Width.width(partials.toDF()).toLong * (vocab.length + 1)
          if (graft.Local.fits(8 * lanes))
            partials.rdd.collect().reduceLeft(Unigram.mergePartials)
          else partials.rdd.treeReduce(Unigram.mergePartials _, depth = 2)
        }
        bcVocab.destroy()
        var ll: BigInt = BigInt(0)
        val counts = scala.collection.mutable.HashMap.empty[String, BigInt]
        merged.foreach { case (p, bytes) =>
          val e = BigInt(new java.math.BigInteger(bytes))
          if (p.isEmpty) ll += e
          else counts.updateWith(p) {
            case Some(v) => Some(v + e); case None => Some(e) }
        }
        require(merged.nonEmpty, "lattice sentinel row missing (empty corpus?)")
        val vocabChanged = prunedLastRound
        val gain = if (vocabChanged) BigInt(0) else ll - prevLl
        require(vocabChanged || gain >= -totalWords,
          s"soft-EM round $round lost marginal likelihood ($gain micro-" +
          s"nats) beyond the ±1-micro-nat-per-word quantization tolerance")
        prevLl = ll
        lastCounts = counts
        // prune + M-step (Laplace re-score over micro-unit counts)
        val curMulti = nMulti
        val multiKept: Array[String] =
          if (curMulti > targetMulti) {
            val keepK = math.max(targetMulti,
              math.ceil(shrinkKeep * curMulti).toInt)
            val surv = vocab.filter(p =>
              p.length > 1 && counts.getOrElse(p, BigInt(0)) > 0)
            require(surv.length >= targetMulti,
              s"only ${surv.length} multi-char pieces carry expected mass " +
              s"after round $round — targetMulti=$targetMulti unreachable; " +
              "lower the target or raise seedSize")
            surv.sortWith { (a, b) =>
              val ca = counts(a); val cb = counts(b)
              ca > cb || (ca == cb && Unigram.utf8Cmp(a, b) < 0)
            }.take(keepK)
          } else vocab.filter(_.length > 1)
        prunedLastRound = multiKept.length != curMulti
        nMulti = multiKept.length
        vocab = (charNames ++ multiKept).sortWith(Unigram.utf8Cmp(_, _) < 0)
        // Laplace: +1 word occurrence = +EQuant count units per piece
        val tot = vocab.iterator
          .map(p => counts.getOrElse(p, BigInt(0)).toDouble).sum
        scores = vocab.iterator.map(p => p ->
          Unigram.q(counts.getOrElse(p, BigInt(0)).toDouble + Unigram.EQuant,
            tot + Unigram.EQuant * vocab.length)).toMap
        stats += Unigram.RoundStat(round, nMulti, ll, gain, vocabChanged)
        if (nMulti <= targetMulti) {
          // a round that BEGAN at the target vocabulary is a final round
          if (curMulti <= targetMulti) remainingFinal -= 1
          done = remainingFinal <= 0
        }
      }
      val pieces = vocab.map { p =>
        val e = lastCounts.getOrElse(p, BigInt(0))
        (p, if (e > Long.MaxValue) Long.MaxValue else e.toLong, scores(p))
      }
      Unigram.LargeFit(pieces, stats.toArray, totalWords)
    }
  }

  /** Map-side unigram encode under a fitted model: `unigram_tokens` =
    * each whitespace word's Viterbi pieces, concatenated in document
    * order. Zero shuffle — the vocab rides as two literal arrays and
    * the kernel caches its lookup map per task.
    */
  def unigramEncode(df: DataFrame, textCol: String,
                    model: graft.dsp.Unigram.Model): DataFrame =
    unigramEncode(df, textCol, model.pieces)

  /** As above, over a raw (piece, count, micro-nat score) vocabulary —
    * the [[unigramTrainLarge]] output shape.
    */
  def unigramEncode(df: DataFrame, textCol: String,
                    pieces: Array[(String, Long, Long)]): DataFrame = {
    graft.functions.Functions.install(df.sparkSession)
    val ps = typedLit(pieces.map(_._1).toSeq)
    val lq = typedLit(pieces.map(_._3).toSeq)
    df.withColumn("unigram_tokens", flatten(transform(
      filter(split(col(textCol), "\\s+"), w => length(w) > 0),
      w => unigramEncC(w, ps, lq))))
  }

  /** Deterministic train/val/test assignment from a stable content
    * hash of the id: bucket = first 15 hex digits of md5(id) mod 10000
    * (permille-level granularity). Reproducible across runs, engines
    * and cluster sizes — no RNG, no sampling drift; map-side only.
    */
  def hashSplit(df: DataFrame, idCol: String,
                valPermille: Int = 50, testPermille: Int = 50): DataFrame = {
    require(valPermille + testPermille < 1000, "val+test must leave room for train")
    val bucket = (conv(substring(md5(encode(col(idCol).cast("string"), "UTF-8")), 1, 15),
      16, 10).cast("long") % 10000)
    df.withColumn("_bucket", bucket)
      .withColumn("split",
        when(col("_bucket") < valPermille * 10, lit("val"))
          .when(col("_bucket") < (valPermille + testPermille) * 10, lit("test"))
          .otherwise(lit("train")))
      .drop("_bucket")
  }

  /** Winnowing fingerprints (k-codepoint rolling hash, window-min,
    * dedup): one row per kept fingerprint.
    */
  def fingerprintFrame(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 8, w: Int = 4): DataFrame = {
    graft.functions.Functions.install(df.sparkSession)
    df.select(col(idCol), explode(winnowC(normalize(col(textCol)), k, w)).as("fp"))
  }

  /** Salted deterministic hash bucket in [0, 10000): the sampling
    * twin of hashSplit's bucket. The salt decorrelates independent
    * decisions made from the same id — sampling with the split's
    * bucket would preferentially eat the val/test permille ranges.
    */
  private def saltedBucket(idCol: String, salt: String): Column =
    conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 15),
      16, 10).cast("long") % 10000

  /** Deterministic per-stratum rate sampling — the corpus-reweighting
    * primitive of a training-data mix (e.g. keep 20% of "en", all of
    * "de"): a row survives iff its salted hash bucket falls below
    * rate×10000. Map-side only — no shuffle, no RNG: reproducible
    * across runs, engines and cluster sizes, and stable under corpus
    * growth (a kept doc stays kept when more data arrives, unlike
    * rand()-based sampling, so incremental pipeline re-runs don't
    * churn the training set). Strata values absent from `rates` get
    * `defaultRate`. Rate granularity is 1/10000 (permyriad).
    */
  def sampleByRates(df: DataFrame, idCol: String, strataCol: String,
                    rates: Seq[(String, Double)],
                    defaultRate: Double = 1.0): DataFrame = {
    require((defaultRate +: rates.map(_._2)).forall(r => r >= 0.0 && r <= 1.0),
      "sampling rates must be in [0, 1]")
    val thr = rates.foldRight(lit(math.round(defaultRate * 10000).toInt): Column) {
      case ((sv, r), els) =>
        when(col(strataCol) === sv, lit(math.round(r * 10000).toInt)).otherwise(els)
    }
    df.filter(saltedBucket(idCol, "smp|") < thr)
  }

  /** Deterministic domain-mixture resampling — the corpus-mixing step
    * of a training-data pipeline (Pile/DoReMi-style target weights):
    * downsample each listed domain so the SURVIVING corpus matches the
    * target proportions while keeping the maximum possible data. The
    * binding domain (smallest count_d/w_d) keeps 100%; every other
    * rate follows as rate_d = w_d·K/count_d with K = min_d(count_d/w_d).
    * Domains not listed are dropped.
    *
    * Domain counts are one partial-aggregatable hash agg collected to
    * the driver — bounded control-plane rows (one per LISTED domain),
    * the same collect-a-model shape as kmeansFit's centroid table. The
    * accept test is [[sampleByRates]]'s salted permyriad bucket: zero
    * shuffle on the corpus side, no RNG, growth-stable. Realized
    * mixture is within 1/10000 of target per domain (rate rounding).
    */
  def mixtureSample(df: DataFrame, idCol: String, domainCol: String,
                    weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty, "mixtureSample: need at least one domain weight")
    require(weights.forall(_._2 > 0.0), "mixtureSample: weights must be positive")
    val within = df.filter(col(domainCol).isin(weights.map(_._1): _*))
    val counts = within.groupBy(col(domainCol)).agg(count(lit(1)).as("_c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = weights.map(_._1).filterNot(counts.contains)
    require(missing.isEmpty,
      s"mixtureSample: no rows for domain(s) ${missing.mkString(", ")}")
    val k = weights.map { case (d, w) => counts(d) / w }.min
    val rates = weights.map { case (d, w) =>
      d -> math.min(1.0, w * k / counts(d))
    }
    sampleByRates(within, idCol, domainCol, rates, defaultRate = 0.0)
  }

  /** Deterministic per-stratum quota sample: the `n` rows with the
    * smallest salted hashes in each stratum, ranked 1..n (hash order,
    * ties by id) — "exactly 200 eval docs per language" without RNG.
    *
    * Implemented with the bounded-heap [[graft.functions.TopKAgg]]
    * over the NEGATED hash (its heap keeps largest): every map task
    * reduces its partition to ≤ n candidates per stratum BEFORE the
    * exchange, so the shuffle carries O(n × partitions × strata) rows
    * and the corpus never moves. The row_number() plan this replaces
    * would hash-partition whole strata and sort them — one straggler
    * task per mega-stratum ("en" is half the web) at 100 TB.
    *
    * `idCol` must be integral (the heap entry is (long, long)); the
    * rank order matches SQL `ROW_NUMBER() OVER (PARTITION BY stratum
    * ORDER BY hash, id)` exactly.
    */
  def quotaSample(df: DataFrame, idCol: String, strataCol: String, n: Int): DataFrame = {
    require(n > 0, "quota must be positive")
    // fail fast on a non-integral id column: a string id would cast to
    // null long, TopKAgg would skip it, and the sample would come back
    // partial or empty with no error (ADVICE r7)
    val idType = df.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(idType),
      s"quotaSample: idCol '$idCol' must be integral (got $idType) — " +
        "the bounded-heap entry carries it as a long")
    val negh = -conv(substring(md5(concat(lit("quota|"), col(idCol).cast("string"))), 1, 15),
      16, 10).cast("long")
    df.select(col(strataCol).as("stratum"), negh.as("_negh"),
        col(idCol).cast("long").as("_id"))
      .groupBy("stratum")
      .agg(graft.functions.TopKAgg.topK(col("_negh"), col("_id"), n).as("_top"))
      .select(col("stratum"), posexplode(col("_top")).as(Seq("_pos", "_e")))
      .select(col("stratum"), (col("_pos") + 1).cast("int").as("rank"),
        col("_e.id").as(idCol))
  }

  /** Sequence packing (concat-and-chunk): lay documents end-to-end in
    * deterministic id order and cut fixed `ctxLen`-token training
    * sequences; emits one row per (doc, bin) the document overlaps,
    * with the in-bin offset and token count — the index a packed-batch
    * writer needs to assemble sequences (and to attribute each
    * training token back to its source doc). Zero-token documents
    * occupy no span and emit nothing.
    *
    * Scale shape — the global running offset is a FULLY DISTRIBUTED
    * two-level PREFIX SUM (VERDICT r8 #5: no driver collect at any
    * level): (1) per-bucket token sums (`id div bucketSpan`, one
    * partial-aggregated shuffle over O(nDocs/bucketSpan) groups);
    * (2) per-SUPERBUCKET sums (`bucket div superFan`, a second
    * partial-aggregated shuffle over O(nBuckets/superFan) groups)
    * cumsum'd in the plan's only single-partition window — its input
    * is nDocs/(bucketSpan·superFan) rows (~60 at 10⁹ docs on the
    * defaults), the bounded sequential point every parallel prefix
    * sum has; (3) superbucket offsets broadcast-join back onto the
    * bucket sums, where a per-superbucket window (≤ superFan rows per
    * partition, parallel across superbuckets) finishes the bucket
    * offsets; (4) bucket offsets join back onto the docs — unhinted,
    * so AQE broadcasts the O(nBuckets) frame while it is small and
    * shuffle-joins when it is not — and a bucket-local window cumsum
    * runs one parallel task per bucket. All arithmetic is integral,
    * so the oracle (a plain global cumsum window) matches exactly.
    */
  def packChunks(df: DataFrame, idCol: String, nTokCol: String, ctxLen: Int,
                 bucketSpan: Long = 4096L, superFan: Long = 4096L): DataFrame = {
    require(ctxLen > 0, "ctxLen must be positive")
    require(bucketSpan > 0, "bucketSpan must be positive")
    require(superFan > 0, "superFan must be positive")
    // integral ids only (same contract and rationale as quotaSample): a
    // numeric-string id would bucket numerically but cumsum-order
    // lexicographically — silently wrong offsets
    val idType = df.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(idType),
      s"packChunks: idCol '$idCol' must be integral (got $idType) — " +
        "the global packing order is numeric id order")
    // null/negative token counts fail loudly (chained into _n so the
    // guard cannot be pruned): a null would NPE opaquely in the bucket
    // collect, a negative would silently shift every later document's
    // offset — the same input class RangeJoin drops up front
    val nTokGuard = assert_true(
      col(nTokCol).isNotNull && col(nTokCol) >= 0,
      lit(s"packChunks: $nTokCol must be a nonnegative, non-null token count"))
    val withB = df
      .select(col(idCol),
        when(nTokGuard.isNull, col(nTokCol).cast("long")).as("_n"))
      .withColumn("_b", expr(s"CAST($idCol AS BIGINT) div $bucketSpan"))
    val unbounded = org.apache.spark.sql.expressions.Window.unboundedPreceding
    val bs = withB.groupBy("_b").agg(sum(col("_n")).as("_bs"))
      .withColumn("_sb", expr(s"_b div $superFan"))
    val ss = bs.groupBy("_sb").agg(sum(col("_bs")).as("_ss"))
    // the one sequential point: a single-partition cumsum over the
    // superbucket sums — nDocs/(bucketSpan*superFan) rows by design
    val wSb = org.apache.spark.sql.expressions.Window
      .orderBy("_sb").rowsBetween(unbounded, -1)
    val ssOff = ss
      .withColumn("_soff", coalesce(sum(col("_ss")).over(wSb), lit(0L)))
      .select("_sb", "_soff")
    // bucket offsets: superbucket base + in-superbucket cumsum
    // (parallel across superbuckets, <= superFan rows per partition)
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("_sb").orderBy("_b").rowsBetween(unbounded, -1)
    val bOff = bs.join(broadcast(ssOff), "_sb")
      .withColumn("_off", col("_soff") + coalesce(sum(col("_bs")).over(wB), lit(0L)))
      .select("_b", "_off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_b").orderBy(col(idCol))
      .rowsBetween(unbounded, -1)
    val spans = withB.join(bOff, "_b")
      .withColumn("_cum", coalesce(sum(col("_n")).over(w), lit(0L)))
      .withColumn("_start", col("_off") + col("_cum"))
      .filter(col("_n") > 0)
      .withColumn("_bin",
        explode(expr(s"sequence(_start div $ctxLen, (_start + _n - 1) div $ctxLen)")))
    // bin stays BIGINT: at the design scale (tens of trillions of
    // tokens / ctxLen 512) the global bin index overflows an INT, and
    // a non-ANSI cast would wrap silently; the in-bin columns are
    // < ctxLen and safely INT
    spans.select(col(idCol),
      col("_bin").as("bin"),
      (greatest(col("_bin") * ctxLen, col("_start")) - col("_bin") * ctxLen)
        .cast("int").as("off_in_bin"),
      (least((col("_bin") + 1) * ctxLen, col("_start") + col("_n")) -
        greatest(col("_bin") * ctxLen, col("_start"))).cast("int").as("n_toks"))
  }

  /** Token-balanced shard assignment — "write the corpus as N training
    * shards with near-equal token mass": docs rank globally by
    * (weight DESC, id) and shard round-robin by rank, the classic
    * sorted-greedy LPT approximation, so shard totals differ by at
    * most ~max(weight). Deterministic, no RNG.
    *
    * The global rank is computed WITHOUT the single-partition window
    * Spark gives `row_number() OVER (ORDER BY …)` — and WITHOUT
    * `spark_partition_id()` over a range exchange, which is NOT stable
    * across the two jobs this needs (each action re-plans the
    * exchange; AQE may re-cut its partitions differently, which
    * silently shifted ranks at the 10× corpus). Instead the split is
    * pinned in the PLAN itself: a bounded deterministic hash-sample of
    * ordering keys picks ~`buckets` composite literal boundaries, a
    * codegen'd comparison chain assigns each row its bucket (ties
    * split by id, exactly the sort order), bucket counts (one
    * partial-aggregated shuffle of `buckets` rows) turn into broadcast
    * prefix offsets, and a per-bucket window finishes the rank. Same
    * control-plane-collect shape as [[packChunks]]; ONE full-data
    * shuffle (the bucket window's), deterministic by construction.
    */
  def shardByWeight(df: DataFrame, idCol: String, weightCol: String,
                    nShards: Int, buckets: Int = 0,
                    sampleKeysPerBucket: Int = 200): DataFrame = {
    require(nShards > 0, "shardByWeight: nShards must be positive")
    val p =
      if (buckets > 0) buckets
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // ascending composite ordering key: (-weight, id) == (weight DESC, id)
    val nw = -col(weightCol).cast("double")
    val idL = col(idCol).cast("long")
    val cnt = df.count()
    if (cnt == 0)
      return df.withColumn("rank", lit(0L)).withColumn("shard", lit(0))
        .filter(lit(false))
    // bounded control-plane collect #1: ~p·sampleKeysPerBucket hash-
    // sampled keys (deterministic md5 threshold — no RNG, stable
    // across jobs and reruns)
    val want = p.toLong * sampleKeysPerBucket
    val permyriad = math.min(10000L, math.max(1L, want * 10000L / cnt))
    val sampled = df
      .filter(conv(substring(md5(concat(lit("shardbnd|"),
        col(idCol).cast("string"))), 1, 15), 16, 10).cast("long") % 10000L
        < lit(permyriad))
      .select(nw.as("_nw"), idL.as("_id"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).sorted
    val step = math.max(1, sampled.length / p)
    val bounds = (step until sampled.length by step).map(sampled).distinct
    // bucket(x) = #{boundaries <= key(x)} — a codegen'd comparison
    // chain over literal pairs; equal-weight runs split by id, so no
    // boundary tie can straddle nondeterministically
    val bucket = bounds.foldLeft(lit(0)) { case (acc, (bw, bid)) =>
      acc + when(nw > lit(bw) || (nw === lit(bw) && idL >= lit(bid)), 1)
        .otherwise(0)
    }
    val withB = df.withColumn("_b", bucket)
    // bounded control-plane collect #2: one row per bucket
    val counts = withB.groupBy("_b").agg(count(lit(1)).as("_c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offs = counts.scanLeft(0L)(_ + _._2)
    val offDf = broadcast(df.sparkSession.createDataFrame(
      counts.map(_._1).zip(offs).toSeq).toDF("_b", "_off"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_b").orderBy(col(weightCol).desc, col(idCol))
    withB.join(offDf, "_b")
      .withColumn("rank", col("_off") + row_number().over(w))
      .withColumn("shard", ((col("rank") - 1) % nShards).cast("int"))
      .drop("_b", "_off")
  }

  /** Cross-document repeated n-gram coverage — the boilerplate /
    * benchmark-contamination signal of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"): a 3-word shingle is
    * "common" when it occurs in ≥ `minDocs` DISTINCT documents; per
    * document report total shingle occurrences, occurrences of common
    * shingles, and the covered fraction (docs with <3 words report
    * zeros). Decontamination against an eval set is this op with
    * `minDocs=1` and the shingle universe swapped for the benchmark's.
    *
    * Scale shape: document frequency comes from two hash aggregations
    * (groupBy(id, s) then groupBy(s)) — both partial-aggregatable, so
    * a universal boilerplate shingle ("click here to …" in 10⁹ docs)
    * is map-side combined instead of flooding one partition, which is
    * why this is NOT a count() window over s (windows have no partial
    * agg — the mega-shingle partition would straggle at 100 TB). The
    * common-shingle set joins back as a LEFT "is-common" flag and
    * unhinted: AQE broadcasts it when it is actually small
    * (boilerplate usually is) and falls back to a shuffle join when
    * it isn't; total and common occurrences then come out of ONE
    * per-doc aggregate, not two branches. The per-(doc, shingle)
    * occurrence frame is consumed twice (doc-frequency and the flag
    * join) and cached for the result's first execution — it is
    * bounded by the corpus token count, spills to disk, and is far
    * cheaper than recomputing the regex split + explode.
    */
  def commonNgramCoverage(df: DataFrame, idCol: String, textCol: String,
                          minDocs: Int = 2): DataFrame = graft.CacheUtil.result { scope =>
    require(minDocs >= 1, "minDocs must be >= 1")
    val occ = scope.cache(Dedup.shingleFrame(df, idCol, textCol)
      .groupBy(col(idCol), col("s")).agg(count(lit(1)).as("cnt")))
    // one row per (doc, shingle) above → count(*) = document frequency
    val common = occ.groupBy(col("s")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocs)
      .select(col("s"), lit(1).as("_common"))
    val perDoc = occ.join(common, Seq("s"), "left")
      .groupBy(col(idCol)).agg(
        sum(col("cnt")).as("n_sh"),
        sum(when(col("_common").isNotNull, col("cnt")).otherwise(lit(0L)))
          .as("n_common"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("coverage", when(col("n_sh") > 0,
        col("n_common").cast("double") / col("n_sh")).otherwise(lit(0.0)))
  }

  // ---- PII scrubbing --------------------------------------------------

  /** PII patterns restricted to the regex subset with identical
    * semantics in java.util.regex and RE2 (DuckDB): no lookaround, no
    * backreferences, no capture groups, ASCII \b. Email before IP
    * before phone: the sequential scrub means a pattern never matches
    * inside an earlier category's replacement token, and the counts
    * are taken at the corresponding stage so every character is
    * attributed to exactly one category.
    */
  val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val piiPhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Scrub emails, IPv4 addresses, and NANP-style phone numbers,
    * appending per-category match counts. Pure map-side builtin
    * regexp expressions (codegen'd, zero shuffle) — at 100 TB this is
    * scan-bound, exactly like the other per-doc text ops. Output:
    * input columns + text_scrubbed, n_email, n_ip, n_phone.
    */
  def piiScrub(df: DataFrame, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, piiEmailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, piiIpRe, "<IP>")
    val t3 = regexp_replace(t2, piiPhoneRe, "<PHONE>")
    df.withColumn("text_scrubbed", t3)
      .withColumn("n_email", size(regexp_extract_all(t0, lit(piiEmailRe), lit(0))))
      .withColumn("n_ip", size(regexp_extract_all(t1, lit(piiIpRe), lit(0))))
      .withColumn("n_phone", size(regexp_extract_all(t2, lit(piiPhoneRe), lit(0))))
  }

  // ---- Gopher quality rules -------------------------------------------

  /** Gopher-style document filter rules (Rae et al. 2021, "Scaling
    * Language Models", table A1 subset — the rules expressible without
    * a tokenizer): word count in [minWords, maxWords], mean word
    * length in [3, 10], symbol-to-word ratio ('#' or '...') ≤ 0.1,
    * ≥ 80% of words contain an alphabetic character, ≥ 2 stopwords
    * from a fixed English set. Per-rule booleans + the conjunction,
    * all map-side builtin expressions (no shuffle).
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherRules(df: DataFrame, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    // Unicode default (round 15): Gopher's word unit is the
    // whitespace token (it must RETAIN symbols — "##" is a word with
    // no letters, which is what the alpha rule measures — so the
    // `\p{L}+` extractor would make r_alpha vacuous), but the text is
    // NFC-folded first (decomposed and composed accents measure the
    // same word lengths) and the alpha test is `\p{L}`, not `[a-z]`:
    // under the ASCII class every Cyrillic/Greek/Arabic/CJK word
    // counted as non-alphabetic and r_alpha silently killed
    // non-Latin documents.
    graft.functions.Functions.install(df.sparkSession)
    val tn = lower(graft.functions.Functions.dsl.nfcC(col(textCol)))
    val ws = filter(split(tn, "\\s+"), w => w =!= "")
    val t = col(textCol)
    val nHash = length(t) - length(regexp_replace(t, "#", ""))
    val nEllipsis = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val out = df
      .withColumn("n_words", size(ws))
      .withColumn("mean_word_len",
        when(size(ws) > 0,
          aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / size(ws))
          .otherwise(lit(0.0)))
      .withColumn("symbol_ratio",
        when(size(ws) > 0, (nHash + nEllipsis).cast("double") / size(ws))
          .otherwise(lit(0.0)))
      .withColumn("alpha_frac",
        when(size(ws) > 0,
          size(filter(ws, w => w.rlike("\\p{L}"))).cast("double") / size(ws))
          .otherwise(lit(0.0)))
      .withColumn("n_stop", size(filter(ws,
        w => w.isin(gopherStopwords.map(_.asInstanceOf[Any]): _*))))
    out
      .withColumn("r_words", col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_word_len", col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("r_symbol", col("symbol_ratio") <= 0.1)
      .withColumn("r_alpha", col("alpha_frac") >= 0.8)
      .withColumn("r_stop", col("n_stop") >= 2)
      .withColumn("keep",
        col("r_words") && col("r_word_len") && col("r_symbol") &&
          col("r_alpha") && col("r_stop"))
  }

  /** Corpus-wide top-k most frequent words (heavy hitters), exact.
    *
    * Scale shape: one partial-aggregatable hash agg over exploded
    * words (the 10⁹-doc stopword combines map-side), then Spark's
    * TakeOrderedAndProject — a bounded per-partition heap + driver
    * merge of k rows per partition, NOT a global sort. Ties break on
    * the word so the cut is deterministic.
    */
  def topWords(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    df.select(explode(words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(k)
  }

  // ---- tf-idf ----------------------------------------------------------

  /** Per-document top-k TF-IDF terms (Sparck Jones 1972 weighting:
    * tf · ln(N/df)). Rank ties break on term text so the output is
    * deterministic.
    *
    * Scale shape: term frequencies and document frequencies are both
    * partial-aggregatable hash aggs (a stopword appearing in 10⁹ docs
    * map-side combines; neither is a window over raw term rows). The
    * tf⋈df join on term is left unhinted — AQE broadcasts a small
    * vocabulary and falls back with skew-join splitting for hot terms
    * otherwise. N arrives as a one-row broadcast, not a collect. The
    * rank window partitions by document — bounded groups (a doc's
    * distinct terms ≤ its length), hash-distributed, no mega-partition.
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String,
            topK: Int = 10): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val terms = df.select(col(idCol), explode(words(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // tf has one row per (doc, term) — count(*) by term IS document
    // frequency, no distinct needed
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"),
        col("tfidf"))
  }

  // ---- BM25 retrieval ---------------------------------------------------

  /** BM25 top-k retrieval (Robertson et al., Okapi TREC-3 1994; the
    * idf variant is Lucene's ln(1 + (N−df+0.5)/(df+0.5)), which is
    * always positive): score every document against a bag of query
    * terms and return the k best, ties on score broken by id. The
    * score is rounded to fixed point BEFORE the top-k cut so the
    * selected set is reproducible across engines (a raw double cut
    * would let two engines disagree about documents 1e-16 apart at
    * the k boundary).
    *
    * Scale shape: the `isin(queryTerms)` filter lands directly on the
    * exploded term stream (rows for non-query terms die before any
    * shuffle); per-(doc,term) tf and per-term df are partial-
    * aggregatable hash aggs; doc length needs NO explode at all
    * (`size(words(text))` is a map-side scalar); N and avgdl arrive
    * as a one-row broadcast; the final top-k is a bounded-heap
    * TakeOrdered (k rows per partition cross the exchange, never the
    * corpus). The tf⋈docLen join is keyed on the doc id — AQE
    * broadcasts the small matched-doc side at daily-query scale.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], topK: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(topK >= 1, "topK must be >= 1")
    val dlen = df.select(col(idCol), size(words(col(textCol))).cast("long").as("dl"))
    val stats = dlen.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = df.select(col(idCol), explode(words(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term").join(dlen, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("_idf", log(lit(1.0) +
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("_s", col("_idf") * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
    scored.groupBy(col(idCol))
      .agg(graft.Tables.fp4(sum(col("_s"))).as("bm25_fp"),
        count(lit(1)).as("n_hit"))
      .orderBy(col("bm25_fp").desc, col(idCol))
      .limit(topK)
  }

  // ---- n-gram LM quality scoring ----------------------------------------

  /** CCNet-style LM quality signal (Wenzek et al. 2020, reduced to a
    * corpus-trained bigram model): score each document by its mean
    * bigram log-probability ln P(w₂|w₁) = ln((c(w₁w₂)+1)/(c(w₁)+V))
    * (add-one smoothing, V = vocabulary size). Fluent/common text
    * scores high; gibberish and rare-token soup score low.
    *
    * Scale shape: bigram and unigram counts are partial-aggregatable
    * hash aggs over exploded tokens (the "of the" bigram of 10⁹ docs
    * map-side combines); V is a one-row broadcast; the score join on
    * bigram is unhinted (AQE broadcast/skew-split); the per-doc mean
    * is one last hash agg. Four scan-shaped passes, no windows, no
    * driver data. Docs with < 2 words score NULL (no bigrams).
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), words(col(textCol)).as("_ws"))
      .filter(size(col("_ws")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(_ws) - 2), i -> struct(_ws[i] AS w1, _ws[i+1] AS w2))"))
        .as("_bg"))
      .select(col(idCol), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
    val big = toks.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val uni = df.select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val scored = toks
      .join(big, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("_lp", log((col("c2") + 1).cast("double") / (col("c1") + col("v"))))
    val perDoc = scored.groupBy(col(idCol))
      .agg(avg(col("_lp")).as("lm_score"), count(lit(1)).as("n_bigrams"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("lm_score"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
  }

  // ---- benchmark contamination ----------------------------------------

  /** Decontamination check against an eval/benchmark set (Lee et al.
    * 2022 §5; Brown et al. 2020 appendix C): a training doc is
    * contaminated when it shares a 3-word shingle with any benchmark
    * doc. Per doc: total shingle occurrences, occurrences hitting the
    * benchmark shingle universe, and the flag.
    *
    * Scale shape: the benchmark side is an eval set — thousands of
    * docs, not billions — so its DISTINCT shingle set is small; the
    * join is left UNHINTED and AQE broadcasts it at runtime (a
    * `broadcast()` hint would OOM the driver if someone passes a huge
    * "benchmark"). The corpus side is the same two partial-
    * aggregatable hash aggs as [[commonNgramCoverage]] — no windows,
    * no skew-prone shuffle on raw shingles.
    */
  def contamination(df: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchIdCol: String,
                    benchTextCol: String): DataFrame = {
    val occ = Dedup.shingleFrame(df, idCol, textCol)
      .groupBy(col(idCol), col("s")).agg(count(lit(1)).as("cnt"))
    val bsh = Dedup.shingleFrame(bench, benchIdCol, benchTextCol)
      .select(col("s")).distinct().withColumn("_hit", lit(1))
    val perDoc = occ.join(bsh, Seq("s"), "left")
      .groupBy(col(idCol)).agg(
        sum(col("cnt")).as("n_sh"),
        sum(when(col("_hit").isNotNull, col("cnt")).otherwise(lit(0L)))
          .as("n_contam"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"))
      .withColumn("contaminated", col("n_contam") > 0)
  }

  // ---- collocations -----------------------------------------------------

  /** Collocation extraction by pointwise mutual information:
    * PMI(x,y) = ln(N·c(xy) / (c(x)·c(y))) over adjacent-word bigrams,
    * keeping pairs seen at least `minCount` times — the lexical-
    * association tool (multi-word expressions, tokenizer merge
    * candidates, Church & Hanks 1990). Top-k by (PMI fp6 DESC,
    * bigram) so the cut is deterministic.
    *
    * Scale shape: bigram and unigram counts are the same partial-
    * aggregatable hash aggs as [[lmScore]]; the count joins are
    * unhinted (AQE broadcasts a small vocabulary); N is a one-row
    * broadcast; the final top-k is TakeOrderedAndProject (bounded
    * per-partition heaps, never a global sort). All inputs to the ln
    * are exact integers, so the fp6 PMI replays exactly.
    */
  def collocations(df: DataFrame, textCol: String, minCount: Int = 5,
                   topK: Int = 20): DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount and topK must be >= 1")
    val toks = df.select(words(col(textCol)).as("_ws"))
      .filter(size(col("_ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(_ws) - 2), i -> struct(_ws[i] AS w1, _ws[i+1] AS w2))"))
        .as("_bg"))
      .select(col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
    val big = toks.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val uni = df.select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val n = df.select(explode(words(col(textCol))).as("w"))
      .agg(count(lit(1)).as("_n"))
    big
      .join(uni.select(col("w").as("w1"), col("c1").as("_ca")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c1").as("_cb")), Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("pmi_fp", graft.Tables.fp6(
        log(col("_n").cast("double") * col("c12") /
          (col("_ca").cast("double") * col("_cb")))))
      .select(col("w1"), col("w2"), col("c12"), col("pmi_fp"))
      .orderBy(col("pmi_fp").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  // ---- inverted index ---------------------------------------------------

  /** Inverted-index shard layout (the IR/BM25 indexing primitive): one
    * row per (term, doc) posting with term frequency, first/last
    * position, and an md5 digest of the full ascending position list,
    * joined to per-term document frequency and collection frequency.
    *
    * The layout is deliberately (term, doc)-granular, NOT one row per
    * term with a collected posting list: a stopword-class term's
    * postings are unbounded at 100 TB (billions of docs), so the
    * scale-safe index is term-partitioned SHARDS of bounded rows —
    * exactly what a distributed search engine stores. Positions stay
    * bounded by the single document's length.
    *
    * Scale shape: tokenize + posexplode map-side; one partial-
    * aggregatable hash agg keyed (term, doc) builds the postings; a
    * second keyed (term) builds df/cf; the stats join back is left
    * unhinted (AQE broadcasts a small vocabulary, shuffles a huge one,
    * and skew-splits the stopword keys). No windows, no collects.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      posexplode(words(col(textCol))).as(Seq("_pos", "term")))
    val postings = toks.groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"),
        (min(col("_pos")) + 1).as("first_pos"),
        (max(col("_pos")) + 1).as("last_pos"),
        md5(encode(concat_ws(",",
          transform(sort_array(collect_list(col("_pos") + 1)),
            _.cast("string"))), "UTF-8")).as("pos_md5"))
    val stats = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    postings.join(stats, Seq("term"))
      .select(col("term"), col(idCol), col("tf"), col("df"), col("cf"),
        col("first_pos"), col("last_pos"), col("pos_md5"))
  }

  // ---- retrieval chunking ----------------------------------------------

  /** Overlapping retrieval chunks (the RAG indexing transform): cut
    * each document's token stream into `chunkTokens`-token windows
    * every `stride` tokens (overlap = chunkTokens − stride), last
    * window ragged. Chunk count = 1 + ⌈max(0, n − chunkTokens) /
    * stride⌉, computed in INTEGER arithmetic ((x + stride−1) div
    * stride) so engines can't disagree by a float ulp.
    *
    * Scale shape: pure map-side — tokenize, explode a per-row integer
    * sequence, slice; zero shuffle, scan-bound, fully codegen'd. The
    * chunk content ships as its md5 (what a vector indexer would key
    * on), not the text, so output width stays bounded.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    require(stride >= 1 && stride <= chunkTokens,
      "stride must be in [1, chunkTokens]")
    df.select(col(idCol), words(col(textCol)).as("_ws"))
      .withColumn("_n", size(col("_ws")))
      .filter(col("_n") > 0)
      .withColumn("_nch",
        expr(s"1 + ((greatest(_n - $chunkTokens, 0) + ${stride - 1}) div $stride)"))
      .select(col(idCol), col("_ws"), col("_n"),
        explode(expr("sequence(0, _nch - 1)")).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx").cast("int").as("chunk_idx"),
        (col("chunk_idx") * stride).cast("int").as("start_tok"),
        least(lit(chunkTokens), col("_n") - col("chunk_idx") * stride)
          .cast("int").as("n_toks"),
        md5(encode(concat_ws(" ",
          slice(col("_ws"), col("chunk_idx") * stride + 1,
            least(lit(chunkTokens), col("_n") - col("chunk_idx") * stride))),
          "UTF-8")).as("chunk_md5"))
  }

  // ---- naive-Bayes text classifier --------------------------------------

  /** Multinomial Naive Bayes text classifier (the fastText/DCLM-style
    * quality- or domain-classifier shape, with the hashed-logistic fit
    * replaced by closed-form count estimation so training is ONE hash
    * aggregate instead of SGD): train on the rows where `trainPred` is
    * true, score every other row against every label, predict the
    * argmax of ln P(l) + Σ_w ln P(w|l) with add-one smoothing
    * P(w|l) = (c(l,w)+1)/(tot_l+V).
    *
    * Determinism: every per-token log-probability is rounded to the
    * fp6 grid (1e-6) BEFORE summing, so document scores are sums of
    * BIGINTs — exact under any partition/merge order and bit-identical
    * across engines (the kmeans/PQ assignment trick); the argmax
    * breaks score ties toward the alphabetically first label.
    *
    * Scale shape: the model fit is two partial-aggregatable hash aggs
    * (label×word counts; label totals) plus three one-row/one-per-label
    * broadcast frames — closed-form, no iteration, no driver data.
    * Scoring explodes test tokens ×|labels| via a broadcast of the
    * per-label constants (|labels| is small by construction), then
    * left-joins the model on (label, word) — left UNHINTED so AQE
    * broadcasts a small vocabulary and shuffles a huge one. The
    * per-document argmax is a min-of-struct aggregate over the
    * |labels| rows per doc — bounded groups, partial-aggregated. No
    * collects anywhere.
    *
    * Test ids must be unique: a duplicated id fails the execution
    * with the id in the message (the same aggregate counts each id's
    * rows against the label count), never merges two documents'
    * tokens into one score.
    */
  def nbClassify(df: DataFrame, idCol: String, labelCol: String,
                 textCol: String, trainPred: Column): DataFrame = graft.CacheUtil.result { scope =>
    val train = df.filter(trainPred)
    val test = df.filter(!trainPred)
    val trainToks = train.select(col(labelCol).as("_l"),
      explode(words(col(textCol))).as("_w"))
    // ONE tokenize→explode→shuffle over the training corpus
    // (optimization round 22, guide §2.3 "aggregate before you
    // shuffle" / §5 reuse): `tot` and `vocab` previously re-ran the
    // explode lineage as separate aggregations — per-label token
    // totals are the sum of the (label, word) counts and the vocab is
    // their distinct word set, both derivable from the tiny c2 frame
    // (labels × vocab rows, the model itself). c2 is cached for its
    // four consumers and freed after the first consuming action.
    val c2 = scope.cache(trainToks.groupBy(col("_l"), col("_w"))
      .agg(count(lit(1)).as("_c")))
    val tot = c2.groupBy(col("_l")).agg(sum(col("_c")).as("_tot"))
    val vocab = c2.agg(count_distinct(col("_w")).as("_v"))
    val nTrain = train.agg(count(lit(1)).as("_n_train"))
    // one row per label, but THREE broadcast consumers (model,
    // tokScores, scores) — uncached, each broadcast job re-ran the
    // whole train-side aggregation lineage (round 22, guide §5)
    val labelStats = scope.cache(train.groupBy(col(labelCol).as("_l"))
      .agg(count(lit(1)).as("_n_l"))
      .join(tot, Seq("_l"))
      .crossJoin(broadcast(vocab))
      .crossJoin(broadcast(nTrain))
      .select(col("_l"), col("_tot"), col("_v"),
        graft.Tables.fp6(log(col("_n_l").cast("double") / col("_n_train")))
          .as("_prior_fp"),
        graft.Tables.fp6(log(lit(1.0) / (col("_tot") + col("_v"))))
          .as("_default_fp")))
    val model = c2.join(labelStats.select(col("_l"), col("_tot"), col("_v")),
        Seq("_l"))
      .select(col("_l"), col("_w"),
        graft.Tables.fp6(log((col("_c") + lit(1)).cast("double") /
          (col("_tot") + col("_v")))).as("_lp_fp"))
    val testToks = test.select(col(idCol), explode(words(col(textCol))).as("_w"))
    val tokScores = testToks
      .crossJoin(broadcast(labelStats.select(col("_l"), col("_default_fp"))))
      .join(model, Seq("_l", "_w"), "left")
      .groupBy(col(idCol), col("_l"))
      .agg(sum(coalesce(col("_lp_fp"), col("_default_fp"))).as("_tok_fp"))
    val scores = test.select(col(idCol), col(labelCol))
      .crossJoin(broadcast(labelStats.select(col("_l"), col("_prior_fp"))))
      .join(tokScores, Seq(idCol, "_l"), "left")
      .withColumn("score_fp", col("_prior_fp") + coalesce(col("_tok_fp"), lit(0L)))
    // argmax by (score_fp DESC, _l ASC) as a partial-aggregatable
    // min-of-struct (negated score makes lexicographic min pick the
    // winner) instead of a row_number window — one hash agg with
    // map-side partials replaces the window's exchange + sort
    // (round 22, guide §2.3/§2.4); same winner row by construction.
    // Each test row is crossed with every label, so a unique id has
    // exactly one row per label and a duplicated one a multiple of it.
    val nLabels = labelStats.agg(count(lit(1)).as("_nlab"))
    scores
      .groupBy(col(idCol))
      .agg(min(struct((-col("score_fp")).as("_neg"), col("_l"))).as("_m"),
        min(col(labelCol)).as(labelCol), count(lit(1)).as("_rows"))
      .crossJoin(broadcast(nLabels))
      .filter(when(col("_rows") =!= col("_nlab"), raise_error(concat(
        lit(s"nbClassify: duplicate test id in $idCol: "),
        coalesce(col(idCol).cast("string"), lit("NULL"))))).otherwise(lit(true)))
      .select(col(idCol), col("_m._l").as("pred_label"), col(labelCol),
        (col("_m._l") === col(labelCol)).as("correct"),
        (-col("_m._neg")).as("score_fp"))
  }
}
