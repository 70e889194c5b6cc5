package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheUtil, Width}
import graft.Tables.{load, fp2, fp4, fp6, fpSql}
import graft.operators.{Ann, Dedup, Multimodal, TextOps}

/** Training-data pipeline anchor queries (SURVEY.md §2.2) over the
  * documents/embeddings tables, every one with a DuckDB oracle — the
  * hash families (md5 string-min, md5-parity hyperplanes, nibble-
  * parsed simhash) are chosen to be reproducible bit-for-bit in SQL.
  */
object Pipeline {

  /** The documents table, spread on doc_id by [[graft.Width.spread]]
    * for the compute-heavy text, dedup and image kernels downstream
    * (filters and pruning push through the RepartitionByExpression).
    */
  private def docs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Functions.install(s)
    Width.spread(load(s, dir, "documents"), "doc_id")
  }

  /** embeddings stays UNREPARTITIONED: unlike the text kernels, every
    * Ann/emb consumer either joins or aggregates immediately (its own
    * exchange redistributes the work), so the docs()-style repartition
    * only added a 32-task exchange per query — measured as a
    * regression (ann_topk_opq 3.2 → 4.3 s, emb_knn_graph 0.3 → 0.7 s)
    * and reverted.
    */
  private def embs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Functions.install(s)
    load(s, dir, "embeddings")
  }

  /** Deterministic multilingual corpus slice (VERDICT r12 #2): the
    * driver's documents table is ASCII-only, so each doc gets a
    * non-Latin phrase appended, chosen by doc_id % 12 from a fixed
    * table covering accented Latin (precomposed AND decomposed — index
    * 1 spells café/crème with combining U+0301/U+0300, which must
    * NFC-fold to the same tokens index 0 produces), CJK (Han,
    * Hiragana, Katakana), RTL (Arabic, Hebrew), Cyrillic and Greek.
    * Both engines build the identical augmented text from the same
    * literals, so every downstream hash is replayable.
    */
  private val uPhrases: Seq[String] = Seq(
    "café au lait crème",
    "café au lait crème", // decomposed: NFC-folds to index 0
    "über die Brücke",
    "naïve façade résumé",
    "東京都 渋谷区",
    "北京大学 计算机",
    "こんにちは 世界",
    "カタカナ テスト",
    "مرحبا بالعالم",
    "שלום עולם",
    "Привет мир",
    "γειά σου κόσμε")

  private def uDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("_ut",
      concat(col("text"), lit(" "),
        element_at(typedLit(uPhrases), (col("doc_id") % 12).cast("int") + 1)))

  private val uPhrasesSqlList: String =
    uPhrases.map(p => s"'${p.replace("'", "''")}'").mkString("[", ", ", "]")

  private val uDocsSql: String =
    s"""ud AS (
       |  SELECT doc_id,
       |    concat(text, ' ', ($uPhrasesSqlList)[CAST(doc_id % 12 AS INT) + 1]) AS ut
       |  FROM documents
       |)""".stripMargin


  // ---- dedup --------------------------------------------------------

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("canonical_id"), col("is_dup"))
      .orderBy("doc_id")

  /** Span-level exact dedup (16-word windows, global first-occurrence
    * wins — Dedup.spanDedup). The oracle rebuilds the identical spans
    * with a correlated generate_series, ranks occurrences per span
    * content, and re-derives the cleaned-text md5; COALESCE('') covers
    * the all-spans-duplicated doc whose kept set is empty.
    */
  def dedupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.spanDedup(docs(s, dir), "doc_id", "text", span = 16)
      .orderBy("doc_id")

  private val dedupSpansSql: String =
    s"""WITH w AS (
      |  SELECT doc_id, ${uniWsSql("text")} AS ws
      |  FROM documents
      |), sp0 AS (
      |  SELECT doc_id,
      |    unnest([{'idx': i, 'span': array_to_string(ws[(i * 16 + 1):((i + 1) * 16)], ' ')}
      |            for i in generate_series(0, CAST(CEIL(len(ws) / 16.0) AS BIGINT) - 1)]) AS s
      |  FROM w WHERE len(ws) > 0
      |), sp AS (
      |  SELECT doc_id, CAST(s.idx AS INT) AS idx, s.span AS span FROM sp0
      |), k AS (
      |  SELECT doc_id, idx, span,
      |    ROW_NUMBER() OVER (PARTITION BY md5(span) ORDER BY doc_id, idx) AS rk
      |  FROM sp
      |)
      |SELECT doc_id, COUNT(*) AS n_spans,
      |  CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  md5(COALESCE(STRING_AGG(CASE WHEN rk = 1 THEN span END, ' ' ORDER BY idx), '')) AS clean_hash
      |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact-substring dedup: stride-1 sliding 8-word windows — catches
    * duplicates straddling span boundaries that dedup_spans' fixed
    * 16-word blocks quantize away (VERDICT r10 #5). The oracle
    * replays the window chain, the min-(doc_id, pos) first-occurrence
    * rule, and the interval-union coverage with LEAD — pure integer
    * arithmetic, hash-exact on both engines.
    */
  def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(docs(s, dir), "doc_id", "text", span = 8)
      .orderBy("doc_id")

  private val dedupSubstringSql: String =
    s"""WITH w AS (
      |  SELECT doc_id, ${uniWsSql("text")} AS ws
      |  FROM documents
      |), sp0 AS (
      |  SELECT doc_id,
      |    unnest([{'q': i - 1, 'win': array_to_string(ws[i:(i + 7)], ' ')}
      |            for i in generate_series(1, len(ws) - 7)]) AS s
      |  FROM w WHERE len(ws) >= 8
      |), win AS (
      |  SELECT doc_id, CAST(s.q AS BIGINT) AS q, md5(s.win) AS h FROM sp0
      |), k AS (
      |  SELECT doc_id, q,
      |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, q) AS rk
      |  FROM win
      |), cov AS (
      |  SELECT doc_id, q,
      |    LEAST(8, COALESCE(LEAD(q) OVER (PARTITION BY doc_id ORDER BY q) - q, 8)) AS c
      |  FROM k WHERE rk > 1
      |), agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup,
      |    CAST(SUM(c) AS BIGINT) AS dup_cov
      |  FROM cov GROUP BY 1
      |), nw AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows FROM win GROUP BY 1
      |)
      |SELECT nw.doc_id, nw.n_windows,
      |  COALESCE(a.n_dup, 0) AS n_dup, COALESCE(a.dup_cov, 0) AS dup_cov
      |FROM nw LEFT JOIN agg a ON a.doc_id = nw.doc_id
      |ORDER BY 1""".stripMargin

  private val dedupExactSql: String =
    """SELECT doc_id,
      |  MIN(doc_id) OVER (PARTITION BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS canonical_id,
      |  CAST(doc_id != MIN(doc_id) OVER (PARTITION BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS INT) AS is_dup
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Shared shingle/minhash/band CTEs (k=12, r=3 → 4 bands). The
    * `bsz`/`cand` tail replays Dedup.minhashCandidates' maxBucket=4096
    * cap, so the oracle drops exactly the buckets the engine drops —
    * the "oracle replays identical blocking" invariant holds even when
    * the cap binds (it never does on the test corpora, max bucket 4).
    */
  private def bandSqlFor(wCte: String): String =
    s"""WITH w AS (
      |  $wCte
      |), sh AS (
      |  SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                         for i in generate_series(1, len(ws) - 2)]) AS s
      |  FROM w WHERE len(ws) >= 3
      |), mh AS (
      |  SELECT doc_id, r.i,
      |    MIN(CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)) AS h
      |  FROM sh, range(12) r(i) GROUP BY 1, 2
      |), band AS (
      |  SELECT doc_id, i // 3 AS band, STRING_AGG(CAST(h AS VARCHAR), '|' ORDER BY i) AS sig
      |  FROM mh GROUP BY 1, 2
      |), bsz AS (
      |  SELECT band, sig, COUNT(*) AS n FROM band GROUP BY 1, 2
      |), cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM band x JOIN band y ON x.band = y.band AND x.sig = y.sig
      |  JOIN bsz z ON z.band = x.band AND z.sig = x.sig
      |  WHERE x.doc_id < y.doc_id AND z.n <= 4096
      |)""".stripMargin

  /** The DuckDB replay of TextOps.unicodeTokens — the round-15
    * DEFAULT tokenizer of every shingle-based dedup op: NFC fold,
    * Unicode lowercase, CJK char isolation, `\p{L}+` extraction. On
    * the pure-`[a-z ]` raw corpus it produces exactly the whitespace
    * split's tokens, so pre-flip oracles were already consistent;
    * on multilingual rows the two diverge and the hash gate binds.
    */
  private def uniWsSql(src: String): String =
    s"""regexp_extract_all(regexp_replace(lower(nfc_normalize($src)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[\\p{L}\\p{N}]+')"""

  private val bandSql: String = bandSqlFor(
    s"""SELECT doc_id, ${uniWsSql("text")} AS ws FROM documents""")

  /** MinHash+LSH candidate pairs under the DEFAULT (unicode)
    * tokenizer over the MULTILINGUAL slice (uDocs: every doc carries
    * an appended phrase cycling 12 scripts, including a decomposed-
    * accent twin of phrase 0) — the r14 verdict's "unicode is the
    * default, not a parallel path" closure. Binding is structural:
    * phrase-1 docs tokenize identically to phrase-0 docs ONLY through
    * the NFC fold, and CJK phrases contribute per-char tokens that a
    * whitespace split would fuse — either regression changes the
    * shingle sets and fails the pair-set hash.
    */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(
        uDocs(s, dir).select(col("doc_id"), col("_ut")), "doc_id", "_ut")
      .orderBy("a", "b")

  private val dedupMinhashLshSql: String =
    bandSqlFor(
      s"""WITH $uDocsSql
         |  SELECT doc_id, ${uniWsSql("ut")} AS ws FROM ud""".stripMargin) +
      "\nSELECT a, b FROM cand ORDER BY 1, 2"

  /** MinHash LSH with the shingle tokenizer swapped to
    * TextOps.unicodeTokens — the multilingual dedup path. The corpus
    * gains planted CJK near-dup pairs (one per doc_id%100==0 seed: a
    * Han/Hiragana/Katakana base doc plus a copy with one extra 世界
    * token, distinguished across seeds by a digits→letters marker) and
    * the gate is structural: CJK has no whitespace, so under the ASCII
    * pipeline each planted doc is <3 "words" and NEVER ENTERS
    * shingleFrame — the pairs are only discoverable because
    * unicodeTokens isolates CJK chars into per-char tokens. The oracle
    * replays the identical plant, tokenizer, minhash (md5 over UTF-8
    * bytes — both engines hash the same bytes), banding, cap, and pair
    * emission. The seed set is PINNED (doc_id < 500) so the planted
    * clique — all plants share the CJK base and are genuine near-dups
    * of each other — is a constant-size fixture: an unpinned plant
    * would grow an O(seeds²) pair clique with the corpus (measured
    * 745k rows at ×10) while the real corpus candidates scale like
    * dedup_minhash_lsh.
    */
  def dedupMinhashUnicode(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    val seed = base.filter(col("doc_id") % 100 === 0 && col("doc_id") < 500)
    val cjkBase = Seq(4, 5, 6, 7).map(uPhrases).mkString(" ")
    val marker = translate(col("doc_id").cast("string"),
      "0123456789", "abcdefghij")
    val v1 = seed.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(lit(cjkBase + " "), marker).as("text"))
    val v2 = seed.select((col("doc_id") + 2000000L).as("doc_id"),
      concat(lit(cjkBase + " "), marker, lit(" " + uPhrases(6).split(" ")(1))).as("text"))
    Dedup.minhashCandidates(base.unionByName(v1).unionByName(v2),
        "doc_id", "text", tok = TextOps.unicodeTokens)
      .orderBy("a", "b")
  }

  private val dedupMinhashUnicodeSql: String = {
    val cjkBase = Seq(4, 5, 6, 7).map(uPhrases).mkString(" ")
    val extra = uPhrases(6).split(" ")(1)
    val mk = "translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij')"
    bandSqlFor(
      s"""WITH corpus AS (
         |    SELECT doc_id, text FROM documents
         |    UNION ALL
         |    SELECT doc_id + 1000000, '$cjkBase ' || $mk FROM documents WHERE doc_id % 100 = 0 AND doc_id < 500
         |    UNION ALL
         |    SELECT doc_id + 2000000, '$cjkBase ' || $mk || ' $extra' FROM documents WHERE doc_id % 100 = 0 AND doc_id < 500
         |  )
         |  SELECT doc_id, regexp_extract_all(
         |    regexp_replace(lower(nfc_normalize(text)),
         |      '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'),
         |    '[\\p{L}\\p{N}]+') AS ws
         |  FROM corpus""".stripMargin) +
      "\nSELECT a, b FROM cand ORDER BY 1, 2"
  }

  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(docs(s, dir), "doc_id", "text", minJac = 0.8)
      .select(col("a"), col("b"), fp6(col("jac")).as("jac_fp"))
      .orderBy("a", "b")

  private val dedupNgramJaccardSql: String =
    s"""$bandSql, shd AS (
       |  SELECT DISTINCT doc_id, s FROM sh
       |), sz AS (
       |  SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY 1
       |), inter AS (
       |  SELECT c.a, c.b, COUNT(*) AS i
       |  FROM cand c JOIN shd x ON x.doc_id = c.a JOIN shd y ON y.doc_id = c.b AND y.s = x.s
       |  GROUP BY 1, 2
       |)
       |SELECT i.a, i.b,
       |  ${fpSql("CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i)", "1e6")} AS jac_fp
       |FROM inter i JOIN sz na ON na.doc_id = i.a JOIN sz nb ON nb.doc_id = i.b
       |WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.8
       |ORDER BY 1, 2""".stripMargin

  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.dupClusters(Dedup.minhashCandidates(docs(s, dir), "doc_id", "text"))
      .orderBy("doc_id")

  /** Transitive closure of the LSH pair graph (recursive CTE with
    * set-union termination), cluster id = min reachable id.
    */
  private val dedupClustersSql: String =
    s"""${bandSql.replaceFirst("WITH ", "WITH RECURSIVE ")}, e AS (
       |  SELECT a, b FROM cand UNION SELECT b AS a, a AS b FROM cand
       |), reach AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN e ON e.a = r.b
       |)
       |SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
       |FROM reach GROUP BY a ORDER BY 1""".stripMargin

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashFrame(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("sim_hi"), col("sim_lo"))
      .orderBy("doc_id")

  /** SQL twin of Bridge.simhash: per-word md5, leading 64 bits via
    * nibble parsing, tf-weighted ±1 votes, sign → bit.
    */
  private val dedupSimhashSql: String = {
    val nib = "(CASE substr(h.hx, b.b // 4 + 1, 1) " +
      (0 until 16).map(v => s"WHEN '${Integer.toHexString(v)}' THEN $v").mkString(" ") +
      " END)"
    val div = "(CASE b.b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)"
    s"""WITH w AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS wd FROM documents
       |), h AS (
       |  SELECT doc_id, wd, md5(wd) AS hx, COUNT(*) AS tf FROM w GROUP BY 1, 2, 3
       |), bits AS (
       |  SELECT h.doc_id, b.b,
       |    SUM(h.tf * (2 * (($nib // $div) % 2) - 1)) AS acc
       |  FROM h, range(64) b(b) GROUP BY 1, 2
       |)
       |SELECT doc_id,
       |  CAST(SUM(CASE WHEN b < 32 AND acc >= 0 THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END) AS BIGINT) AS sim_hi,
       |  CAST(SUM(CASE WHEN b >= 32 AND acc >= 0 THEN (CAST(1 AS BIGINT) << (63 - b)) ELSE 0 END) AS BIGINT) AS sim_lo
       |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  def dedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHam = 3)
      .orderBy("a", "b")

  /** Incremental dedup (Dedup.incrementalDedup): the doc_id%7 batch
    * deduped against the rest of the corpus as the persisted index —
    * exact content-hash lookup plus minhash-band probe with exact
    * Jaccard verify. The oracle rebuilds the hash table, the band
    * index, the cross-only candidate join, and the best-match rank.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame =
    Dedup.incrementalDedup(docs(s, dir), "doc_id", "text",
        col("doc_id") % 7 === 0, minJac = 0.5)
      .orderBy("doc_id")

  private val dedupIncrementalSql: String =
    s"""$bandSql, nx AS (
       |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
       |  FROM documents
       |), ih AS (
       |  SELECT h, MIN(doc_id) AS canonical_id FROM nx WHERE doc_id % 7 <> 0 GROUP BY 1
       |), ex AS (
       |  SELECT n.doc_id, i.canonical_id
       |  FROM nx n LEFT JOIN ih i ON i.h = n.h
       |  WHERE n.doc_id % 7 = 0
       |), xcand AS (
       |  SELECT DISTINCT x.doc_id AS nid, y.doc_id AS iid
       |  FROM band x JOIN band y ON x.band = y.band AND x.sig = y.sig
       |  WHERE x.doc_id % 7 = 0 AND y.doc_id % 7 <> 0
       |), shd AS (
       |  SELECT DISTINCT doc_id, s FROM sh
       |), sz AS (
       |  SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY 1
       |), inter AS (
       |  SELECT c.nid, c.iid, COUNT(*) AS i
       |  FROM xcand c JOIN shd x ON x.doc_id = c.nid
       |  JOIN shd y ON y.doc_id = c.iid AND y.s = x.s
       |  GROUP BY 1, 2
       |), jac AS (
       |  SELECT i.nid, i.iid,
       |    ${fpSql("CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i)", "1e6")} AS jfp
       |  FROM inter i JOIN sz na ON na.doc_id = i.nid JOIN sz nb ON nb.doc_id = i.iid
       |  WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5
       |), best AS (
       |  SELECT nid, iid, jfp FROM (
       |    SELECT nid, iid, jfp,
       |      ROW_NUMBER() OVER (PARTITION BY nid ORDER BY jfp DESC, iid) AS rk
       |    FROM jac) WHERE rk = 1
       |)
       |SELECT e.doc_id, (e.canonical_id IS NOT NULL) AS exact_dup,
       |  e.canonical_id,
       |  (b.iid IS NOT NULL) AS near_dup, b.iid AS best_match_id,
       |  b.jfp AS best_jac_fp
       |FROM ex e LEFT JOIN best b ON b.nid = e.doc_id
       |ORDER BY 1""".stripMargin

  /** Edit-distance verification of the simhash candidate pairs
    * (Dedup.editVerify): banded Levenshtein on normalized texts
    * arbitrates the banding's false positives; duplicate iff lev ≤ 32
    * edits, lev = −1 when provably above the budget. The oracle
    * recomputes the candidate set with the simhash-pairs SQL, runs
    * DuckDB's full levenshtein on the same normalized texts, and
    * applies the identical cap.
    */
  def dedupEdit(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.editVerify(d, "doc_id", "text",
        Dedup.simhashPairs(d, "doc_id", "text", maxHam = 3), maxEdits = 32)
      // oracle-determinism sort WITHOUT a range exchange: a global
      // orderBy samples its child for range boundaries, and this
      // child has no reusable shuffle above the DP — the whole verify
      // would execute TWICE (measured 2.1x at 10x scale). One bounded
      // single-partition sort of the k·n verdict rows instead.
      .repartition(1).sortWithinPartitions("a", "b")
  }

  private def dedupEditSql: String =
    s"""WITH nt AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents
       |)
       |SELECT p.a, p.b, p.hamming,
       |  CAST(CASE WHEN levenshtein(x.t, y.t) <= 32
       |       THEN levenshtein(x.t, y.t) ELSE -1 END AS BIGINT) AS lev,
       |  (levenshtein(x.t, y.t) <= 32) AS is_dup
       |FROM ($dedupSimhashPairsSql) p
       |JOIN nt x ON x.doc_id = p.a
       |JOIN nt y ON y.doc_id = p.b
       |ORDER BY 1, 2""".stripMargin

  /** Manku composite-key blocking twin of Dedup.simhashPairs: 6 blocks
    * (11+11+10 bits per 32-bit half), every C(6,3)=20 triple keyed as
    * bi<<22 | bj<<11 | bl, full-hamming verify, pair dedup. The CASE
    * over table ids is generated from the SAME combination list the
    * engine uses (Dedup.simhashCombos), so the blocking replays
    * bit-for-bit.
    */
  private val dedupSimhashPairsSql: String = {
    val inner = dedupSimhashSql.replace(" ORDER BY doc_id", "")
    // b0..b5 as DuckDB arithmetic on the nonnegative BIGINT halves
    val blk = IndexedSeq(
      "(sim_hi // 2097152)", "((sim_hi // 1024) % 2048)", "(sim_hi % 1024)",
      "(sim_lo // 2097152)", "((sim_lo // 1024) % 2048)", "(sim_lo % 1024)")
    val cases = graft.operators.Dedup.simhashCombos.zipWithIndex
      .map { case ((i, j, l), t) =>
        s"WHEN $t THEN ${blk(i)} * 4194304 + ${blk(j)} * 2048 + ${blk(l)}"
      }.mkString(" ")
    s"""WITH sig AS ($inner), k AS (
       |  SELECT doc_id, sim_hi, sim_lo, r.t,
       |    CASE r.t $cases END AS blk
       |  FROM sig, range(20) r(t)
       |)
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |  CAST(bit_count(xor(x.sim_hi, y.sim_hi)) + bit_count(xor(x.sim_lo, y.sim_lo)) AS BIGINT) AS hamming
       |FROM k x JOIN k y
       |  ON x.t = y.t AND x.blk = y.blk AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sim_hi, y.sim_hi)) + bit_count(xor(x.sim_lo, y.sim_lo)) <= 3
       |ORDER BY 1, 2""".stripMargin
  }

  /** Shared embedding CTEs, parameterized on plane count and bucket
    * derivation so the single-table ANN variant (8 planes, one bucket
    * per vector) and the banded near-dup variant (32 planes, (table,
    * bucket) pairs) use ONE definition of the md5-parity hyperplanes,
    * dot products, and norms — a fix to those must not need applying
    * twice.
    */
  private def embBaseSqlFor(nPlanes: Int, buckSelect: String): String =
    s"""WITH ee AS (
       |  SELECT vec_id, embedding FROM embeddings
       |), idx AS (
       |  SELECT unnest(generate_series(1, 64)) AS i
       |), pl AS (
       |  SELECT p.p, i.i,
       |    CASE WHEN substr(md5(p.p || ',' || (i.i - 1)), 1, 1)
       |         IN ('1','3','5','7','9','b','d','f') THEN -1.0 ELSE 1.0 END AS h
       |  FROM range($nPlanes) p(p), idx i
       |), dots AS (
       |  SELECT e.vec_id, p.p, SUM(CAST(e.embedding[p.i] AS DOUBLE) * p.h) AS d
       |  FROM ee e, pl p GROUP BY 1, 2
       |), buck AS (
       |  $buckSelect
       |), nrm AS (
       |  SELECT e.vec_id,
       |    SQRT(SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))) AS nr
       |  FROM ee e, idx i GROUP BY 1
       |)""".stripMargin

  /** 8-plane single-bucket base for the ANN oracles. */
  private val embBaseSql: String = embBaseSqlFor(8,
    """SELECT vec_id, CAST(SUM(CASE WHEN d >= 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY 1""".stripMargin)

  /** Shared ANN rerank tail: cosine-score the (qid, cid) pairs of a
    * preceding `dp` CTE, rank per query (score DESC, id), keep top k.
    */
  private def annRerankTailSql(k: Int): String =
    s""", scored AS (
       |  SELECT dp.qid, dp.cid,
       |    ${fpSql("dp.d / (na.nr * nb.nr)", "1e6")} AS score_fp
       |  FROM dp JOIN nrm na ON na.vec_id = dp.qid JOIN nrm nb ON nb.vec_id = dp.cid
       |), ranked AS (
       |  SELECT qid, cid, score_fp,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_fp DESC, cid) AS rk
       |  FROM scored
       |)
       |SELECT qid AS query_id, CAST(rk AS INT) AS rank, cid AS neighbor_id, score_fp
       |FROM ranked WHERE rk <= $k ORDER BY 1, 2""".stripMargin

  /** Mutual k-NN graph (Ann.knnGraph) over the vec_id%10 node sample:
    * undirected edges where BOTH endpoints rank the other in their
    * top-4 by cosine. Exact (brute kNN stage), so the oracle replays
    * the full graph: pairwise dots, fp6 cosine, (score DESC, id)
    * ranking, and the mutuality self-join.
    */
  def embKnnGraph(s: SparkSession, dir: String): DataFrame =
    Ann.knnGraph(embs(s, dir).filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", k = 4)
      .orderBy("a", "b")

  /** Mutual k-NN graph with the kNN stage swapped to the 100 TB path
    * (VERDICT r11 #2): trained-IVF coarse quantizer (√n-sized cells —
    * Ann.sizedCells, VERDICT r12 #5 — 2 Lloyd iterations) → IVF-PQ ADC
    * shortlist (k′=32, nProbe=8) → EXACT
    * cosine rerank of the shortlist (Ann.rerankExact — k′·n pairs,
    * never n²) → the same mutualization. The deliverable rows are the
    * exact brute-force graph (oracle-replayed verbatim), cross-joined
    * with a measured gate: the ANN-backed graph must recover ≥40% of
    * the exact graph's edges (measured 0.84 at sf0.01, 0.59 at sf0.1
    * with the sized quantizer — RecallProbe r13, tools/RecallProbe at
    * commit e9cc669; mutual edges square the per-direction miss
    * rate, so the floor
    * sits well under both while still killing any broken swap, which
    * measures ≤0.21 without the rerank tail). This converts the
    * "topkIvfPq is contract-identical" scale claim from prose to a
    * gated measurement.
    */
  def embKnnGraphIvfPq(s: SparkSession, dir: String): DataFrame = {
    val nodes = embs(s, dir).filter(col("vec_id") % 10 === 0)
    val exact = Ann.knnGraph(nodes, "vec_id", "embedding", k = 4)
    val cents = Ann.kmeansFit(nodes, "vec_id", "embedding",
      k = Ann.sizedCells(nodes.count()), iters = 2)
    val short = Ann.topkIvfPq(nodes,
      nodes.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      k = 32, nProbe = 8, nSub = 8, kSub = 16, iters = 2,
      centroids = Some(cents))
    val ann = Ann.knnGraphFrom(
      Ann.rerankExact(short, nodes, "vec_id", "embedding", k = 4))
    val hits = ann.select("a", "b")
      .join(exact.select("a", "b"), Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("_hits"))
    val denom = exact.agg(count(lit(1)).as("_n"))
    val gates = hits.crossJoin(denom)
      .select((col("_hits") >= col("_n") * lit(0.40)).as("edge_recall_ok"))
    exact.crossJoin(broadcast(gates)).orderBy("a", "b")
  }

  private val embKnnGraphSql: String =
    s"""WITH ee AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
       |), idx AS (
       |  SELECT unnest(generate_series(1, 64)) AS i
       |), nrm AS (
       |  SELECT e.vec_id,
       |    SQRT(SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))) AS nr
       |  FROM ee e, idx i GROUP BY 1
       |), dp AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS cid,
       |    SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)) AS d
       |  FROM ee a, ee b, idx i
       |  WHERE b.vec_id != a.vec_id
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT dp.qid, dp.cid,
       |    ${fpSql("dp.d / (na.nr * nb.nr)", "1e6")} AS score_fp
       |  FROM dp JOIN nrm na ON na.vec_id = dp.qid JOIN nrm nb ON nb.vec_id = dp.cid
       |), kn AS (
       |  SELECT qid, cid, score_fp FROM (
       |    SELECT qid, cid, score_fp,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_fp DESC, cid) AS rk
       |    FROM scored) WHERE rk <= 4
       |)
       |SELECT x.qid AS a, x.cid AS b, x.score_fp AS cos_fp
       |FROM kn x JOIN kn y ON y.qid = x.cid AND y.cid = x.qid
       |WHERE x.qid < x.cid
       |ORDER BY 1, 2""".stripMargin

  /** Same exact-graph replay plus the literal-TRUE recall gate (the
    * ann_topk_opq oracle pattern). */
  private val embKnnGraphIvfPqSql: String = {
    val marker = "AS cos_fp"
    require(embKnnGraphSql.indexOf(marker) == embKnnGraphSql.lastIndexOf(marker))
    embKnnGraphSql.replace(marker, marker + ", TRUE AS edge_recall_ok")
  }

  /** k-distance outliers (Ann.knnOutliers) over the vec_id%10 node
    * sample: isolation = cosine distance to the 4th nearest neighbor,
    * top-⌈n/10⌉ flagged via the bounded-heap cut — integer-exact end
    * to end, so the oracle replays both the distances and the flagged
    * set.
    */
  def embOutliers(s: SparkSession, dir: String): DataFrame =
    Ann.knnOutliers(embs(s, dir).filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", k = 4)
      .orderBy("node")

  private val embOutliersSql: String =
    s"""WITH ee AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
       |), idx AS (
       |  SELECT unnest(generate_series(1, 64)) AS i
       |), nrm AS (
       |  SELECT e.vec_id,
       |    SQRT(SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))) AS nr
       |  FROM ee e, idx i GROUP BY 1
       |), dp AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS cid,
       |    SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)) AS d
       |  FROM ee a, ee b, idx i
       |  WHERE b.vec_id != a.vec_id
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT dp.qid, dp.cid,
       |    ${fpSql("dp.d / (na.nr * nb.nr)", "1e6")} AS score_fp
       |  FROM dp JOIN nrm na ON na.vec_id = dp.qid JOIN nrm nb ON nb.vec_id = dp.cid
       |), kd AS (
       |  SELECT qid AS node, 1000000 - score_fp AS kdist_fp FROM (
       |    SELECT qid, cid, score_fp,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_fp DESC, cid) AS rk
       |    FROM scored) WHERE rk = 4
       |), nn AS (
       |  SELECT COUNT(*) AS n FROM kd
       |), fl AS (
       |  SELECT node, kdist_fp,
       |    ROW_NUMBER() OVER (ORDER BY kdist_fp DESC, node) AS rk
       |  FROM kd
       |)
       |SELECT f.node, CAST(f.kdist_fp AS BIGINT) AS kdist_fp,
       |  (f.rk <= (nn.n + 9) // 10) AS is_outlier
       |FROM fl f CROSS JOIN nn
       |ORDER BY 1""".stripMargin

  /** k-distance outliers with the kNN stage swapped to the 100 TB path
    * (VERDICT r12 #1): trained-IVF coarse quantizer → IVF-PQ ADC
    * shortlist → EXACT cosine rerank of the shortlist → the same
    * [[Ann.knnOutliersFrom]] heap cut. The deliverable rows are the
    * exact brute-force flag set (oracle-replayed verbatim by the
    * emb_outliers SQL) cross-joined with a measured gate: the
    * ANN-backed cut must recover ≥40% of the exact flagged set.
    *
    * kdist needs the TRUE 4th neighbor in the shortlist (a miss can
    * only OVERestimate kdist — the 4th-of-shortlist is at least as far
    * — which keeps isolates flagged but inflates borderline nodes into
    * the decile), so this query probes deeper than the mutual-graph
    * one: k′=96, nProbe=24 → 4-NN recall 1.00/0.97 and flag recall
    * 1.00/0.85 at sf0.01/sf0.1 with the √n-sized quantizer
    * (RecallProbe r13, tools/RecallProbe at commit e9cc669; the
    * shallow np=8/k′=32 config measured
    * 0.80/0.35 — straddling the floor, hence rejected).
    * emb_outliers stays as the oracle anchor; this key is the path a
    * 100 TB corpus runs: probes scan nProbe/nCells of the corpus as
    * 8-byte ADC codes plus a k′·n exact-rerank tail, never the n²
    * pair set with a corpus-sized broadcast (×100 probe: 94-169 s
    * ANN-family vs 534 s brute).
    */
  def embOutliersIvfPq(s: SparkSession, dir: String): DataFrame = CacheUtil.result { scope =>
    val nodes = scope.cache(embs(s, dir).filter(col("vec_id") % 10 === 0))
    val nNodes = nodes.count()
    val exact = scope.cache(Ann.knnOutliers(nodes, "vec_id", "embedding", k = 4))
    val cents = Ann.kmeansFit(nodes, "vec_id", "embedding",
      k = Ann.sizedCells(nNodes), iters = 2)
    val short = Ann.topkIvfPq(nodes,
      nodes.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      k = 96, nProbe = 24, nSub = 8, kSub = 16, iters = 2,
      centroids = Some(cents))
    val ann = Ann.knnOutliersFrom(
      Ann.rerankExact(short, nodes, "vec_id", "embedding", k = 4), k = 4)
    val hits = ann.filter(col("is_outlier"))
      .select(col("node"))
      .join(exact.filter(col("is_outlier")).select(col("node")),
        Seq("node"), "left_semi")
      .agg(count(lit(1)).as("_hits"))
    val denom = exact.filter(col("is_outlier"))
      .agg(count(lit(1)).as("_n"))
    val gates = hits.crossJoin(denom)
      .select((col("_hits") >= col("_n") * lit(0.40)).as("flag_recall_ok"))
    exact.crossJoin(broadcast(gates)).orderBy("node")
  }

  /** emb_outliers replay plus the literal-TRUE recall gate (the
    * emb_knn_graph_ivfpq oracle pattern). */
  private val embOutliersIvfPqSql: String = {
    val marker = "AS is_outlier"
    require(embOutliersSql.indexOf(marker) == embOutliersSql.lastIndexOf(marker))
    embOutliersSql.replace(marker, marker + ", TRUE AS flag_recall_ok")
  }

  /** Integer-fp6 PageRank (operators.Graph.pageRank) over the mutual
    * k-NN graph — graph centrality over the similarity structure, the
    * quality-propagation tool. Every arithmetic step is a long
    * add/multiply/floor-div (damping 17/20), so no float enters and
    * the oracle's five chained-CTE supersteps replay every rank
    * bit-for-bit.
    */
  def graphPagerank(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRank(
        Ann.knnGraph(embs(s, dir).filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", k = 4),
        "a", "b", iters = 5)
      .orderBy("node")

  private def graphPagerankSql: String = {
    val steps = (1 to 5).map { t =>
      s"""c$t AS (
         |  SELECT u.dst AS node, SUM(p.r // d.deg) AS s
         |  FROM und u JOIN r${t - 1} p ON p.node = u.src
         |  JOIN deg d ON d.node = u.src
         |  GROUP BY 1
         |), r$t AS (
         |  SELECT d.node, (150000 // nn.n) + (17 * COALESCE(c.s, 0)) // 20 AS r
         |  FROM deg d CROSS JOIN nn LEFT JOIN c$t c ON c.node = d.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH edges AS (
       |  SELECT a, b FROM ($embKnnGraphSql) q
       |), und AS (
       |  SELECT a AS src, b AS dst FROM edges
       |  UNION ALL SELECT b AS src, a AS dst FROM edges
       |), deg AS (
       |  SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY 1
       |), nn AS (
       |  SELECT COUNT(*) AS n FROM deg
       |), r0 AS (
       |  SELECT node, 1000000 // n AS r FROM deg, nn
       |), $steps
       |SELECT r5.node, CAST(d.deg AS BIGINT) AS deg, CAST(r5.r AS BIGINT) AS r_fp
       |FROM r5 JOIN deg d ON d.node = r5.node ORDER BY 1""".stripMargin
  }

  /** PageRank with the edge stage swapped to the 100 TB path (VERDICT
    * r12 #1): the SAME trained-IVF → IVF-PQ shortlist → exact-rerank →
    * mutualize chain emb_knn_graph_ivfpq gates, feeding the SAME
    * integer-fp6 pageRank — i.e. the full production pipeline actually
    * executes on the ANN graph. Two measured gates ride the exact
    * (oracle-replayed) rank rows:
    *   - edge_recall_ok: the ANN edge set recovers ≥40% of the exact
    *     mutual graph (measured 1.00/0.94 at sf0.01/sf0.1 at this
    *     query's k′=96/nProbe=24 depth with the √n-sized quantizer);
    *   - rank_agree_ok: the top-decile-by-pagerank node sets of the
    *     ANN-graph run and the exact-graph run overlap ≥40% (the
    *     end-to-end check that centrality SURVIVES the edge swap, not
    *     just the edges — measured 1.00/0.70 at sf0.01/sf0.1; the
    *     shallow np=8/k′=32 config measured 0.60/0.20, under the
    *     floor, hence this query probes deeper — see RecallProbe r13,
    *     tools/RecallProbe at commit e9cc669).
    * The brute variant (graph_pagerank) stays as the oracle anchor;
    * this key is what a 100 TB corpus runs — the ×100 probe measured
    * the ANN edge stage at 94 s vs 677 s brute with a corpus-growing
    * broadcast.
    */
  def graphPagerankIvfPq(s: SparkSession, dir: String): DataFrame = CacheUtil.result { scope =>
    // nodes feeds FIVE consumers (exact graph, kmeans fit, IVF-PQ
    // corpus, query set, rerank) plus the sizing count — cache once
    // so the count materializes the cache instead of an extra parquet
    // scan per consumer (ADVICE r13).
    val nodes = scope.cache(embs(s, dir).filter(col("vec_id") % 10 === 0))
    val nNodes = nodes.count()
    val exact = scope.cache(Ann.knnGraph(nodes, "vec_id", "embedding", k = 4))
    val cents = Ann.kmeansFit(nodes, "vec_id", "embedding",
      k = Ann.sizedCells(nNodes), iters = 2)
    val short = Ann.topkIvfPq(nodes,
      nodes.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      k = 96, nProbe = 24, nSub = 8, kSub = 16, iters = 2,
      centroids = Some(cents))
    val ann = scope.cache(Ann.knnGraphFrom(
      Ann.rerankExact(short, nodes, "vec_id", "embedding", k = 4)))
    val eHits = ann.select("a", "b")
      .join(exact.select("a", "b"), Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("_hits"))
    val eDenom = exact.agg(count(lit(1)).as("_n"))
    val edgeGate = eHits.crossJoin(eDenom)
      .select((col("_hits") >= col("_n") * lit(0.40)).as("edge_recall_ok"))
    val exactRanks = scope.cache(graft.operators.Graph.pageRank(exact, "a", "b", iters = 5))
    val annRanks = graft.operators.Graph.pageRank(ann, "a", "b", iters = 5)
    // the exact decile feeds BOTH the hit join and the denominator —
    // build it once and cache (round-14: the duplicated topDecile
    // calls each re-ran the TopKAgg and its sizing count)
    val exactTop = scope.cache(topDecile(scope, exactRanks))
    val rHits = topDecile(scope, annRanks)
      .join(exactTop, Seq("node"), "left_semi")
      .agg(count(lit(1)).as("_rhits"))
    val rDenom = exactTop.agg(count(lit(1)).as("_rn"))
    val rankGate = rHits.crossJoin(rDenom)
      .select((col("_rhits") >= col("_rn") * lit(0.40)).as("rank_agree_ok"))
    exactRanks.crossJoin(broadcast(edgeGate.crossJoin(rankGate)))
      .orderBy("node")
  }

  /** Top-⌈n/10⌉ nodes by (r_fp DESC, node ASC) via the bounded-heap
    * TopKAgg — no global sort, no window; n is the one-number
    * control-plane collect (the kmeansFit shape). */
  private def topDecile(scope: CacheUtil.Scope, ranks: DataFrame): DataFrame = {
    val n = scope.cache(ranks).count()
    val kTop = ((n + 9) / 10).toInt.max(1)
    ranks
      .agg(graft.functions.TopKAgg.topK(col("r_fp"), col("node"), kTop).as("_tk"))
      .select(explode(col("_tk")).as("_e"))
      .select(col("_e.id").as("node"))
  }

  /** graph_pagerank replay plus the two literal-TRUE gates. */
  private def graphPagerankIvfPqSql: String = {
    val base = graphPagerankSql
    val marker = "AS r_fp"
    require(base.indexOf(marker) == base.lastIndexOf(marker))
    base.replace(marker,
      marker + ", TRUE AS edge_recall_ok, TRUE AS rank_agree_ok")
  }

  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Ann.embeddingPairs(embs(s, dir), "vec_id", "embedding", minCos = 0.35)
      .orderBy("a", "b")

  /** Banded multi-table blocking twin of Ann.embeddingPairs (4 tables
    * × 8 planes): global plane index p in [0,32), table p//8, bit
    * p%8; candidates share any (table, bucket); exact-cosine verify.
    */
  private val dedupEmbeddingSql: String =
    s"""${embBaseSqlFor(32,
      """SELECT vec_id, p // 8 AS t,
        |    CAST(SUM(CASE WHEN d >= 0 THEN (1 << (p % 8)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY 1, 2""".stripMargin)}, cand AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM buck x JOIN buck y
       |    ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id
       |), dp AS (
       |  SELECT c.a, c.b,
       |    SUM(CAST(ea.embedding[i.i] AS DOUBLE) * CAST(eb.embedding[i.i] AS DOUBLE)) AS d
       |  FROM cand c JOIN ee ea ON ea.vec_id = c.a JOIN ee eb ON eb.vec_id = c.b, idx i
       |  GROUP BY 1, 2
       |)
       |SELECT d.a, d.b, ${fpSql("d.d / (na.nr * nb.nr)", "1e6")} AS cos_fp
       |FROM dp d JOIN nrm na ON na.vec_id = d.a JOIN nrm nb ON nb.vec_id = d.b
       |WHERE d.d / (na.nr * nb.nr) >= 0.35
       |ORDER BY 1, 2""".stripMargin

  /** SemDeDup (Dedup.semDedup — Abbas et al. 2023): trained k-means
    * clusters (the same √n-sized 2-Lloyd-iteration spherical fit the
    * trained-IVF query replays — Ann.sizedCells, so the expected
    * cluster size stays √n and the within-cluster pair cost stays
    * n·√n as the corpus grows, the paper's 50k-clusters-on-LAION
    * shape; VERDICT r12 #5) block the pairwise-cosine work; within
    * a cluster, any vector with a higher-priority neighbor at cosine ≥
    * 0.35 is dropped, priority = (centroid-cosine asc, id asc) — the
    * paper's keep-the-atypical rule made deterministic. The oracle
    * replays the whole chain: the Lloyd iterations, the argmax-dot
    * cell assignment, the fp6 centroid-cosine, the within-cluster
    * priority pairs, and the NOT EXISTS keep rule.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = CacheUtil.result { scope =>
    // cache before the sizing count so the quantizer-sizing action
    // materializes the cache the Lloyd iterations then scan, instead
    // of an extra bare parquet pass (ADVICE r13)
    val ee = scope.cache(embs(s, dir))
    Dedup.semDedup(ee, "vec_id", "embedding",
      minCos = 0.35, k = Ann.sizedCells(ee.count()), iters = 2)
      .orderBy("vec_id")
  }

  private val dedupSemanticSql: String =
    s"""WITH ee AS (
       |  SELECT vec_id, embedding FROM embeddings
       |), idx AS (
       |  SELECT unnest(generate_series(1, 64)) AS i
       |), kk AS (
       |  SELECT GREATEST(16, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k FROM ee
       |), ini AS (
       |  SELECT embedding, cell FROM (
       |    SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
       |    FROM ee) CROSS JOIN kk WHERE cell < kk.k
       |), inorm AS (
       |  SELECT n.cell,
       |    SQRT(SUM(CAST(n.embedding[i.i] AS DOUBLE) * CAST(n.embedding[i.i] AS DOUBLE))) AS nr
       |  FROM ini n, idx i GROUP BY 1
       |), c0 AS (
       |  SELECT n.cell, i.i,
       |    FLOOR(CAST(n.embedding[i.i] AS DOUBLE) / o.nr * 1e6 + 0.5) / 1e6 AS cv
       |  FROM ini n JOIN inorm o ON o.cell = n.cell, idx i
       |)${kmeansIterSql("c0", "c1", 1)}${kmeansIterSql("c1", "c2", 2)}, c2l AS (
       |  SELECT cell, list(cv ORDER BY i) AS cvl FROM c2 GROUP BY 1
       |), fd AS (
       |  SELECT e.vec_id, c.cell,
       |    list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvl) AS d
       |  FROM ee e JOIN c2l c ON TRUE
       |), asg AS (
       |  SELECT vec_id, cell, d FROM (
       |    SELECT vec_id, cell, d,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rk
       |    FROM fd) WHERE rk = 1
       |), nrm AS (
       |  SELECT e.vec_id,
       |    SQRT(SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))) AS nr
       |  FROM ee e, idx i GROUP BY 1
       |), base AS (
       |  SELECT a.vec_id, a.cell,
       |    ${fpSql("CASE WHEN n.nr > 0 THEN a.d / n.nr ELSE 0 END", "1e6")} AS cent_cos_fp
       |  FROM asg a JOIN nrm n ON n.vec_id = a.vec_id
       |), cand AS (
       |  SELECT x.vec_id AS xa, y.vec_id AS xb
       |  FROM base x JOIN base y ON x.cell = y.cell
       |  WHERE (y.cent_cos_fp < x.cent_cos_fp OR
       |         (y.cent_cos_fp = x.cent_cos_fp AND y.vec_id < x.vec_id))
       |), dp AS (
       |  SELECT c.xa, c.xb,
       |    SUM(CAST(ea.embedding[i.i] AS DOUBLE) * CAST(eb.embedding[i.i] AS DOUBLE)) AS d
       |  FROM cand c JOIN ee ea ON ea.vec_id = c.xa JOIN ee eb ON eb.vec_id = c.xb, idx i
       |  GROUP BY 1, 2
       |), dropped AS (
       |  SELECT DISTINCT dp.xa AS vec_id
       |  FROM dp JOIN nrm na ON na.vec_id = dp.xa JOIN nrm nb ON nb.vec_id = dp.xb
       |  WHERE dp.d / (na.nr * nb.nr) >= 0.35
       |)
       |SELECT b.vec_id, b.cell, b.cent_cos_fp, d.vec_id IS NULL AS keep
       |FROM base b LEFT JOIN dropped d ON d.vec_id = b.vec_id
       |ORDER BY 1""".stripMargin

  // ---- ANN ----------------------------------------------------------

  private def annQueries(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).filter(col("vec_id") < 10)

  def annTopkBruteforce(s: SparkSession, dir: String): DataFrame =
    Ann.topkBruteForce(embs(s, dir), annQueries(s, dir), "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")

  private val annTopkBruteforceSql: String =
    s"""$embBaseSql, q AS (
       |  SELECT vec_id AS qid FROM ee WHERE vec_id < 10
       |), dp AS (
       |  SELECT q.qid, c.vec_id AS cid,
       |    SUM(CAST(ea.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS d
       |  FROM q JOIN ee ea ON ea.vec_id = q.qid, ee c, idx i
       |  WHERE c.vec_id != q.qid
       |  GROUP BY 1, 2
       |)${annRerankTailSql(5)}""".stripMargin

  def annTopkLsh(s: SparkSession, dir: String): DataFrame =
    Ann.topkLsh(embs(s, dir), annQueries(s, dir), "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank")

  private val annTopkLshSql: String =
    s"""$embBaseSql, probes AS (
       |  SELECT q.vec_id AS qid, xor(q.bucket, m.m) AS pb
       |  FROM buck q, (VALUES (0),(1),(2),(4),(8),(16),(32),(64),(128)) m(m)
       |  WHERE q.vec_id < 10
       |), candq AS (
       |  SELECT DISTINCT p.qid, c.vec_id AS cid
       |  FROM probes p JOIN buck c ON c.bucket = p.pb
       |  WHERE c.vec_id != p.qid
       |), dp AS (
       |  SELECT cq.qid, cq.cid,
       |    SUM(CAST(ea.embedding[i.i] AS DOUBLE) * CAST(eb.embedding[i.i] AS DOUBLE)) AS d
       |  FROM candq cq JOIN ee ea ON ea.vec_id = cq.qid JOIN ee eb ON eb.vec_id = cq.cid, idx i
       |  GROUP BY 1, 2
       |)${annRerankTailSql(3)}""".stripMargin

  def annTopkIvf(s: SparkSession, dir: String): DataFrame =
    Ann.topkIvf(embs(s, dir), annQueries(s, dir), "vec_id", "embedding",
      k = 3, nCentroids = Some(16), nProbe = 4)
      .orderBy("query_id", "rank")

  /** IVF oracle: same deterministic quantizer (centroids = vec_id<16),
    * cell assignment and probes by inner product with (d DESC, cid)
    * tie-break, rerank probed cells by cosine.
    */
  private val annTopkIvfSql: String =
    s"""$embBaseSql, cent AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM ee WHERE vec_id < 16
       |), asg AS (
       |  SELECT e.vec_id, c.cid,
       |    SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(c.cv[i.i] AS DOUBLE)) AS d
       |  FROM ee e, cent c, idx i GROUP BY 1, 2
       |), cell AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rk
       |    FROM asg) WHERE rk = 1
       |), qp AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rk
       |    FROM asg WHERE vec_id < 10) WHERE rk <= 4
       |), candq AS (
       |  SELECT DISTINCT qp.qid, ce.vec_id AS cid2
       |  FROM qp JOIN cell ce ON ce.cid = qp.cid
       |  WHERE ce.vec_id != qp.qid
       |), dp AS (
       |  SELECT cq.qid, cq.cid2 AS cid,
       |    SUM(CAST(ea.embedding[i.i] AS DOUBLE) * CAST(eb.embedding[i.i] AS DOUBLE)) AS d
       |  FROM candq cq JOIN ee ea ON ea.vec_id = cq.qid JOIN ee eb ON eb.vec_id = cq.cid2, idx i
       |  GROUP BY 1, 2
       |)${annRerankTailSql(3)}""".stripMargin

  /** IVF with a TRAINED quantizer: 2 Lloyd iterations of spherical
    * k-means (√n-sized cell count — Ann.sizedCells, 23 at sf0.01's
    * 500 vectors — smallest-id init, 1e-6-grid quantized centroids —
    * see Ann.kmeansFit) feeding topkIvf's centroids parameter. The
    * oracle replays the sizing rule as GREATEST(16, CEIL(SQRT(n))).
    */
  def annTopkIvfTrained(s: SparkSession, dir: String): DataFrame = CacheUtil.result { scope =>
    val corpus = scope.cache(embs(s, dir))
    val cents = Ann.kmeansFit(corpus, "vec_id", "embedding",
      k = Ann.sizedCells(corpus.count()), iters = 2)
    Ann.topkIvf(corpus, annQueries(s, dir), "vec_id", "embedding",
      k = 3, nProbe = 4, centroids = Some(cents))
      .orderBy("query_id", "rank")
  }

  /** Incremental ANN index maintenance (VERDICT r12 #8) — the
    * embedding sibling of dedup_incremental, the shape a daily 100 TB
    * ingest actually runs. The corpus splits into the already-indexed
    * BASE (vec_id % 10 != 9) and today's DELTA batch (% 10 == 9):
    *
    *   - the coarse quantizer is fit on the BASE ONLY (√n-sized
    *     spherical k-means — the PERSISTED model artifact a daily job
    *     reads back; the delta never triggers a refit);
    *   - the delta is encoded MAP-SIDE against the frozen centroids
    *     (Ann.assignCells' argmax-dot rule inside topkIvf — identical
    *     for stored base rows and fresh delta rows, so appending
    *     delta cells to the stored cell-partitioned layout is a pure
    *     write, no index rebuild);
    *   - queries probe the UNIONED layout with the frozen model —
    *     probes prune to nProbe cells of base+delta exactly as before
    *     the ingest (the partition-pruned probe plan PlanShapeSpec
    *     pins for assignCells layouts).
    *
    * `neighbor_is_new` marks delta vectors surfacing in the top-k —
    * the observable proof the batch is searchable without a refit
    * (5 of 30 rows at sf0.01, 2 of 30 at sf0.1 — StaleProbe,
    * tools/StaleProbe at commit e9cc669).
    * `stale_recall_ok` is the STALENESS gate: the frozen-model ANN
    * result must recover ≥40% of the fresh exact top-3 over the
    * post-ingest corpus (measured 0.90 at sf0.01, 0.97 at sf0.1 —
    * a model fit before the ingest still answers for the grown
    * corpus; a drifted/broken freeze trips the floor). The oracle
    * replays the whole frozen chain — fit on base, assign ALL rows
    * against the frozen centroids, probe, exact rerank — and pins the
    * gate at literal TRUE.
    */
  def annIncremental(s: SparkSession, dir: String): DataFrame = CacheUtil.result { scope =>
    val all = scope.cache(embs(s, dir))
    val base = all.filter(col("vec_id") % 10 =!= 9)
    val cents = Ann.kmeansFit(base, "vec_id", "embedding",
      k = Ann.sizedCells(base.count()), iters = 2)
    val ann = Ann.topkIvf(all, annQueries(s, dir), "vec_id", "embedding",
      k = 3, nProbe = 4, centroids = Some(cents))
    val exact = Ann.topkBruteForce(all, annQueries(s, dir),
      "vec_id", "embedding", k = 3)
    // ann feeds the gate hits AND the deliverable rows; exact feeds
    // the hits join AND the denominator — cache both so the IVF
    // probe and the brute-force pass run once (ADVICE r13, the
    // embOutliersIvfPq/graphPagerankIvfPq convention)
    scope.cache(ann)
    scope.cache(exact)
    val hits = ann.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("_hits"))
    val denom = exact.agg(count(lit(1)).as("_n"))
    val gate = hits.crossJoin(denom)
      .select((col("_hits") >= col("_n") * lit(0.40)).as("stale_recall_ok"))
    ann.withColumn("neighbor_is_new", col("neighbor_id") % 10 === 9)
      .crossJoin(broadcast(gate))
      .orderBy("query_id", "rank")
  }

  /** Frozen-model replay: the trained-IVF oracle with the fit CTEs
    * scoped to the base slice (`ee`) and the assign/probe/rerank
    * phase over the full corpus (`al`) — encode-against-frozen-model
    * in SQL form — plus the literal-TRUE staleness gate.
    */
  private val annIncrementalSql: String =
    s"""WITH al AS (
       |  SELECT vec_id, embedding FROM embeddings
       |), ee AS (
       |  SELECT vec_id, embedding FROM al WHERE vec_id % 10 != 9
       |), idx AS (
       |  SELECT unnest(generate_series(1, 64)) AS i
       |), kk AS (
       |  SELECT GREATEST(16, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k FROM ee
       |), ini AS (
       |  SELECT embedding, cell FROM (
       |    SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
       |    FROM ee) CROSS JOIN kk WHERE cell < kk.k
       |), inorm AS (
       |  SELECT n.cell,
       |    SQRT(SUM(CAST(n.embedding[i.i] AS DOUBLE) * CAST(n.embedding[i.i] AS DOUBLE))) AS nr
       |  FROM ini n, idx i GROUP BY 1
       |), c0 AS (
       |  SELECT n.cell, i.i,
       |    FLOOR(CAST(n.embedding[i.i] AS DOUBLE) / o.nr * 1e6 + 0.5) / 1e6 AS cv
       |  FROM ini n JOIN inorm o ON o.cell = n.cell, idx i
       |)${kmeansIterSql("c0", "c1", 1)}${kmeansIterSql("c1", "c2", 2)}, c2l AS (
       |  SELECT cell, list(cv ORDER BY i) AS cvl FROM c2 GROUP BY 1
       |), fd AS (
       |  SELECT e.vec_id, c.cell,
       |    list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvl) AS d
       |  FROM al e JOIN c2l c ON TRUE
       |), cell AS (
       |  SELECT vec_id, cell AS cid FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rk
       |    FROM fd) WHERE rk = 1
       |), qp AS (
       |  SELECT vec_id AS qid, cell AS cid FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rk
       |    FROM fd WHERE vec_id < 10) WHERE rk <= 4
       |), candq AS (
       |  SELECT DISTINCT qp.qid, ce.vec_id AS cid2
       |  FROM qp JOIN cell ce ON ce.cid = qp.cid
       |  WHERE ce.vec_id != qp.qid
       |), dp AS (
       |  SELECT cq.qid, cq.cid2 AS cid,
       |    SUM(CAST(ea.embedding[i.i] AS DOUBLE) * CAST(eb.embedding[i.i] AS DOUBLE)) AS d
       |  FROM candq cq JOIN al ea ON ea.vec_id = cq.qid JOIN al eb ON eb.vec_id = cq.cid2, idx i
       |  GROUP BY 1, 2
       |), nrm AS (
       |  SELECT e.vec_id,
       |    SQRT(SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))) AS nr
       |  FROM al e, idx i GROUP BY 1
       |), scored AS (
       |  SELECT dp.qid, dp.cid,
       |    ${fpSql("dp.d / (na.nr * nb.nr)", "1e6")} AS score_fp
       |  FROM dp JOIN nrm na ON na.vec_id = dp.qid JOIN nrm nb ON nb.vec_id = dp.cid
       |), ranked AS (
       |  SELECT qid, cid, score_fp,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_fp DESC, cid) AS rk
       |  FROM scored
       |)
       |SELECT qid AS query_id, CAST(rk AS INT) AS rank, cid AS neighbor_id,
       |  score_fp, (cid % 10 = 9) AS neighbor_is_new, TRUE AS stale_recall_ok
       |FROM ranked WHERE rk <= 3 ORDER BY 1, 2""".stripMargin

  /** PQ ANN: product-quantization codebooks (8 subspaces × 16 cells,
    * 2 Lloyd iterations — Ann.pqFit), write-time codes, ADC top-k.
    * The approximate scores ARE the result (no exact rerank), so the
    * oracle replays fit → encode → lookup-sum exactly.
    */
  def annTopkPq(s: SparkSession, dir: String): DataFrame =
    Ann.topkPq(embs(s, dir), annQueries(s, dir), "vec_id", "embedding",
      k = 3, nSub = 8, kSub = 16, iters = 2)
      .orderBy("query_id", "rank")

  /** IVF-PQ (Ann.topkIvfPq): deterministic stand-in coarse quantizer
    * (16 smallest-id vectors, argmax dot — identical to ann_topk_ivf's)
    * + 1-Lloyd-iteration PQ on the RESIDUALS + ADC scoring
    * ⟨q, centroid⟩ + Σ_m lut over the nProbe=4 probed cells. The
    * oracle replays the whole chain: coarse assign, residual
    * components, the generic pqIterSql on them, encode, probe, and
    * the two-term score.
    */
  def annTopkIvfPq(s: SparkSession, dir: String): DataFrame =
    Ann.topkIvfPq(embs(s, dir), annQueries(s, dir), "vec_id", "embedding",
      k = 3, nProbe = 4, nSub = 8, kSub = 16, iters = 1)
      .orderBy("query_id", "rank")

  private val annTopkIvfPqSql: String =
    s"""WITH ee AS (
       |  SELECT vec_id, embedding FROM embeddings
       |), sub AS (
       |  SELECT m.m, j.j, m.m * 8 + j.j + 1 AS i
       |  FROM range(8) m(m), range(8) j(j)
       |), ccomp AS (
       |  SELECT vec_id AS cell, s.i, CAST(embedding[s.i] AS DOUBLE) AS cv
       |  FROM ee, sub s WHERE vec_id < 16
       |), cdot AS (
       |  SELECT e.vec_id, cc.cell,
       |    SUM(CAST(e.embedding[cc.i] AS DOUBLE) * cc.cv) AS d
       |  FROM ee e JOIN ccomp cc ON TRUE
       |  GROUP BY 1, 2
       |), casg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rk
       |    FROM cdot) WHERE rk = 1
       |), px AS (
       |  SELECT e.vec_id, cc.i, CAST(e.embedding[cc.i] AS DOUBLE) - cc.cv AS x
       |  FROM ee e JOIN casg a ON a.vec_id = e.vec_id
       |  JOIN ccomp cc ON cc.cell = a.cell
       |), ini AS (
       |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
       |  FROM (SELECT DISTINCT vec_id FROM ee ORDER BY vec_id LIMIT 16)
       |), cb0 AS (
       |  SELECT s.m, n.cell, s.j, FLOOR(p.x * 1e6 + 0.5) / 1e6 AS cv
       |  FROM ini n JOIN px p ON p.vec_id = n.vec_id
       |  JOIN sub s ON s.i = p.i
       |)${pqIterSql("cb0", "cb1", 1)}, fd AS (
       |  SELECT p.vec_id, c.m, c.cell,
       |    ${fpSql("SUM(c.cv * c.cv) - 2 * SUM(p.x * c.cv)", "1e6")} AS d
       |  FROM px p JOIN sub s ON s.i = p.i
       |  JOIN cb1 c ON c.m = s.m AND c.j = s.j
       |  GROUP BY 1, 2, 3
       |), codes AS (
       |  SELECT vec_id, m, cell FROM (
       |    SELECT vec_id, m, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cell) AS rk
       |    FROM fd) WHERE rk = 1
       |), qp AS (
       |  SELECT vec_id AS qid, cell, d AS qcdot FROM (
       |    SELECT vec_id, cell, d,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rk
       |    FROM cdot WHERE vec_id < 10) WHERE rk <= 4
       |), lut AS (
       |  SELECT e.vec_id AS qid, c.m, c.cell,
       |    SUM(CAST(e.embedding[s.i] AS DOUBLE) * c.cv) AS t
       |  FROM ee e JOIN cb1 c ON TRUE JOIN sub s ON s.m = c.m AND s.j = c.j
       |  WHERE e.vec_id < 10 GROUP BY 1, 2, 3
       |), sc AS (
       |  SELECT q.qid, co.vec_id AS cid,
       |    ${fpSql("ANY_VALUE(q.qcdot) + SUM(l.t)", "1e6")} AS score_fp
       |  FROM codes co
       |  JOIN casg a ON a.vec_id = co.vec_id
       |  JOIN qp q ON q.cell = a.cell
       |  JOIN lut l ON l.qid = q.qid AND l.m = co.m AND l.cell = co.cell
       |  WHERE co.vec_id != q.qid
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT qid, cid, score_fp,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_fp DESC, cid) AS rk
       |  FROM sc
       |)
       |SELECT qid AS query_id, CAST(rk AS INT) AS rank, cid AS neighbor_id, score_fp
       |FROM ranked WHERE rk <= 3 ORDER BY 1, 2""".stripMargin

  /** OPQ ANN, GATED (Ann.opqFit/topkOpq — Ge et al. CVPR'13 parametric
    * OPQ): the rotation comes from a Jacobi eigendecomposition, which
    * no SQL replay can reproduce, so this query uses the sketch-gate
    * pattern (q14/q15): the output rows are the EXACT brute-force
    * top-10 (oracle-replayable like ann_topk_bruteforce), carrying
    * four boolean verdicts the oracle asserts TRUE —
    *  - mse_ok: THE Ge et al. claim — OPQ's mean squared reconstruction
    *    error (Ann.pqDistortion on rotated vectors, identical code
    *    budget) is ≤ plain PQ's on the raw vectors (measured ≈5% lower
    *    at sf0.001/0.01/0.1),
    *  - recall_ok: ADC top-10 over rotated codes recovers ≥ 15% of the
    *    exact top-10 across the query set (measured 0.20–0.35; recall
    *    at 100 samples is noisy, so the floor only catches collapse —
    *    the distortion gate carries the dominance claim),
    *  - orth_ok: max |RRᵀ − I| < 1e-9, so rotated ADC scores estimate
    *    the ORIGINAL dot products,
    *  - diag_ok: max offdiag |R C Rᵀ| / λmax < 1e-8 against the
    *    independently collected covariance (R really diagonalizes C),
    *  - alloc_ok: greedy eigenvalue allocation is never worse balanced
    *    (max−min per-subspace Σ log λ) than the contiguous split.
    * A wrong rotation, broken allocation, distortion regression, or
    * recall collapse flips a verdict and fails the hash compare.
    */
  def annTopkOpq(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir)
    val qs = annQueries(s, dir)
    val m = Ann.opqFit(corpus, "vec_id", "embedding", nSub = 8)
    val rotCorpus = Ann.opqRotate(corpus, "embedding", m.rotation, "_rvec")
      .select(col("vec_id"), col("_rvec"))
    val rotQs = Ann.opqRotate(qs, "embedding", m.rotation, "_rvec")
      .select(col("vec_id"), col("_rvec"))
    val cbOpq = Ann.pqFit(rotCorpus, "vec_id", "_rvec", nSub = 8, kSub = 16, iters = 2)
    val cbPq = Ann.pqFit(corpus, "vec_id", "embedding", nSub = 8, kSub = 16, iters = 2)
    val mseOpq = Ann.pqDistortion(
      Ann.pqEncode(rotCorpus, cbOpq, "vec_id", "_rvec", "_codes"),
      cbOpq, "_rvec", "_codes").select(col("mse").as("_mo"))
    val msePq = Ann.pqDistortion(
      Ann.pqEncode(corpus, cbPq, "vec_id", "embedding", "_codes"),
      cbPq, "embedding", "_codes").select(col("mse").as("_mp"))
    val opq = Ann.topkPq(rotCorpus, rotQs, "vec_id", "_rvec", k = 10,
      nSub = 8, kSub = 16, codebooks = Some(cbOpq))
    val exact = Ann.topkBruteForce(corpus, qs, "vec_id", "embedding", k = 10)
    val hits = opq.select(col("query_id"), col("neighbor_id"))
      .join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("_hits"))
    val denom = exact.agg(count(lit(1)).as("_n"))
    val gates = hits.crossJoin(denom).crossJoin(mseOpq).crossJoin(msePq)
      .select(
        (col("_mo") <= col("_mp")).as("mse_ok"),
        (col("_hits") >= col("_n") * lit(0.15)).as("recall_ok"),
        lit(m.orthErr < 1e-9).as("orth_ok"),
        lit(m.diagErr < 1e-8).as("diag_ok"),
        lit(m.allocSpread <= m.contigSpread + 1e-9).as("alloc_ok"))
    exact.crossJoin(broadcast(gates))
      .orderBy("query_id", "rank")
  }

  /** OPQ oracle: the exact brute-force top-10 replay (identical
    * machinery to ann_topk_bruteforce) + the five verdicts asserted
    * TRUE.
    */
  private val annTopkOpqSql: String =
    s"""$embBaseSql, q AS (
       |  SELECT vec_id AS qid FROM ee WHERE vec_id < 10
       |), dp AS (
       |  SELECT q.qid, c.vec_id AS cid,
       |    SUM(CAST(ea.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) AS d
       |  FROM q JOIN ee ea ON ea.vec_id = q.qid, ee c, idx i
       |  WHERE c.vec_id != q.qid
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT dp.qid, dp.cid,
       |    ${fpSql("dp.d / (na.nr * nb.nr)", "1e6")} AS score_fp
       |  FROM dp JOIN nrm na ON na.vec_id = dp.qid JOIN nrm nb ON nb.vec_id = dp.cid
       |), ranked AS (
       |  SELECT qid, cid, score_fp,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_fp DESC, cid) AS rk
       |  FROM scored
       |)
       |SELECT qid AS query_id, CAST(rk AS INT) AS rank, cid AS neighbor_id,
       |  score_fp, TRUE AS mse_ok, TRUE AS recall_ok, TRUE AS orth_ok,
       |  TRUE AS diag_ok, TRUE AS alloc_ok
       |FROM ranked WHERE rk <= 10 ORDER BY 1, 2""".stripMargin

  /** One unrolled PQ Lloyd iteration over component-form codebooks
    * `cp` → `cn` (columns m, cell, j, cv; j = component within the
    * subspace, global component index = m·8 + j + 1). Distance is the
    * same fp6(‖c‖² − 2⟨x,c⟩) grid the engine compares on (‖x‖² cancels
    * from the argmin), ties → smallest cell; re-center = component
    * mean on the 1e-6 grid, empty cells keep their previous centroid —
    * Ann.pqFit bit-for-bit.
    */
  private def pqIterSql(cp: String, cn: String, t: Int): String =
    s""", pd$t AS (
       |  SELECT p.vec_id, c.m, c.cell,
       |    ${fpSql("SUM(c.cv * c.cv) - 2 * SUM(p.x * c.cv)", "1e6")} AS d
       |  FROM px p JOIN sub s ON s.i = p.i
       |  JOIN $cp c ON c.m = s.m AND c.j = s.j
       |  GROUP BY 1, 2, 3
       |), pa$t AS (
       |  SELECT vec_id, m, cell FROM (
       |    SELECT vec_id, m, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cell) AS rk
       |    FROM pd$t) WHERE rk = 1
       |), ps$t AS (
       |  SELECT a.m, a.cell, s.j, SUM(p.x) AS sm, COUNT(*) AS cnt
       |  FROM pa$t a JOIN px p ON p.vec_id = a.vec_id
       |  JOIN sub s ON s.m = a.m AND s.i = p.i
       |  GROUP BY 1, 2, 3
       |), $cn AS (
       |  SELECT c.m, c.cell, c.j,
       |    COALESCE(FLOOR(x.sm / x.cnt * 1e6 + 0.5) / 1e6, c.cv) AS cv
       |  FROM $cp c
       |  LEFT JOIN ps$t x ON x.m = c.m AND x.cell = c.cell AND x.j = c.j
       |)""".stripMargin

  /** PQ oracle: replay the deterministic fit (smallest-id init → 2
    * Lloyd iterations in component form with a subspace column — the
    * SQL is generic over nSub, no per-subspace unrolling), encode
    * every vector by the same fp6-argmin rule, build each query's
    * ADC lookup table, and rank the lookup-sum scores (DESC, id ties).
    */
  private val annTopkPqSql: String =
    s"""WITH ee AS (
       |  SELECT vec_id, embedding FROM embeddings
       |), sub AS (
       |  SELECT m.m, j.j, m.m * 8 + j.j + 1 AS i
       |  FROM range(8) m(m), range(8) j(j)
       |), px AS (
       |  SELECT e.vec_id, s.i, CAST(e.embedding[s.i] AS DOUBLE) AS x
       |  FROM ee e, sub s
       |), ini AS (
       |  SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
       |  FROM ee ORDER BY vec_id LIMIT 16
       |), cb0 AS (
       |  SELECT s.m, n.cell, s.j,
       |    FLOOR(CAST(n.embedding[s.i] AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cv
       |  FROM ini n, sub s
       |)${pqIterSql("cb0", "cb1", 1)}${pqIterSql("cb1", "cb2", 2)}, fd AS (
       |  SELECT p.vec_id, c.m, c.cell,
       |    ${fpSql("SUM(c.cv * c.cv) - 2 * SUM(p.x * c.cv)", "1e6")} AS d
       |  FROM px p JOIN sub s ON s.i = p.i
       |  JOIN cb2 c ON c.m = s.m AND c.j = s.j
       |  GROUP BY 1, 2, 3
       |), codes AS (
       |  SELECT vec_id, m, cell FROM (
       |    SELECT vec_id, m, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cell) AS rk
       |    FROM fd) WHERE rk = 1
       |), lut AS (
       |  SELECT e.vec_id AS qid, c.m, c.cell,
       |    SUM(CAST(e.embedding[s.i] AS DOUBLE) * c.cv) AS t
       |  FROM ee e JOIN cb2 c ON TRUE JOIN sub s ON s.m = c.m AND s.j = c.j
       |  WHERE e.vec_id < 10 GROUP BY 1, 2, 3
       |), sc AS (
       |  SELECT l.qid, co.vec_id AS cid, ${fpSql("SUM(l.t)", "1e6")} AS score_fp
       |  FROM codes co JOIN lut l ON l.m = co.m AND l.cell = co.cell
       |  WHERE co.vec_id != l.qid
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT qid, cid, score_fp,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_fp DESC, cid) AS rk
       |  FROM sc
       |)
       |SELECT qid AS query_id, CAST(rk AS INT) AS rank, cid AS neighbor_id, score_fp
       |FROM ranked WHERE rk <= 3 ORDER BY 1, 2""".stripMargin

  /** One unrolled Lloyd iteration over component-form centroids
    * `cp` → `cn`: dots vs every centroid, argmax cell (tie → smallest
    * cell), per-(cell, component) sums + count, normalized quantized
    * mean, empty cells keep the previous centroid. Mirrors
    * Ann.kmeansFit bit-for-bit (the 1e-6 grid absorbs sum-order ulps).
    */
  // Assignment distances via list_dot_product over a per-cell centroid
  // LIST, not SUM over an unnested (cell, i, cv) join: the unnest form
  // materializes points × cells × 64 rows, which at the ×10 corpus
  // (200k vectors × ~425 √n cells) is 5.4e9 join rows — DuckDB spilled
  // >75 GB and died on disk. The list form's intermediate is points ×
  // cells (the ×10 gate caught exactly this — an ORACLE that does not
  // scale is as useless as an engine that does not). list_dot_product
  // is a sequential in-order loop, deterministic; the fp grid absorbs
  // the association difference as it always did.
  private def kmeansIterSql(cp: String, cn: String, t: Int): String =
    s""", cl$t AS (
       |  SELECT cell, list(cv ORDER BY i) AS cvl FROM $cp GROUP BY 1
       |), d$t AS (
       |  SELECT e.vec_id, c.cell,
       |    list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvl) AS d
       |  FROM ee e JOIN cl$t c ON TRUE
       |), a$t AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rk
       |    FROM d$t) WHERE rk = 1
       |), s$t AS (
       |  SELECT a.cell, i.i, SUM(CAST(e.embedding[i.i] AS DOUBLE)) AS sm,
       |    COUNT(*) AS cnt
       |  FROM a$t a JOIN ee e ON e.vec_id = a.vec_id, idx i
       |  GROUP BY 1, 2
       |), m$t AS (
       |  SELECT cell, i, sm / cnt AS m FROM s$t
       |), n$t AS (
       |  SELECT cell, SQRT(SUM(m * m)) AS nr FROM m$t GROUP BY 1
       |), $cn AS (
       |  SELECT c.cell, c.i,
       |    COALESCE(FLOOR(m.m / n.nr * 1e6 + 0.5) / 1e6, c.cv) AS cv
       |  FROM $cp c
       |  LEFT JOIN m$t m ON m.cell = c.cell AND m.i = c.i
       |  LEFT JOIN n$t n ON n.cell = c.cell
       |)""".stripMargin

  /** Trained-IVF oracle: replay the deterministic fit (init → 2 Lloyd
    * iterations) in component form, then the same probe/rerank shape
    * as [[annTopkIvfSql]] against the fitted centroids.
    */
  private val annTopkIvfTrainedSql: String =
    s"""$embBaseSql, kk AS (
       |  SELECT GREATEST(16, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k FROM ee
       |), ini AS (
       |  SELECT embedding, cell FROM (
       |    SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
       |    FROM ee) CROSS JOIN kk WHERE cell < kk.k
       |), inorm AS (
       |  SELECT n.cell,
       |    SQRT(SUM(CAST(n.embedding[i.i] AS DOUBLE) * CAST(n.embedding[i.i] AS DOUBLE))) AS nr
       |  FROM ini n, idx i GROUP BY 1
       |), c0 AS (
       |  SELECT n.cell, i.i,
       |    FLOOR(CAST(n.embedding[i.i] AS DOUBLE) / o.nr * 1e6 + 0.5) / 1e6 AS cv
       |  FROM ini n JOIN inorm o ON o.cell = n.cell, idx i
       |)${kmeansIterSql("c0", "c1", 1)}${kmeansIterSql("c1", "c2", 2)}, c2l AS (
       |  SELECT cell, list(cv ORDER BY i) AS cvl FROM c2 GROUP BY 1
       |), fd AS (
       |  SELECT e.vec_id, c.cell,
       |    list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvl) AS d
       |  FROM ee e JOIN c2l c ON TRUE
       |), cell AS (
       |  SELECT vec_id, cell AS cid FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rk
       |    FROM fd) WHERE rk = 1
       |), qp AS (
       |  SELECT vec_id AS qid, cell AS cid FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rk
       |    FROM fd WHERE vec_id < 10) WHERE rk <= 4
       |), candq AS (
       |  SELECT DISTINCT qp.qid, ce.vec_id AS cid2
       |  FROM qp JOIN cell ce ON ce.cid = qp.cid
       |  WHERE ce.vec_id != qp.qid
       |), dp AS (
       |  SELECT cq.qid, cq.cid2 AS cid,
       |    SUM(CAST(ea.embedding[i.i] AS DOUBLE) * CAST(eb.embedding[i.i] AS DOUBLE)) AS d
       |  FROM candq cq JOIN ee ea ON ea.vec_id = cq.qid JOIN ee eb ON eb.vec_id = cq.cid2, idx i
       |  GROUP BY 1, 2
       |)${annRerankTailSql(3)}""".stripMargin

  // ---- text ---------------------------------------------------------

  def textLangid(s: SparkSession, dir: String): DataFrame =
    TextOps.langidFrame(docs(s, dir), "text")
      .select((col("doc_id") +:
        TextOps.langStopwords.map { case (l, _) => col(s"s_$l") }) :+
        col("pred_lang"): _*)
      .orderBy("doc_id")

  private val textLangidSql: String = {
    val scoreExprs = TextOps.langStopwords.map { case (l, sw) =>
      val inList = sw.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(ws, x -> x IN ($inList))) AS s_$l"
    }.mkString(",\n  ")
    val caseChain = TextOps.langStopwords.map { case (l, _) =>
      s"WHEN s_$l = m THEN '$l'"
    }.mkString(" ")
    val greatestArgs = TextOps.langStopwords.map { case (l, _) => s"s_$l" }.mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws FROM documents
       |), sc AS (
       |  SELECT doc_id,
       |  $scoreExprs
       |  FROM w
       |), mm AS (
       |  SELECT *, GREATEST($greatestArgs) AS m FROM sc
       |)
       |SELECT doc_id, ${TextOps.langStopwords.map(p => "s_" + p._1).mkString(", ")},
       |  CASE WHEN m = 0 THEN 'und' ELSE CASE $caseChain ELSE 'und' END END AS pred_lang
       |FROM mm ORDER BY doc_id""".stripMargin
  }

  /** Quality scoring under the DEFAULT (unicode) path over the
    * MULTILINGUAL slice: `\p{L}+` tokens after NFC fold (CJK phrases
    * contribute per-char tokens; the decomposed phrase-1 rows bind
    * the fold — without it their combining marks count as punctuation
    * and their token sets diverge from phrase 0), punctuation class
    * `[^\p{L}\p{N}\s]` on the NFC text. On the raw ASCII corpus this
    * is byte-identical to the old ASCII classes.
    */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityFrame(uDocs(s, dir), "_ut")
      .select(col("doc_id"), col("n_words"),
        fp6(col("distinct_ratio")).as("dr_fp"),
        fp6(col("stop_ratio")).as("sr_fp"),
        col("punct_count"),
        fp6(col("quality")).as("q_fp"))
      .orderBy("doc_id")

  private val textQualitySql: String = {
    val enList = TextOps.langStopwords.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    s"""WITH $uDocsSql, w AS (
       |  SELECT doc_id, lower(nfc_normalize(ut)) AS tn, ${uniWsSql("ut")} AS ws FROM ud
       |), f AS (
       |  SELECT doc_id,
       |    len(ws) AS n_words,
       |    length(tn) AS n_chars_q,
       |    CASE WHEN len(ws) > 0
       |      THEN CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) ELSE 0.0 END AS distinct_ratio,
       |    CASE WHEN len(ws) > 0
       |      THEN CAST(len(list_filter(ws, x -> x IN ($enList))) AS DOUBLE) / len(ws) ELSE 0.0 END AS stop_ratio,
       |    len(regexp_extract_all(tn, '[^\\p{L}\\p{N}\\s]')) AS punct_count
       |  FROM w
       |)
       |SELECT doc_id, CAST(n_words AS INT) AS n_words,
       |  ${fpSql("distinct_ratio", "1e6")} AS dr_fp,
       |  ${fpSql("stop_ratio", "1e6")} AS sr_fp,
       |  CAST(punct_count AS INT) AS punct_count,
       |  ${fpSql("0.25 * LEAST(1.0, CAST(n_words AS DOUBLE) / 100.0) + 0.25 * distinct_ratio + 0.25 * LEAST(1.0, stop_ratio * 4.0) + 0.25 * (1.0 - LEAST(1.0, CASE WHEN n_chars_q > 0 THEN CAST(punct_count AS DOUBLE) / n_chars_q * 5.0 ELSE 0.0 END))", "1e6")} AS q_fp
       |FROM f ORDER BY doc_id""".stripMargin
  }

  def textTokens(s: SparkSession, dir: String): DataFrame =
    TextOps.tokensFrame(docs(s, dir), "text")
      .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"))
      .orderBy("doc_id")

  /** Unicode token accounting over the multilingual slice
    * (TextOps.unicodeTokens — NFC fold + Unicode lowercase + `\p{L}`
    * extraction with CJK char isolation). tok_md5 pins the EXACT token
    * sequence, so any divergence in normalization, casing, script
    * classes, or CJK splitting between the engines fails the hash —
    * and the NFC fold is genuinely load-bearing: doc_id%12==1 rows
    * carry decomposed accents that must hash identically to the
    * composed index-0 phrase's tokens. Map-side scan-shaped, zero
    * shuffle, same as text_tokens.
    */
  def textTokensUnicode(s: SparkSession, dir: String): DataFrame =
    uDocs(s, dir)
      .withColumn("_toks", TextOps.unicodeTokens(col("_ut")))
      .select(col("doc_id"),
        size(col("_toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("_toks"))).cast("long").as("n_distinct"),
        size(filter(col("_toks"), t => t.rlike("[^\\x00-\\x7F]")))
          .cast("long").as("n_nonascii"),
        md5(concat_ws(" ", col("_toks"))).as("tok_md5"))
      .orderBy("doc_id")

  /** Script-based language ID over the multilingual slice — the
    * standard FIRST stage of production langid (script membership is
    * deterministic where n-gram stats are probabilistic; fastText et
    * al. gate on script before model scoring). Counts letters per
    * Unicode script class (`\p{IsXxx}` in java.util.regex, `\p{Xxx}`
    * in DuckDB's RE2 — same classes, different spelling) and takes the
    * majority script, ties to the alphabetically first name; `script`
    * classifies the whole augmented doc (base English text dominates →
    * latin), `script_tail` classifies just the appended phrase, which
    * cycles through all seven classes with doc_id — so the argmax
    * chain, not just the counts, is exercised on every class.
    * Map-side, zero shuffle, all codegen'd builtins.
    */
  def textLangidScript(s: SparkSession, dir: String): DataFrame = {
    val classes = Seq(
      "arabic" -> "\\p{IsArabic}",
      "cyrillic" -> "\\p{IsCyrillic}",
      "greek" -> "\\p{IsGreek}",
      "han" -> "\\p{IsHan}",
      "hebrew" -> "\\p{IsHebrew}",
      "kana" -> "[\\p{IsHiragana}\\p{IsKatakana}]",
      "latin" -> "\\p{IsLatin}")
    def counts(src: org.apache.spark.sql.Column, prefix: String): Seq[org.apache.spark.sql.Column] =
      classes.map { case (n, re) =>
        size(regexp_extract_all(src, lit(re), lit(0))).cast("long")
          .as(s"$prefix$n")
      }
    def argmax(prefix: String): org.apache.spark.sql.Column = {
      val m = greatest(classes.map { case (n, _) => col(s"$prefix$n") }: _*)
      classes.foldRight(lit("?")) { case ((n, _), el) =>
        when(col(s"$prefix$n") === m, lit(n)).otherwise(el)
      }
    }
    val tail = element_at(typedLit(uPhrases), (col("doc_id") % 12).cast("int") + 1)
    uDocs(s, dir)
      .select(Seq(col("doc_id")) ++ counts(col("_ut"), "n_") ++
        counts(tail, "_t_"): _*)
      .withColumn("script", argmax("n_"))
      .withColumn("script_tail", argmax("_t_"))
      .select(Seq(col("doc_id")) ++
        classes.map { case (n, _) => col(s"n_$n") } ++
        Seq(col("script"), col("script_tail")): _*)
      .orderBy("doc_id")
  }

  private val textLangidScriptSql: String = {
    val classes = Seq(
      "arabic" -> "\\p{Arabic}",
      "cyrillic" -> "\\p{Cyrillic}",
      "greek" -> "\\p{Greek}",
      "han" -> "\\p{Han}",
      "hebrew" -> "\\p{Hebrew}",
      "kana" -> "[\\p{Hiragana}\\p{Katakana}]",
      "latin" -> "\\p{Latin}")
    def counts(src: String, prefix: String): String =
      classes.map { case (n, re) =>
        s"CAST(len(regexp_extract_all($src, '$re')) AS BIGINT) AS $prefix$n"
      }.mkString(",\n    ")
    def argmax(prefix: String): String = {
      val m = classes.map { case (n, _) => s"$prefix$n" }.mkString("greatest(", ", ", ")")
      classes.map { case (n, _) =>
        s"WHEN $prefix$n = $m THEN '$n'"
      }.mkString("CASE ", " ", " ELSE '?' END")
    }
    s"""WITH $uDocsSql, c AS (
       |  SELECT doc_id,
       |    ${counts("ut", "n_")},
       |    ${counts(s"($uPhrasesSqlList)[CAST(doc_id % 12 AS INT) + 1]", "_t_")}
       |  FROM ud
       |)
       |SELECT doc_id, ${classes.map { case (n, _) => s"n_$n" }.mkString(", ")},
       |  ${argmax("n_")} AS script,
       |  ${argmax("_t_")} AS script_tail
       |FROM c ORDER BY 1""".stripMargin
  }

  private val textTokensUnicodeSql: String =
    s"""WITH $uDocsSql, tk AS (
       |  SELECT doc_id, regexp_extract_all(
       |    regexp_replace(lower(nfc_normalize(ut)),
       |      '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'),
       |    '[\\p{L}\\p{N}]+') AS toks
       |  FROM ud
       |)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |  CAST(len(list_filter(toks, t -> regexp_matches(t, '[^\\x00-\\x7F]'))) AS BIGINT) AS n_nonascii,
       |  md5(array_to_string(toks, ' ')) AS tok_md5
       |FROM tk ORDER BY 1""".stripMargin

  /** Curriculum bucketing: global token-count quartiles WITHOUT a
    * global window (TextOps.quantileBuckets — one percentile agg,
    * bounded 3-value collect, map-side comparison chain). The oracle
    * recomputes the boundaries with quantile_cont (the same
    * p·(n−1) rank interpolation q7 pinned) and replays the fp6-gridded
    * comparisons.
    */
  def textCurriculum(s: SparkSession, dir: String): DataFrame =
    TextOps.quantileBuckets(
      TextOps.tokensFrame(docs(s, dir), "text")
        .select(col("doc_id"), col("ws_tokens")),
      "ws_tokens")
      .select(col("doc_id"), col("ws_tokens"), col("bucket"))
      .orderBy("doc_id")

  private val textCurriculumSql: String = {
    def fp(e: String) = fpSql(e, "1e6")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS INT) AS ws_tokens
       |  FROM documents
       |), b AS (
       |  SELECT quantile_cont(ws_tokens, [0.25, 0.5, 0.75]) AS bs FROM t
       |)
       |SELECT t.doc_id, t.ws_tokens,
       |  CASE WHEN ${fp("t.ws_tokens")} <= ${fp("b.bs[1]")} THEN 0
       |       WHEN ${fp("t.ws_tokens")} <= ${fp("b.bs[2]")} THEN 1
       |       WHEN ${fp("t.ws_tokens")} <= ${fp("b.bs[3]")} THEN 2
       |       ELSE 3 END AS bucket
       |FROM t, b ORDER BY 1""".stripMargin
  }

  /** END-TO-END training-data pipeline as ONE oracled query — the
    * composition a real corpus build runs, each stage an
    * already-oracled operator chained on the previous stage's output:
    * Gopher quality filter (keep) → exact dedup among survivors (keep
    * canonical) → whitespace token counting → deterministic md5
    * train/val/test split → per-split summary (doc count, token mass,
    * md5 over the ORDERED member id list, so membership — not just
    * counts — is pinned). The oracle replays the entire chain in SQL.
    * Every stage is scan/hash-agg shaped: the chain adds one window
    * (dedup canonical) and one final group to the stages' own costs,
    * and intermediate frames never materialize driver-side.
    */
  def textPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val kept = TextOps.gopherRules(docs(s, dir), "text")
      .filter(col("keep"))
      .select(col("doc_id"), col("text"))
    val canon = Dedup.exact(kept, "doc_id", "text")
      .filter(col("is_dup") === 0)
      .select(col("doc_id"), col("text"))
    val counted = canon
      .withColumn("n_tok", size(TextOps.words(col("text"))).cast("long"))
    TextOps.hashSplit(counted, "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        md5(encode(concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))),
            d => d.cast("string"))), "UTF-8")).as("members_md5"))
      .orderBy("split")
  }

  private val textPipelineE2eSql: String = {
    val stopList = TextOps.gopherStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, text, ws,
       |    len(ws) AS n_words,
       |    CASE WHEN len(ws) > 0
       |      THEN CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws)
       |      ELSE 0.0 END AS mwl,
       |    CASE WHEN len(ws) > 0
       |      THEN CAST((length(text) - length(replace(text, '#', ''))) +
       |                (length(text) - length(replace(text, '...', ''))) // 3 AS DOUBLE) / len(ws)
       |      ELSE 0.0 END AS sym,
       |    CASE WHEN len(ws) > 0
       |      THEN CAST(len(list_filter(ws, x -> regexp_matches(x, '\\p{L}'))) AS DOUBLE) / len(ws)
       |      ELSE 0.0 END AS af,
       |    len(list_filter(ws, x -> x IN ($stopList))) AS n_stop
       |  FROM w
       |), keep AS (
       |  SELECT doc_id, text, ws FROM f
       |  WHERE n_words >= 50 AND n_words <= 100000
       |    AND mwl >= 3.0 AND mwl <= 10.0 AND sym <= 0.1
       |    AND af >= 0.8 AND n_stop >= 2
       |), canon AS (
       |  SELECT doc_id, ws FROM (
       |    SELECT doc_id, ws,
       |      MIN(doc_id) OVER (
       |        PARTITION BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS cid
       |    FROM keep) WHERE doc_id = cid
       |), sp AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tok,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS bk
       |  FROM canon
       |)
       |SELECT CASE WHEN bk < 500 THEN 'val'
       |            WHEN bk < 1000 THEN 'test'
       |            ELSE 'train' END AS split,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS members_md5
       |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private val textTokensSql: String =
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS INT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS INT) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- BPE ----------------------------------------------------------

  private val BpeMerges = 8

  /** Learn 8 BPE merges on the documents corpus and emit the merge
    * table — a TRAINED result, like ann_topk_ivf_trained: the oracle
    * replays the deterministic fit (pair counts + argmax + greedy
    * merge) unrolled per iteration in SQL.
    */
  def textBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = TextOps.bpeTrain(docs(s, dir), "text", BpeMerges)
    merges.zipWithIndex
      .map { case ((l, r, c), i) => (i + 1, l, r, c) }.toSeq
      .toDF("rank", "l_sym", "r_sym", "cnt")
      .orderBy("rank")
  }

  /** Tokenize every document under the 8 learned merges: per-doc word
    * and BPE-token counts, all map-side after the train.
    */
  def textBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = TextOps.bpeTrain(docs(s, dir), "text", BpeMerges)
      .map { case (l, r, _) => (l, r) }
    TextOps.bpeEncodeCounts(docs(s, dir), "text", "doc_id", merges)
      .orderBy("doc_id")
  }

  /** Full id-level tokenization under the 8 learned merges: flattened
    * (doc, position, token_id) rows in document order — the tensor a
    * training pipeline reads. Vocab: 'a'-'z' = 0-25, merge t = 25+t.
    */
  def textBpeIds(s: SparkSession, dir: String): DataFrame = {
    val merges = TextOps.bpeTrain(docs(s, dir), "text", BpeMerges)
      .map { case (l, r, _) => (l, r) }
    TextOps.bpeEncodeIds(docs(s, dir), "text", "doc_id", merges)
      .orderBy("doc_id", "pos")
  }

  /** One unrolled BPE iteration `wP` → `w$t`: adjacent-pair counts
    * with LEAD (overlaps counted), deterministic argmax m$t (count
    * desc, then lexicographic), then the greedy left-to-right merge
    * replayed with a run-parity rule — candidates (sym, next) =
    * (l, r) can only be CONSECUTIVE when l = r, and in such a run
    * greedy merges the 1st, 3rd, 5th... candidate; a row whose left
    * neighbor merged is consumed (LAG filter). MATERIALIZED
    * throughout — each state feeds 3 consumers in the next iteration
    * and DuckDB would otherwise inline the whole 8-deep chain
    * exponentially.
    */
  private def bpeIterSql(t: Int): String = {
    val wP = s"w${t - 1}"
    s""", p$t AS MATERIALIZED (
       |  SELECT l, r, SUM(cnt) AS c FROM (
       |    SELECT sym AS l, LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS r, cnt
       |    FROM $wP) WHERE r IS NOT NULL GROUP BY 1, 2
       |), m$t AS MATERIALIZED (
       |  SELECT l, r, c FROM p$t ORDER BY c DESC, l, r LIMIT 1
       |), c$t AS MATERIALIZED (
       |  SELECT w.word, w.cnt, w.pos, w.sym,
       |    ROW_NUMBER() OVER (PARTITION BY w.word ORDER BY w.pos) AS rn,
       |    CASE WHEN w.sym = m.l AND LEAD(w.sym) OVER (PARTITION BY w.word ORDER BY w.pos) = m.r
       |      THEN 1 ELSE 0 END AS cand,
       |    LEAD(w.sym) OVER (PARTITION BY w.word ORDER BY w.pos) AS nxt
       |  FROM $wP w CROSS JOIN m$t m
       |), g$t AS MATERIALIZED (
       |  SELECT *, CASE WHEN cand = 1
       |      AND (rn - MIN(rn) OVER (PARTITION BY word, cand, grp)) % 2 = 0
       |    THEN 1 ELSE 0 END AS mg
       |  FROM (SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY word, cand ORDER BY rn) AS grp
       |        FROM c$t)
       |), w$t AS MATERIALIZED (
       |  SELECT word, cnt, pos, CASE WHEN mg = 1 THEN sym || nxt ELSE sym END AS sym
       |  FROM (SELECT *, LAG(mg) OVER (PARTITION BY word ORDER BY rn) AS consumed FROM g$t)
       |  WHERE COALESCE(consumed, 0) = 0
       |)""".stripMargin
  }

  /** Word types + initial single-char symbol state shared by both BPE
    * oracles.
    */
  private val bpeBaseSql: String =
    """WITH wt AS MATERIALIZED (
      |  SELECT word, COUNT(*) AS cnt FROM (
      |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents)
      |  GROUP BY 1
      |), w0 AS MATERIALIZED (
      |  SELECT word, cnt, CAST(u.i AS BIGINT) AS pos,
      |    substring(word, CAST(u.i AS INT), 1) AS sym
      |  FROM wt, UNNEST(range(1, length(word) + 1)) AS u(i)
      |)""".stripMargin

  private val textBpeTrainSql: String =
    bpeBaseSql + (1 to BpeMerges).map(bpeIterSql).mkString + "\n" +
      "SELECT * FROM (\n  " +
      (1 to BpeMerges).map(t =>
        s"SELECT $t AS rank, l AS l_sym, r AS r_sym, CAST(c AS BIGINT) AS cnt FROM m$t")
        .mkString("\n  UNION ALL ") +
      ") ORDER BY rank"

  private val textBpeEncodeSql: String =
    bpeBaseSql + (1 to BpeMerges).map(bpeIterSql).mkString +
      s""", tc AS MATERIALIZED (
         |  SELECT word, COUNT(*) AS n FROM w$BpeMerges GROUP BY 1
         |), dw AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |  FROM documents
         |)
         |SELECT d.doc_id, CAST(COUNT(w.word) AS INT) AS n_words,
         |  CAST(COALESCE(SUM(t.n), 0) AS INT) AS n_tokens
         |FROM documents d LEFT JOIN dw w ON w.doc_id = d.doc_id
         |LEFT JOIN tc t ON t.word = w.word
         |GROUP BY 1 ORDER BY 1""".stripMargin

  /** (doc, position, token_id) replay: per-word symbol order from the
    * final training state, per-doc word order from the regexp list
    * index, global position = running token offset + in-word index,
    * ids from the base-26 + merge-rank vocab (duplicate token strings
    * keep the lowest id, matching TextOps.bpeVocab).
    */
  /** BPE decode roundtrip, GATED: encode every document to the
    * flattened (doc, pos, token_id) tensor (text_bpe_ids' layout),
    * decode it back through the inverse vocabulary, and assert
    * decode∘encode reproduces the document's [a-z]+ character stream
    * exactly. The roundtrip property makes the oracle trivial — it
    * recomputes the reference stream's md5 straight from the raw text
    * and asserts roundtrip_ok TRUE, with no merge-table replay: ANY
    * encoder defect that loses, reorders, or mislabels a token breaks
    * the reconstruction and flips the verdict.
    */
  def textBpeDecode(s: SparkSession, dir: String): DataFrame = {
    val merges = TextOps.bpeTrain(docs(s, dir), "text", BpeMerges)
      .map { case (l, r, _) => (l, r) }
    val ids = TextOps.bpeEncodeIds(docs(s, dir), "text", "doc_id", merges)
    val dec = TextOps.bpeDecodeIds(ids, "doc_id", merges)
    val ref = docs(s, dir).select(col("doc_id"),
      array_join(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "")
        .as("_ref"))
    ref.join(dec, Seq("doc_id"), "left")
      .select(col("doc_id"),
        md5(encode(col("_ref"), "UTF-8")).as("ref_md5"),
        (coalesce(col("decoded"), lit("")) === col("_ref")).as("roundtrip_ok"))
      .orderBy("doc_id")
  }

  private val textBpeDecodeSql: String =
    """SELECT doc_id,
      |  md5(array_to_string(regexp_extract_all(lower(text), '[a-z]+'), '')) AS ref_md5,
      |  TRUE AS roundtrip_ok
      |FROM documents ORDER BY doc_id""".stripMargin

  private val textBpeIdsSql: String =
    bpeBaseSql + (1 to BpeMerges).map(bpeIterSql).mkString +
      s""", tc AS MATERIALIZED (
         |  SELECT word, COUNT(*) AS n FROM w$BpeMerges GROUP BY 1
         |), ws AS MATERIALIZED (
         |  SELECT word, sym,
         |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) - 1 AS sidx
         |  FROM w$BpeMerges
         |), dw AS MATERIALIZED (
         |  SELECT doc_id, u.i AS widx, lst[CAST(u.i AS INT)] AS word
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS lst
         |        FROM documents),
         |       UNNEST(range(1, len(lst) + 1)) AS u(i)
         |), off AS MATERIALIZED (
         |  SELECT d.doc_id, d.widx, d.word,
         |    COALESCE(SUM(t.n) OVER (PARTITION BY d.doc_id ORDER BY d.widx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ofs
         |  FROM dw d JOIN tc t ON t.word = d.word
         |), vm AS MATERIALIZED (
         |  SELECT tok, MIN(id) AS id FROM (
         |    SELECT chr(97 + CAST(u.i AS INT)) AS tok, CAST(u.i AS INT) AS id
         |    FROM UNNEST(range(0, 26)) AS u(i)
         |    ${(1 to BpeMerges).map(t =>
                  s"UNION ALL SELECT l || r AS tok, ${25 + t} AS id FROM m$t")
                .mkString("\n    ")}
         |  ) GROUP BY 1
         |)
         |SELECT o.doc_id, CAST(o.ofs + s.sidx AS INT) AS pos,
         |  CAST(v.id AS INT) AS token_id
         |FROM off o JOIN ws s ON s.word = o.word JOIN vm v ON v.tok = s.sym
         |ORDER BY 1, 2""".stripMargin

  // ---- byte-level BPE (round 18) -------------------------------------

  private val BpeBytesMerges = 8

  /** Byte-level BPE train (GPT-2's byte alphabet, Sennrich's
    * algorithm; both public) over the MULTILINGUAL slice — every doc
    * carries a CJK/Arabic/Cyrillic/accented phrase, so multi-byte
    * UTF-8 sequences genuinely compete in the pair counts, which the
    * closed [a-z]+ trainer (text_bpe_train) provably cannot see. The
    * oracle replays the full deterministic fit in DuckDB over BLOB
    * symbols (byte extraction via hex/unhex, blob concat, memcmp
    * tie-break — the same unsigned order Spark's binary sort uses).
    */
  def textBpeBytesTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def hx(b: Array[Byte]): String = b.map("%02X".format(_)).mkString
    TextOps.bpeTrainBytes(uDocs(s, dir).select(col("doc_id"), col("_ut")),
        "_ut", BpeBytesMerges)
      .zipWithIndex
      .map { case ((l, r, c), i) => (i + 1, hx(l), hx(r), c) }.toSeq
      .toDF("rank", "l_hex", "r_hex", "cnt")
      .orderBy("rank")
  }

  /** One unrolled BYTE-level BPE iteration — [[bpeIterSql]] with BLOB
    * symbols: the greedy-scan replay (run-parity + consumed-neighbor
    * rules) is identical; only the symbol domain changes.
    */
  private def bpeBytesIterSql(t: Int): String = {
    val wP = s"bw${t - 1}"
    s""", bp$t AS MATERIALIZED (
       |  SELECT l, r, SUM(cnt) AS c FROM (
       |    SELECT sym AS l, LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS r, cnt
       |    FROM $wP) WHERE r IS NOT NULL GROUP BY 1, 2
       |), bm$t AS MATERIALIZED (
       |  SELECT l, r, c FROM bp$t ORDER BY c DESC, l, r LIMIT 1
       |), bc$t AS MATERIALIZED (
       |  SELECT w.word, w.cnt, w.pos, w.sym,
       |    ROW_NUMBER() OVER (PARTITION BY w.word ORDER BY w.pos) AS rn,
       |    CASE WHEN w.sym = m.l AND LEAD(w.sym) OVER (PARTITION BY w.word ORDER BY w.pos) = m.r
       |      THEN 1 ELSE 0 END AS cand,
       |    LEAD(w.sym) OVER (PARTITION BY w.word ORDER BY w.pos) AS nxt
       |  FROM $wP w CROSS JOIN bm$t m
       |), bg$t AS MATERIALIZED (
       |  SELECT *, CASE WHEN cand = 1
       |      AND (rn - MIN(rn) OVER (PARTITION BY word, cand, grp)) % 2 = 0
       |    THEN 1 ELSE 0 END AS mg
       |  FROM (SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY word, cand ORDER BY rn) AS grp
       |        FROM bc$t)
       |), bw$t AS MATERIALIZED (
       |  SELECT word, cnt, pos, CASE WHEN mg = 1 THEN sym || nxt ELSE sym END AS sym
       |  FROM (SELECT *, LAG(mg) OVER (PARTITION BY word ORDER BY rn) AS consumed FROM bg$t)
       |  WHERE COALESCE(consumed, 0) = 0
       |)""".stripMargin
  }

  /** Whitespace word types + per-byte BLOB symbol state over the
    * multilingual slice (requires the `ud` CTE in scope).
    */
  private val bpeBytesBaseSql: String =
    """bwt AS MATERIALIZED (
      |  SELECT word, COUNT(*) AS cnt FROM (
      |    SELECT unnest(list_filter(string_split_regex(ut, '\s+'), x -> x <> '')) AS word
      |    FROM ud)
      |  GROUP BY 1
      |), bw0 AS MATERIALIZED (
      |  SELECT word, cnt, CAST(u.i AS BIGINT) AS pos,
      |    unhex(substr(hex(encode(word)), 2 * CAST(u.i AS INT) - 1, 2)) AS sym
      |  FROM bwt, UNNEST(range(1, octet_length(encode(word)) + 1)) AS u(i)
      |)""".stripMargin

  private val textBpeBytesTrainSql: String =
    s"WITH $uDocsSql, " + bpeBytesBaseSql +
      (1 to BpeBytesMerges).map(bpeBytesIterSql).mkString + "\n" +
      "SELECT * FROM (\n  " +
      (1 to BpeBytesMerges).map(t =>
        s"SELECT $t AS rank, hex(l) AS l_hex, hex(r) AS r_hex, CAST(c AS BIGINT) AS cnt FROM bm$t")
        .mkString("\n  UNION ALL ") +
      ") ORDER BY rank"

  /** Byte-level decode roundtrip, GATED over the multilingual slice:
    * encode every whitespace piece's UTF-8 bytes under the trained
    * merges, decode by concatenation, and assert the document's
    * whitespace-stripped text reproduces EXACTLY — digits,
    * punctuation, CJK and all, the content the [a-z]+ pipeline
    * provably drops. The roundtrip property keeps the oracle trivial
    * (raw-text md5 + TRUE), with no merge replay: any encoder defect
    * that loses or reorders a byte flips the verdict.
    */
  def textBpeBytesDecode(s: SparkSession, dir: String): DataFrame = {
    val ud = uDocs(s, dir).select(col("doc_id"), col("_ut"))
    val merges = TextOps.bpeTrainBytes(ud, "_ut", BpeBytesMerges)
      .map { case (l, r, _) => (l, r) }
    TextOps.bpeBytesRoundtrip(ud, "_ut", merges)
      .select(col("doc_id"),
        md5(encode(regexp_replace(col("_ut"), "\\s+", ""), "UTF-8")).as("ref_md5"),
        (col("decoded") === regexp_replace(col("_ut"), "\\s+", ""))
          .as("roundtrip_ok"))
      .orderBy("doc_id")
  }

  private val textBpeBytesDecodeSql: String =
    s"""WITH $uDocsSql
       |SELECT doc_id,
       |  md5(regexp_replace(ut, '\\s+', '', 'g')) AS ref_md5,
       |  TRUE AS roundtrip_ok
       |FROM ud ORDER BY doc_id""".stripMargin

  def textRepetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionFrame(docs(s, dir), "text")
      .select(col("doc_id"), col("n_shingles"), fp6(col("dup_ratio")).as("dr_fp"))
      .orderBy("doc_id")

  private val textRepetitionSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) >= 3
       |         THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |               for i in generate_series(1, len(ws) - 2)]
       |         ELSE [] END AS s
       |  FROM w
       |)
       |SELECT doc_id, CAST(len(s) AS INT) AS n_shingles,
       |  ${fpSql("CASE WHEN len(s) > 0 THEN 1.0 - CAST(len(list_distinct(s)) AS DOUBLE) / len(s) ELSE 0.0 END", "1e6")} AS dr_fp
       |FROM sh ORDER BY doc_id""".stripMargin

  private val UnigramMaxLen = 3
  private val UnigramSeedDivisor = 400L
  private val UnigramKeepMulti = 40

  /** Shared oracle CTE chain replaying the WHOLE unigram-LM hard-EM
    * fit in DuckDB (graft.dsp.Unigram — Kudo 2018's SentencePiece
    * unigram, public): seed substring counts → integer micro-nat
    * scores → Viterbi pass 1 (recursive path enumeration; words are
    * short so paths stay bounded; the argmax replays the engine's
    * exact integer tie-break: score desc, fewer tokens, then path
    * under binary collation with a chr(31) separator) → counts →
    * prune to chars + top-40 multi-char → Laplace re-score → Viterbi
    * pass 2 → final counts/scores. ALL segmentation decisions are
    * integer comparisons in both engines; the only float op is the
    * ln feeding the 1e-6 quantizer.
    */
  private val unigramFitSql: String =
    s"""$uDocsSql, wt AS MATERIALIZED (
       |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split_regex(ut, '\\s+')) AS w FROM ud) t
       |  WHERE length(w) > 0 GROUP BY 1
       |), sub AS MATERIALIZED (
       |  SELECT substr(word, i, l) AS piece, CAST(SUM(cnt) AS BIGINT) AS c
       |  FROM wt
       |  CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS i) ii
       |  CROSS JOIN (SELECT unnest(generate_series(1, $UnigramMaxLen)) AS l) ll
       |  WHERE i + l - 1 <= length(word)
       |  GROUP BY 1
       |), par AS MATERIALIZED (
       |  SELECT GREATEST(2, (SUM(cnt) + ${UnigramSeedDivisor - 1}) // $UnigramSeedDivisor) AS minc FROM wt
       |), v0 AS MATERIALIZED (
       |  SELECT piece, c, length(piece) AS plen FROM sub, par
       |  WHERE length(piece) = 1 OR c >= minc
       |), v0s AS MATERIALIZED (
       |  SELECT piece, plen,
       |    CAST(ROUND(1e6 * LN(CAST(c AS DOUBLE) /
       |      (SELECT CAST(SUM(c) AS DOUBLE) FROM v0))) AS BIGINT) AS lpq
       |  FROM v0
       |), r1 AS (
       |  SELECT word, cnt, 0 AS pos, CAST(0 AS BIGINT) AS score, 0 AS ntok, '' AS path
       |  FROM wt
       |  UNION ALL
       |  SELECT r.word, r.cnt, r.pos + v.plen, r.score + v.lpq, r.ntok + 1,
       |    r.path || CASE WHEN r.pos = 0 THEN '' ELSE chr(31) END || v.piece
       |  FROM r1 r JOIN v0s v ON v.piece = substr(r.word, r.pos + 1, v.plen)
       |  WHERE r.pos < length(r.word)
       |), s1 AS MATERIALIZED (
       |  SELECT word, cnt, path FROM (
       |    SELECT word, cnt, path,
       |      row_number() OVER (PARTITION BY word
       |        ORDER BY score DESC, ntok ASC, path ASC) AS rn
       |    FROM r1 WHERE pos = length(word)) t
       |  WHERE rn = 1
       |), c1 AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c
       |  FROM (SELECT cnt, unnest(string_split(path, chr(31))) AS piece FROM s1) t
       |  GROUP BY 1
       |), v1 AS MATERIALIZED (
       |  SELECT v0.piece AS piece, COALESCE(c1.c, 0) AS c
       |  FROM v0 LEFT JOIN c1 ON v0.piece = c1.piece
       |  WHERE v0.plen = 1
       |  UNION ALL
       |  SELECT piece, c FROM (
       |    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece ASC) AS rk
       |    FROM c1 WHERE length(piece) > 1 AND c > 0) t
       |  WHERE rk <= $UnigramKeepMulti
       |), v1s AS MATERIALIZED (
       |  SELECT piece, length(piece) AS plen,
       |    CAST(ROUND(1e6 * LN((c + 1.0) /
       |      CAST((SELECT SUM(c) FROM v1) + (SELECT COUNT(*) FROM v1) AS DOUBLE))) AS BIGINT) AS lpq
       |  FROM v1
       |), r2 AS (
       |  SELECT word, cnt, 0 AS pos, CAST(0 AS BIGINT) AS score, 0 AS ntok, '' AS path
       |  FROM wt
       |  UNION ALL
       |  SELECT r.word, r.cnt, r.pos + v.plen, r.score + v.lpq, r.ntok + 1,
       |    r.path || CASE WHEN r.pos = 0 THEN '' ELSE chr(31) END || v.piece
       |  FROM r2 r JOIN v1s v ON v.piece = substr(r.word, r.pos + 1, v.plen)
       |  WHERE r.pos < length(r.word)
       |), s2 AS MATERIALIZED (
       |  SELECT word, cnt, path, ntok FROM (
       |    SELECT word, cnt, path, ntok,
       |      row_number() OVER (PARTITION BY word
       |        ORDER BY score DESC, ntok ASC, path ASC) AS rn
       |    FROM r2 WHERE pos = length(word)) t
       |  WHERE rn = 1
       |), c2 AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c
       |  FROM (SELECT cnt, unnest(string_split(path, chr(31))) AS piece FROM s2) t
       |  GROUP BY 1
       |), vfin AS MATERIALIZED (
       |  SELECT v1.piece AS piece, COALESCE(c2.c, 0) AS cnt,
       |    CAST(ROUND(1e6 * LN((COALESCE(c2.c, 0) + 1.0) /
       |      CAST((SELECT SUM(c) FROM c2) + (SELECT COUNT(*) FROM v1) AS DOUBLE))) AS BIGINT) AS lpq
       |  FROM v1 LEFT JOIN c2 ON v1.piece = c2.piece
       |)""".stripMargin

  /** Unigram-LM tokenizer fit (round 19 — SentencePiece's unigram
    * family, the LLaMA-style counterpart to byte BPE): two
    * deterministic hard-EM rounds over the multilingual corpus.
    * Output is the final vocabulary with expected counts and integer
    * micro-nat log-probs — every column integer, so the DuckDB
    * replay (which re-runs the ENTIRE fit: seed, two Viterbi passes,
    * prune, smoothing) must match bit-for-bit. Gates: Viterbi
    * reassignment under the round-2 model can never lose likelihood
    * (>= 0 by argmax construction — a broken DP flips it), and at
    * least one multi-char piece must survive (compression engaged).
    */
  /** Both small-config unigram oracles replay the fit in DuckDB under
    * two contracts the ENGINE must hold too, loudly (ADVICE r19): the
    * oracle's seed enumeration caps word length at 32 chars
    * (generate_series(1,32)), and the oracle fits the UNCAPPED
    * word-type histogram while unigramTrain's collect is capped at
    * `maxTypes` — a corpus where either engages must refuse, never
    * surface as an opaque digest mismatch. One aggregate pass checks
    * both.
    */
  private def unigramOracleGuard(ud: DataFrame): Unit = {
    val g = ud.select(explode(filter(split(col("_ut"), "\\s+"),
        w => length(w) > 0)).as("w"))
      .agg(max(length(col("w"))).as("mw"),
        count_distinct(col("w")).as("nt")).collect()(0)
    require(g.getInt(0) <= 32,
      s"oracle replay caps word length at 32 chars, corpus has ${g.getInt(0)}")
    require(g.getLong(1) <= 1000000L,
      s"corpus has ${g.getLong(1)} word types — unigramTrain's maxTypes " +
      "collect cap would engage but the DuckDB oracle fits uncapped")
  }

  def textUnigramTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ud = uDocs(s, dir).select(col("doc_id"), col("_ut"))
    unigramOracleGuard(ud)
    val m = TextOps.unigramTrain(ud, "_ut", UnigramMaxLen,
      UnigramSeedDivisor, UnigramKeepMulti)
    require(m.reassignGain >= 0L,
      "hard-EM reassignment lost likelihood — the Viterbi argmax is broken")
    require(m.pieces.exists(_._1.length > 1),
      "no multi-char piece survived pruning — the fit is degenerate")
    m.pieces.toSeq.toDF("piece", "cnt", "lpq").orderBy("piece")
  }

  private val textUnigramTrainSql: String =
    s"""WITH RECURSIVE $unigramFitSql
       |SELECT piece, cnt, lpq FROM vfin ORDER BY piece""".stripMargin

  /** Unigram encode over the same corpus: map-side Viterbi under the
    * broadcast-literal model (zero shuffle — the 100 TB path). The
    * digest pins per-document token counts (the oracle re-derives
    * them by joining each document's words to the replayed round-2
    * segmentation) plus the full-coverage roundtrip: single-char
    * pieces are never pruned, so concat(tokens) must reproduce the
    * whitespace-stripped text exactly — any kernel defect that drops
    * or reorders a piece flips the flag or the count.
    */
  def textUnigramEncode(s: SparkSession, dir: String): DataFrame = {
    val ud = uDocs(s, dir).select(col("doc_id"), col("_ut"))
    unigramOracleGuard(ud)
    val m = TextOps.unigramTrain(ud, "_ut", UnigramMaxLen,
      UnigramSeedDivisor, UnigramKeepMulti)
    TextOps.unigramEncode(ud, "_ut", m)
      .select(col("doc_id"),
        size(col("unigram_tokens")).cast("long").as("n_tokens"),
        md5(encode(regexp_replace(col("_ut"), "\\s+", ""), "UTF-8")).as("ref_md5"),
        (array_join(col("unigram_tokens"), "") ===
          regexp_replace(col("_ut"), "\\s+", "")).as("roundtrip_ok"))
      .orderBy("doc_id")
  }

  /** ADVICE r19 (medium): the engine encodes under the FINAL model
    * scores (vfin — the fit's output), so the oracle runs a THIRD
    * Viterbi pass under exactly those scores instead of reusing s2
    * (the round-2 segmentation under the round-1-count scores v1s),
    * which agrees with vfin only once hard-EM has converged. Also
    * (ADVICE low) docs with zero non-empty words keep n_tokens=0 via
    * the LEFT JOIN — the engine emits such docs with an empty token
    * array, not no row.
    */
  private val textUnigramEncodeSql: String =
    s"""WITH RECURSIVE $unigramFitSql, vfs AS MATERIALIZED (
       |  SELECT piece, length(piece) AS plen, lpq FROM vfin
       |), r3 AS (
       |  SELECT word, cnt, 0 AS pos, CAST(0 AS BIGINT) AS score, 0 AS ntok, '' AS path
       |  FROM wt
       |  UNION ALL
       |  SELECT r.word, r.cnt, r.pos + v.plen, r.score + v.lpq, r.ntok + 1,
       |    r.path || CASE WHEN r.pos = 0 THEN '' ELSE chr(31) END || v.piece
       |  FROM r3 r JOIN vfs v ON v.piece = substr(r.word, r.pos + 1, v.plen)
       |  WHERE r.pos < length(r.word)
       |), s3 AS MATERIALIZED (
       |  SELECT word, ntok FROM (
       |    SELECT word, ntok,
       |      row_number() OVER (PARTITION BY word
       |        ORDER BY score DESC, ntok ASC, path ASC) AS rn
       |    FROM r3 WHERE pos = length(word)) t
       |  WHERE rn = 1
       |), dw AS MATERIALIZED (
       |  SELECT doc_id, w AS word
       |  FROM (SELECT doc_id, unnest(string_split_regex(ut, '\\s+')) AS w FROM ud) t
       |  WHERE length(w) > 0
       |), enc AS MATERIALIZED (
       |  SELECT dw.doc_id, CAST(SUM(s3.ntok) AS BIGINT) AS n_tokens
       |  FROM dw JOIN s3 ON dw.word = s3.word
       |  GROUP BY 1
       |)
       |SELECT ud.doc_id AS doc_id, CAST(COALESCE(enc.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  md5(regexp_replace(ut, '\\s+', '', 'g')) AS ref_md5,
       |  TRUE AS roundtrip_ok
       |FROM ud LEFT JOIN enc ON ud.doc_id = enc.doc_id
       |ORDER BY 1""".stripMargin

  /** Production-parameter unigram fit (VERDICT r19 #1): maxLen 8, a
    * 4096-candidate distributed seed, iterative 0.75-keep pruning to
    * EXACTLY `LargeTargetMulti` multi-char pieces, two final EM rounds
    * at the fixed vocabulary — [[TextOps.unigramTrainLarge]], where
    * every corpus-sized stage is distributed (no full-substring driver
    * seed, no word-type collect). DuckDB cannot replay a fit this
    * shape, so the oracle pins the INVARIANTS the fit must deliver,
    * each computed (not assumed) engine-side: per-doc roundtrip
    * (single-char coverage survives every prune), the exact final
    * multi-piece count (the prune loop landed on target), and the
    * soft-EM marginal-likelihood monotonicity gate
    * ([[graft.dsp.Unigram.LargeFit.monotoneOk]]).
    */
  private val LargeTargetMulti = 256

  /** Compound-word corpus for the production-parameter fit: the
    * driver's synthetic documents carry only ~31 distinct words — far
    * too few TYPES for an iterative-prune fit to hundreds of pieces —
    * so each doc's word stream (multilingual slice included) is
    * recompounded into overlapping 3-word concatenations
    * ("keyaggrow"), a type inventory that scales like vocab³ while
    * staying fully deterministic. A unigram LM over compounds also
    * demonstrates the algorithm's actual job: the pieces it learns
    * recover the base lexicon from unsegmented text.
    */
  private[graft] def compDocs(s: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val ws = filter(split(col("_ut"), "\\s+"), w => length(w) > 0)
    // Compounds come from n SHIFTED SLICES of the word array zipped
    // together — NOT transform(sequence, i => element_at(ws, i + k)):
    // higher-order functions evaluate their ARRAY arguments once but
    // re-evaluate captured column expressions per lambda ELEMENT, so
    // the element_at form recomputed the full split+filter for every
    // (position × n) reference — O(words²) per doc, measured 116 s
    // just to materialize `_cw` at ×10 (and every later reference to
    // `_cw` paid it again). The slice/zip_with form evaluates `ws`
    // O(n) times per row.
    val m = greatest(size(ws) - (n - 1), lit(0)) // 0 for short docs
    val parts = (0 until n).map(k => slice(ws, lit(k + 1), m))
    val comp = parts.reduceLeft((a, b) => zip_with(a, b, (x, y) => concat(x, y)))
    // spread BEFORE the compound expression: the fit's histogram build
    // and the map-side encode both run on this frame (a pass-through
    // when uDocs already rides docs()'s spread)
    Width.spread(uDocs(s, dir), "doc_id")
      .withColumn("_cw", array_join(comp, " "))
      .select(col("doc_id"), col("_cw"))
  }

  def textUnigramLarge(s: SparkSession, dir: String): DataFrame = CacheUtil.result { scope =>
    // cached: the fit's histogram build AND the map-side encode both
    // consume the compound corpus; freed after the result's first
    // execution
    val ud = scope.cache(compDocs(s, dir))
    val fit = TextOps.unigramTrainLarge(ud, "_cw", maxLen = 8,
      seedSize = 4096, targetMulti = LargeTargetMulti,
      shrinkKeep = 0.75, finalRounds = 2)
    val pieces = fit.pieces
    val nMulti = pieces.count(_._1.length > 1)
    val emOk = fit.monotoneOk
    require(emOk, "soft-EM lost marginal likelihood in a fixed-vocab " +
      s"round — stats: ${fit.stats.mkString(", ")}")
    TextOps.unigramEncode(ud, "_cw", pieces)
      .select(col("doc_id"),
        (array_join(col("unigram_tokens"), "") ===
          regexp_replace(col("_cw"), "\\s+", "")).as("roundtrip_ok"),
        lit(nMulti).as("n_multi"),
        lit(emOk).as("em_ok"))
      .orderBy("doc_id")
  }

  private val textUnigramLargeSql: String =
    s"""SELECT doc_id, TRUE AS roundtrip_ok,
       |  CAST($LargeTargetMulti AS INT) AS n_multi, TRUE AS em_ok
       |FROM documents ORDER BY doc_id""".stripMargin

  def textSplit(s: SparkSession, dir: String): DataFrame =
    TextOps.hashSplit(docs(s, dir), "doc_id")
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id")

  private val textSplitSql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS bk
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CASE WHEN bk < 500 THEN 'val'
      |       WHEN bk < 1000 THEN 'test'
      |       ELSE 'train' END AS split
      |FROM b ORDER BY doc_id""".stripMargin

  /** Deterministic corpus reweighting: downsample en to 20%, zh to
    * 50%, keep everything else — the mixture knob of a training-data
    * pipeline, zero-shuffle (TextOps.sampleByRates).
    */
  def textSample(s: SparkSession, dir: String): DataFrame =
    TextOps.sampleByRates(docs(s, dir), "doc_id", "lang",
      Seq("en" -> 0.2, "zh" -> 0.5))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  private val textSampleSql: String =
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS bk
      |  FROM documents
      |)
      |SELECT doc_id, lang FROM b
      |WHERE bk < CASE lang WHEN 'en' THEN 2000 WHEN 'zh' THEN 5000 ELSE 10000 END
      |ORDER BY doc_id""".stripMargin

  /** Deterministic per-language quota (20 docs each, hash-ranked) via
    * the bounded-heap TopKAgg — shuffle carries ≤ n×partitions rows
    * per stratum, never the stratum (TextOps.quotaSample).
    */
  def textQuota(s: SparkSession, dir: String): DataFrame =
    TextOps.quotaSample(docs(s, dir), "doc_id", "lang", n = 20)
      .orderBy("stratum", "rank")

  private val textQuotaSql: String =
    """WITH h AS (
      |  SELECT lang AS stratum, doc_id,
      |    CAST(('0x' || substr(md5('quota|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |  FROM documents
      |), r AS (
      |  SELECT stratum, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY hv, doc_id) AS rk
      |  FROM h
      |)
      |SELECT stratum, CAST(rk AS INT) AS rank, doc_id
      |FROM r WHERE rk <= 20 ORDER BY 1, 2""".stripMargin

  /** Domain-mixture resampling to en 0.5 / zh 0.25 / de 0.25: the
    * binding domain keeps 100%, others downsample by the permyriad
    * hash bucket. The oracle recomputes the counts, the binding
    * constant K, and the rounded thresholds in SQL with the identical
    * double expression shape (w·K/c, round half-up ×10000) — all
    * literals CAST AS DOUBLE so DuckDB doesn't fall into DECIMAL
    * arithmetic. es/fr are unlisted and must be dropped.
    */
  def textMixture(s: SparkSession, dir: String): DataFrame =
    TextOps.mixtureSample(docs(s, dir), "doc_id", "lang",
      Seq("en" -> 0.5, "zh" -> 0.25, "de" -> 0.25))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  private val textMixtureSql: String =
    """WITH wt(dom, w) AS (
      |  VALUES ('en', CAST(0.5 AS DOUBLE)), ('zh', CAST(0.25 AS DOUBLE)),
      |         ('de', CAST(0.25 AS DOUBLE))
      |), c AS (
      |  SELECT lang AS dom, COUNT(*) AS c FROM documents
      |  WHERE lang IN (SELECT dom FROM wt) GROUP BY 1
      |), k AS (
      |  SELECT MIN(c.c / wt.w) AS k FROM c JOIN wt USING (dom)
      |), r AS (
      |  SELECT c.dom,
      |    CAST(ROUND(LEAST(CAST(1.0 AS DOUBLE), wt.w * k.k / c.c) * 10000, 0) AS BIGINT) AS thr
      |  FROM c JOIN wt USING (dom) CROSS JOIN k
      |), b AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS bk
      |  FROM documents
      |)
      |SELECT b.doc_id, b.lang FROM b JOIN r ON r.dom = b.lang
      |WHERE b.bk < r.thr
      |ORDER BY 1""".stripMargin

  /** Token-balanced sharding into 8 shards by n_chars: global
    * (weight DESC, id) rank via the range-partition + broadcast-offset
    * mechanism (NO single-partition window), shard = (rank-1) mod 8.
    * The oracle is the plain ROW_NUMBER the mechanism replaces.
    */
  def textShards(s: SparkSession, dir: String): DataFrame =
    TextOps.shardByWeight(docs(s, dir), "doc_id", "n_chars", nShards = 8)
      .select(col("doc_id"), col("rank"), col("shard"))
      .orderBy("doc_id")

  private val textShardsSql: String =
    """SELECT doc_id,
      |  ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rank,
      |  CAST((ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1) % 8 AS INT) AS shard
      |FROM documents
      |ORDER BY 1""".stripMargin

  /** Cross-doc repeated-3-gram coverage (boilerplate/contamination
    * signal): shingles occurring in ≥2 distinct docs are "common";
    * per doc, total/common occurrence counts + covered fraction.
    */
  def textCommonNgrams(s: SparkSession, dir: String): DataFrame =
    TextOps.commonNgramCoverage(docs(s, dir), "doc_id", "text", minDocs = 2)
      .select(col("doc_id"), col("n_sh"), col("n_common"),
        fp6(col("coverage")).as("cov_fp"))
      .orderBy("doc_id")

  private val textCommonNgramsSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                         for i in generate_series(1, len(ws) - 2)]) AS s
       |  FROM w WHERE len(ws) >= 3
       |), occ AS (
       |  SELECT doc_id, s, COUNT(*) AS cnt FROM sh GROUP BY 1, 2
       |), com AS (
       |  SELECT s FROM occ GROUP BY s HAVING COUNT(*) >= 2
       |), agg AS (
       |  SELECT o.doc_id,
       |    CAST(SUM(o.cnt) AS BIGINT) AS n_sh,
       |    CAST(SUM(CASE WHEN c.s IS NOT NULL THEN o.cnt ELSE 0 END) AS BIGINT) AS n_common
       |  FROM occ o LEFT JOIN com c ON c.s = o.s
       |  GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  COALESCE(a.n_sh, 0) AS n_sh,
       |  COALESCE(a.n_common, 0) AS n_common,
       |  ${fpSql("CASE WHEN COALESCE(a.n_sh, 0) > 0 THEN CAST(a.n_common AS DOUBLE) / a.n_sh ELSE 0.0 END", "1e6")} AS cov_fp
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |ORDER BY 1""".stripMargin

  /** CCNet-style bigram LM quality score per document (corpus-trained,
    * add-one smoothed, mean token log-prob). The oracle retrains the
    * same bigram model in SQL.
    */
  def textLmScore(s: SparkSession, dir: String): DataFrame =
    TextOps.lmScore(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"), fp4(col("lm_score")).as("lm_fp"), col("n_bigrams"))
      .orderBy("doc_id")

  private val textLmScoreSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws FROM documents
       |), bg AS (
       |  -- words are whitespace-split, so ' ' is a safe bigram separator
       |  SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1]
       |                         for i in generate_series(1, len(ws) - 1)]) AS b
       |  FROM w WHERE len(ws) >= 2
       |), big AS (
       |  SELECT b, COUNT(*) AS c2 FROM bg GROUP BY 1
       |), tok AS (
       |  SELECT unnest(ws) AS wd FROM w
       |), uni AS (
       |  SELECT wd, COUNT(*) AS c1 FROM tok GROUP BY 1
       |), v AS (
       |  SELECT COUNT(*) AS v FROM uni
       |), sc AS (
       |  SELECT bg.doc_id,
       |    AVG(ln(CAST(big.c2 + 1 AS DOUBLE) / (uni.c1 + v.v))) AS lm,
       |    CAST(COUNT(*) AS BIGINT) AS n_bigrams
       |  FROM bg
       |  JOIN big ON big.b = bg.b
       |  JOIN uni ON uni.wd = split_part(bg.b, ' ', 1)
       |  CROSS JOIN v
       |  GROUP BY 1
       |)
       |SELECT d.doc_id, ${fpSql("sc.lm", "1e4")} AS lm_fp,
       |  COALESCE(sc.n_bigrams, 0) AS n_bigrams
       |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
       |ORDER BY 1""".stripMargin

  /** Corpus-wide exact top-20 words. Spark plans the bounded-heap
    * TakeOrderedAndProject (k rows per partition cross the exchange,
    * never the vocabulary); ties break on the word.
    */
  def textTopWords(s: SparkSession, dir: String): DataFrame =
    TextOps.topWords(docs(s, dir), "text", k = 20)
      .orderBy(col("cnt").desc, col("word"))

  private val textTopWordsSql: String =
    """WITH w AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS word
      |  FROM documents
      |)
      |SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM w GROUP BY 1
      |ORDER BY cnt DESC, word LIMIT 20""".stripMargin

  /** Count-min-sketch n-gram frequencies, GATED (functions.CmsAgg —
    * Cormode & Muthukrishnan 2005): the one-pass mergeable frequency
    * sketch that replaces exact heavy-hitter hash aggregates when the
    * key domain explodes at 100 TB (fixed d·w·8-byte state per group;
    * merge = elementwise add, so estimates are deterministic under ANY
    * partition/merge order). The keyed domain here is 3-word shingles
    * — thousands of distinct keys against w=2048 counters, so
    * collisions are REAL and the error band is genuinely exercised
    * (the 31-word corpus vocabulary would fit collision-free). Output
    * rows are the exact top-20 shingles (oracle-replayable), each
    * carrying two verdicts the oracle asserts TRUE:
    *  - over_ok: est ≥ exact — the CMS one-sided guarantee, which
    *    holds by construction for every item,
    *  - band_ok: est ≤ exact + εN with ε = e/width — the advertised
    *    error band (probabilistic over the hash draw, but the hashes
    *    are fixed constants, so on a given corpus it is deterministic).
    * The sketch and the verdict table are bounded control-plane
    * collects (d·w longs + 20 rows — the kmeansFit shape).
    */
  def textCmsNgrams(s: SparkSession, dir: String): DataFrame = {
    val d = 5
    val w = 2048
    val toks = Dedup.shingleFrame(docs(s, dir), "doc_id", "text")
      .select(col("s").as("word"))
    val skRow = toks
      .agg(graft.functions.CmsAgg.cms(col("word"), d, w).as("sk"),
        count(lit(1)).as("n")).head()
    val sketch = skRow.getSeq[Long](0).toArray
    val bound = skRow.getLong(1) * (math.E / w)
    val top = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(20)
    val verdicts = top.collect().map { r =>
      val word = r.getString(0)
      val cnt = r.getLong(1)
      val est = graft.functions.CmsAgg.estimate(sketch, d, w, word)
      word -> (est >= cnt, est <= cnt + bound)
    }.toMap
    val overMap = typedLit(verdicts.map { case (k, v) => k -> v._1 })
    val bandMap = typedLit(verdicts.map { case (k, v) => k -> v._2 })
    top.select(col("word"), col("cnt").as("n_exact"),
      element_at(overMap, col("word")).as("over_ok"),
      element_at(bandMap, col("word")).as("band_ok"))
      .orderBy(col("n_exact").desc, col("word"))
  }

  private val textCmsNgramsSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, ${uniWsSql("text")} AS ws FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                         for i in generate_series(1, len(ws) - 2)]) AS s
       |  FROM w WHERE len(ws) >= 3
       |)
       |SELECT s AS word, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  TRUE AS over_ok, TRUE AS band_ok
       |FROM sh GROUP BY 1
       |ORDER BY n_exact DESC, word LIMIT 20""".stripMargin

  /** PII scrubbing over documents with deterministic PII injected from
    * doc_id (the corpus is synthetic word salad with no organic PII):
    * every 3rd doc gains an email, every 5th a phone, every 7th an
    * IPv4, built by identical string arithmetic on both sides. The
    * oracle replays the sequential email→IP→phone scrub with RE2
    * regexes textually identical to the Java ones (the patterns live
    * in the dialect-portable subset — see TextOps.piiEmailRe).
    */
  def textPii(s: SparkSession, dir: String): DataFrame = {
    val injected = docs(s, dir).withColumn("text_in", concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" mail user"), col("doc_id").cast("string"), lit("@ex"),
          (col("doc_id") % 7).cast("string"), lit(".org"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call "), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" ip 10."), (col("doc_id") % 256).cast("string"), lit("."),
          (expr("doc_id div 3") % 256).cast("string"), lit(".7")))
        .otherwise(lit(""))))
    TextOps.piiScrub(injected, "text_in")
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        col("text_scrubbed"))
      .orderBy("doc_id")
  }

  private val textPiiSql: String = {
    val e = TextOps.piiEmailRe
    val ip = TextOps.piiIpRe
    val ph = TextOps.piiPhoneRe
    s"""WITH inj AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 3 = 0 THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org' ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN ' call ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id // 3) % 256 AS VARCHAR) || '.7' ELSE '' END AS t
       |  FROM documents
       |), s1 AS (
       |  SELECT doc_id, t, regexp_replace(t, '$e', '<EMAIL>', 'g') AS t1 FROM inj
       |), s2 AS (
       |  SELECT *, regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM s1
       |)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$e', 0)) AS INT) AS n_email,
       |  CAST(len(regexp_extract_all(t1, '$ip', 0)) AS INT) AS n_ip,
       |  CAST(len(regexp_extract_all(t2, '$ph', 0)) AS INT) AS n_phone,
       |  regexp_replace(t2, '$ph', '<PHONE>', 'g') AS text_scrubbed
       |FROM s2 ORDER BY doc_id""".stripMargin
  }

  /** Gopher filter rules over the MULTILINGUAL slice (uDocs) with
    * symbol noise injected into every 11th doc so the symbol-ratio
    * rule fires both ways. Unicode is the DEFAULT (round 15): words
    * stay whitespace units (Gopher's alpha rule measures words
    * WITHOUT letters, so "##" must remain a word) but the text is
    * NFC-folded and the alpha test is `\p{L}` — the appended
    * Arabic/Hebrew/Cyrillic/CJK phrases bind the class (under
    * `[a-z]` every such word counts non-alphabetic and drags
    * alpha_frac toward the 0.8 kill line), and the decomposed
    * phrase-1 rows bind the fold through mean_word_len. All ratios
    * are single int/int divisions — bit-identical across engines.
    */
  def textGopher(s: SparkSession, dir: String): DataFrame = {
    val injected = uDocs(s, dir).withColumn("text_in", concat(col("_ut"),
      when(col("doc_id") % 11 === 0, lit(" ## fake ### ... list ..."))
        .otherwise(lit(""))))
    TextOps.gopherRules(injected, "text_in")
      .select(col("doc_id"), col("n_words"), fp6(col("mean_word_len")).as("mwl_fp"),
        fp6(col("symbol_ratio")).as("sym_fp"), fp6(col("alpha_frac")).as("af_fp"),
        col("n_stop"), col("r_words"), col("r_word_len"), col("r_symbol"),
        col("r_alpha"), col("r_stop"), col("keep"))
      .orderBy("doc_id")
  }

  private val textGopherSql: String = {
    val stopList = TextOps.gopherStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH $uDocsSql, inj AS (
       |  SELECT doc_id, ut ||
       |    CASE WHEN doc_id % 11 = 0 THEN ' ## fake ### ... list ...' ELSE '' END AS t
       |  FROM ud
       |), w AS (
       |  SELECT doc_id, t, list_filter(string_split_regex(lower(nfc_normalize(t)), '\\s+'), x -> x <> '') AS ws FROM inj
       |), f AS (
       |  SELECT doc_id,
       |    len(ws) AS n_words,
       |    CASE WHEN len(ws) > 0
       |      THEN CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws)
       |      ELSE 0.0 END AS mwl,
       |    CASE WHEN len(ws) > 0
       |      THEN CAST((length(t) - length(replace(t, '#', ''))) +
       |                (length(t) - length(replace(t, '...', ''))) // 3 AS DOUBLE) / len(ws)
       |      ELSE 0.0 END AS sym,
       |    CASE WHEN len(ws) > 0
       |      THEN CAST(len(list_filter(ws, x -> regexp_matches(x, '\\p{L}'))) AS DOUBLE) / len(ws)
       |      ELSE 0.0 END AS af,
       |    len(list_filter(ws, x -> x IN ($stopList))) AS n_stop
       |  FROM w
       |)
       |SELECT doc_id, CAST(n_words AS INT) AS n_words,
       |  ${fpSql("mwl", "1e6")} AS mwl_fp,
       |  ${fpSql("sym", "1e6")} AS sym_fp,
       |  ${fpSql("af", "1e6")} AS af_fp,
       |  CAST(n_stop AS INT) AS n_stop,
       |  (n_words >= 50 AND n_words <= 100000) AS r_words,
       |  (mwl >= 3.0 AND mwl <= 10.0) AS r_word_len,
       |  (sym <= 0.1) AS r_symbol,
       |  (af >= 0.8) AS r_alpha,
       |  (n_stop >= 2) AS r_stop,
       |  (n_words >= 50 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
       |   AND sym <= 0.1 AND af >= 0.8 AND n_stop >= 2) AS keep
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Population covariance of the 64-dim embedding corpus (upper
    * triangle), via the one-pass partial-aggregated GramAgg moment
    * buffer. The oracle recomputes Σeᵢeⱼ per pair with double-widened
    * components — same elementwise products, different summation
    * order, hence the fp grid.
    */
  def embCov(s: SparkSession, dir: String): DataFrame =
    graft.operators.Emb.covariance(embs(s, dir), "embedding", 64)
      .select(col("i"), col("j"), col("n"),
        fp6(col("mean_i")).as("mi_fp"), fp6(col("mean_j")).as("mj_fp"),
        fp6(col("cov")).as("cov_fp"))
      .orderBy("i", "j")

  private val embCovSql: String =
    s"""WITH p AS (
       |  SELECT i.i, j.j FROM range(64) i(i), range(64) j(j) WHERE j.j >= i.i
       |), st AS (
       |  SELECT p.i, p.j,
       |    COUNT(*) AS n,
       |    SUM(CAST(embedding[p.i + 1] AS DOUBLE)) / COUNT(*) AS mi,
       |    SUM(CAST(embedding[p.j + 1] AS DOUBLE)) / COUNT(*) AS mj,
       |    SUM(CAST(embedding[p.i + 1] AS DOUBLE) * CAST(embedding[p.j + 1] AS DOUBLE)) / COUNT(*) AS gij
       |  FROM p, embeddings
       |  GROUP BY 1, 2
       |)
       |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, CAST(n AS BIGINT) AS n,
       |  ${fpSql("mi", "1e6")} AS mi_fp,
       |  ${fpSql("mj", "1e6")} AS mj_fp,
       |  ${fpSql("gij - mi * mj", "1e6")} AS cov_fp
       |FROM st ORDER BY 1, 2""".stripMargin

  /** PCA correctness via the reconstruction identity: the driver-side
    * Jacobi eigendecomposition of the GramAgg covariance must satisfy
    * Σ_c λ_c·v_c v_cᵀ = cov, so the query emits the reconstructed
    * matrix and the oracle computes the covariance DIRECTLY in SQL —
    * any defect in the moment pass OR the eigensolver breaks the
    * match. (Eigenvector sign/order ambiguity cancels in the sum,
    * which is what makes this oracle-able at all.)
    */
  def embPcaRecon(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val model = graft.operators.Emb.pcaFit(embs(s, dir), "embedding", dim)
    val rows = for (i <- 0 until dim; j <- i until dim) yield {
      var r = 0.0
      var c = 0
      while (c < dim) {
        r += model.values(c) * model.vectors(c)(i) * model.vectors(c)(j)
        c += 1
      }
      (i, j, r)
    }
    import s.implicits._
    rows.toSeq.toDF("i", "j", "recon")
      .select(col("i"), col("j"), fp6(col("recon")).as("cov_fp"))
      .orderBy("i", "j")
  }

  private val embPcaReconSql: String =
    s"""WITH p AS (
       |  SELECT i.i, j.j FROM range(64) i(i), range(64) j(j) WHERE j.j >= i.i
       |), st AS (
       |  SELECT p.i, p.j,
       |    SUM(CAST(embedding[p.i + 1] AS DOUBLE)) / COUNT(*) AS mi,
       |    SUM(CAST(embedding[p.j + 1] AS DOUBLE)) / COUNT(*) AS mj,
       |    SUM(CAST(embedding[p.i + 1] AS DOUBLE) * CAST(embedding[p.j + 1] AS DOUBLE)) / COUNT(*) AS gij
       |  FROM p, embeddings
       |  GROUP BY 1, 2
       |)
       |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       |  ${fpSql("gij - mi * mj", "1e6")} AS cov_fp
       |FROM st ORDER BY 1, 2""".stripMargin

  /** Per-component z-scoring of the embedding corpus against the
    * GramAgg moments (first 8 dims to bound output). The oracle
    * recomputes mean and population std per component directly.
    */
  def embStandardize(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val model = graft.operators.Emb.pcaFit(e, "embedding", 64)
    graft.operators.Emb.standardize(e, "embedding", model)
      .select(col("vec_id"), posexplode(expr("slice(z, 1, 8)")).as(Seq("i", "z")))
      .select(col("vec_id"), col("i"), fp4(col("z")).as("z_fp"))
      .orderBy("vec_id", "i")
  }

  private val embStandardizeSql: String =
    s"""WITH st AS (
       |  SELECT i.i,
       |    SUM(CAST(embedding[i.i + 1] AS DOUBLE)) / COUNT(*) AS m,
       |    SUM(CAST(embedding[i.i + 1] AS DOUBLE) * CAST(embedding[i.i + 1] AS DOUBLE)) / COUNT(*) AS s2
       |  FROM range(8) i(i), embeddings GROUP BY 1
       |)
       |SELECT e.vec_id, CAST(st.i AS INT) AS i,
       |  ${fpSql("(CAST(e.embedding[st.i + 1] AS DOUBLE) - st.m) / sqrt(st.s2 - st.m * st.m)", "1e4")} AS z_fp
       |FROM embeddings e, st
       |ORDER BY 1, 2""".stripMargin

  /** Int8 embedding quantization (Emb.quantizeInt8): the 4x storage
    * transform an ANN index applies at write time, exactly replayable
    * — absmax and scale are one IEEE divide from identical inputs in
    * both engines, and the per-component rounding runs on the fp6
    * fixed-point grid, so the oracle reproduces every CODE bit-for-bit
    * (md5 over the joined code list). err_ok gates the construction
    * guarantee max|x − code·scale| ≤ scale/2 (grid slack included).
    */
  def embQuantize(s: SparkSession, dir: String): DataFrame = {
    val q = graft.operators.Emb.quantizeInt8(embs(s, dir), "embedding")
    val xd = col("embedding").cast("array<double>")
    val maxErr = aggregate(
      zip_with(xd, col("q8"), (x, c) => abs(x - c * col("q8_scale"))),
      lit(0.0), (acc, e) => greatest(acc, e))
    q.select(col("vec_id"),
      fp6(col("q8_scale")).as("scale_fp"),
      md5(encode(array_join(transform(col("q8"), c => c.cast("string")), ","),
        "UTF-8")).as("codes_md5"),
      (maxErr <= col("q8_scale") * lit(0.500002) + lit(1e-12)).as("err_ok"))
      .orderBy("vec_id")
  }

  private val embQuantizeSql: String =
    s"""WITH ee AS (
       |  SELECT vec_id, embedding FROM embeddings
       |), sc AS (
       |  SELECT vec_id,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
       |  FROM ee
       |), codes AS (
       |  SELECT e.vec_id, s.scale,
       |    CASE WHEN s.scale > 0 THEN
       |      [GREATEST(-127, LEAST(127, CAST(FLOOR((FLOOR(CAST(x AS DOUBLE) / s.scale * 1e6 + 0.5) + 500000) / 1000000.0) AS INT))) for x in e.embedding]
       |    ELSE [0 for x in e.embedding] END AS q
       |  FROM ee e JOIN sc s USING (vec_id)
       |)
       |SELECT vec_id, ${fpSql("scale", "1e6")} AS scale_fp,
       |  md5(array_to_string(q, ',')) AS codes_md5, TRUE AS err_ok
       |FROM codes ORDER BY vec_id""".stripMargin

  /** Top-5 TF-IDF terms per document. tf·ln(N/df) with N = corpus
    * size; rank ties break on term text. Scores are products of exact
    * integers with one ln() — the only cross-engine float hazard is a
    * sub-ulp ln difference flipping a DESC near-tie, and distinct
    * (tf, df) pairs are quantized far apart at this vocabulary size.
    */
  def textTfidf(s: SparkSession, dir: String): DataFrame =
    TextOps.tfidf(docs(s, dir), "doc_id", "text", topK = 5)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        fp6(col("tfidf")).as("tfidf_fp"))
      .orderBy("doc_id", "rank")

  private val textTfidfSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws FROM documents
       |), t AS (
       |  SELECT doc_id, unnest(ws) AS term FROM w
       |), tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
       |), dfreq AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
       |), n AS (
       |  SELECT COUNT(*) AS n_docs FROM documents
       |), scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
       |    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) AS tfidf,
       |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) DESC, tf.term) AS rank
       |  FROM tf JOIN dfreq ON dfreq.term = tf.term CROSS JOIN n
       |)
       |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df,
       |  ${fpSql("tfidf", "1e6")} AS tfidf_fp
       |FROM scored WHERE rank <= 5
       |ORDER BY doc_id, rank""".stripMargin

  /** BM25 top-k retrieval (round 18 — Okapi BM25 with Lucene's
    * always-positive idf): five query terms spanning common and rarer
    * vocabulary against the documents corpus, top 15 by score. The
    * score rounds to fixed point BEFORE the k-cut in BOTH engines, so
    * the selected set cannot disagree at the boundary; ties break on
    * doc_id. The oracle retrains df/avgdl/N from scratch in SQL with
    * every fractional literal cast to DOUBLE (DuckDB types bare
    * decimals as DECIMAL — non-IEEE arithmetic would drift the hash).
    */
  def textBm25(s: SparkSession, dir: String): DataFrame =
    TextOps.bm25(docs(s, dir), "doc_id", "text",
      Seq("hash", "vector", "stream", "filter", "quantile"), topK = 15)
      .orderBy(col("bm25_fp").desc, col("doc_id"))

  private val textBm25Sql: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws FROM documents
      |), dl AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM w
      |), st AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl
      |), tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(ws) AS term FROM w)
      |  WHERE term IN ('hash','vector','stream','filter','quantile')
      |  GROUP BY 1, 2
      |), dfq AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
      |), sc AS (
      |  SELECT tf.doc_id,
      |    SUM(((ln(1 + (CAST(st.n_docs AS DOUBLE) - dfq.df + CAST(0.5 AS DOUBLE))
      |                  / (dfq.df + CAST(0.5 AS DOUBLE)))
      |          * tf.tf) * (CAST(1.2 AS DOUBLE) + 1))
      |        / (tf.tf + CAST(1.2 AS DOUBLE) *
      |           ((1 - CAST(0.75 AS DOUBLE)) +
      |            (CAST(0.75 AS DOUBLE) * dl.dl) / st.avgdl))) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n_hit
      |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      |  GROUP BY 1
      |)
      |SELECT doc_id, CAST(FLOOR(s * 1e4 + 0.5) AS BIGINT) AS bm25_fp, n_hit
      |FROM sc ORDER BY bm25_fp DESC, doc_id LIMIT 15""".stripMargin

  /** Benchmark decontamination: eval set = every 97th doc; a training
    * doc is contaminated when it shares a 3-word shingle with the eval
    * set (eval docs trivially contaminate themselves — kept in, the
    * flag is exact either way).
    */
  def textContamination(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bench = d.filter(col("doc_id") % 97 === 0)
    TextOps.contamination(d, "doc_id", "text", bench, "doc_id", "text")
      .select(col("doc_id"), col("n_sh"), col("n_contam"), col("contaminated"))
      .orderBy("doc_id")
  }

  private val textContaminationSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                         for i in generate_series(1, len(ws) - 2)]) AS s
       |  FROM w WHERE len(ws) >= 3
       |), occ AS (
       |  SELECT doc_id, s, COUNT(*) AS cnt FROM sh GROUP BY 1, 2
       |), bench AS (
       |  SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
       |), agg AS (
       |  SELECT o.doc_id,
       |    CAST(SUM(o.cnt) AS BIGINT) AS n_sh,
       |    CAST(SUM(CASE WHEN b.s IS NOT NULL THEN o.cnt ELSE 0 END) AS BIGINT) AS n_contam
       |  FROM occ o LEFT JOIN bench b ON b.s = o.s
       |  GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  COALESCE(a.n_sh, 0) AS n_sh,
       |  COALESCE(a.n_contam, 0) AS n_contam,
       |  (COALESCE(a.n_contam, 0) > 0) AS contaminated
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |ORDER BY 1""".stripMargin

  /** JSONL ingestion round-trip (sources.Sources.jsonlDocs): documents
    * materialized once as 4 JSONL shards with every 83rd line
    * deterministically truncated, read back as raw text + map-side
    * `from_json` with an explicit schema — no inference job, no
    * corrupt-record caching restriction, corrupt lines counted (never
    * dropped silently, never fatal). Output: per-source doc count,
    * char mass, and an ORDER-INDEPENDENT content digest (bit_xor of
    * each text's 60-bit md5 prefix — mergeable, partial-aggregatable,
    * so the digest is deterministic under any partition layout) that
    * proves the JSON round-trip preserved every byte of every
    * surviving text; plus a `_corrupt` row carrying the quarantine
    * count. The oracle replays everything from the parquet side
    * (corrupt = doc_id % 83 = 0).
    */
  def srcJsonl(s: SparkSession, dir: String): DataFrame = {
    val parsed = graft.sources.Sources.jsonlDocs(s, dir)
    val good = parsed.filter(col("j.doc_id").isNotNull)
      .groupBy(col("j.source").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("j.n_chars")).as("sum_chars"),
        bit_xor(conv(substring(md5(encode(col("j.text"), "UTF-8")), 1, 15),
          16, 10).cast("long")).as("content_xor"))
    val bad = parsed.filter(col("j.doc_id").isNull)
      .agg(count(lit(1)).as("n_docs"))
      .select(lit("_corrupt").as("source"), col("n_docs"),
        lit(0L).as("sum_chars"), lit(0L).as("content_xor"))
    good.unionByName(bad).orderBy("source")
  }

  private val srcJsonlSql: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
      |FROM documents WHERE doc_id % 83 <> 0
      |GROUP BY 1
      |UNION ALL
      |SELECT '_corrupt', CAST(COUNT(*) AS BIGINT), 0, 0
      |FROM documents WHERE doc_id % 83 = 0
      |ORDER BY 1""".stripMargin

  /** CSV ingestion with RFC 4180 quoting hazards + quarantine
    * (Sources.csvDocs): every row's `title` embeds commas AND doubled
    * quotes, rows with doc_id % 89 == 0 are unparseable stubs. The
    * content hash covers title || text, so a quoting bug anywhere in
    * the encode→decode round trip (comma split, quote unescape)
    * changes the xor and fails the gate; the oracle replays from the
    * ORIGINAL documents table with the same derived title — the CSV
    * layer itself is what's under test.
    */
  def srcCsv(s: SparkSession, dir: String): DataFrame = {
    val parsed = graft.sources.Sources.csvDocs(s, dir)
    val good = parsed.filter(col("c.doc_id").isNotNull)
      .groupBy(col("c.source").as("source"), col("c.lang").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("c.n_chars")).as("sum_chars"),
        bit_xor(conv(substring(md5(encode(
            concat(col("c.title"), lit("|"), col("c.text")), "UTF-8")),
          1, 15), 16, 10).cast("long")).as("content_xor"))
    val bad = parsed.filter(col("c.doc_id").isNull)
      .agg(count(lit(1)).as("n_docs"))
      .select(lit("_corrupt").as("source"), lit("_corrupt").as("lang"),
        col("n_docs"), lit(0L).as("sum_chars"), lit(0L).as("content_xor"))
    good.unionByName(bad).orderBy("source", "lang")
  }

  private val srcCsvSql: String =
    """SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  bit_xor(CAST(('0x' || substr(md5(
      |    'T,"' || CAST(doc_id % 97 AS VARCHAR) || '",v' || '|' || text
      |  ), 1, 15)) AS BIGINT)) AS content_xor
      |FROM documents WHERE doc_id % 89 <> 0
      |GROUP BY 1, 2
      |UNION ALL
      |SELECT '_corrupt', '_corrupt', CAST(COUNT(*) AS BIGINT), 0, 0
      |FROM documents WHERE doc_id % 89 = 0
      |ORDER BY 1, 2""".stripMargin

  /** Small-files compaction (Sources.compactedDocs): a 64-way
    * fragmented documents layout rewritten to 4 size-balanced files by
    * a keyless round-robin repartition — the lake-maintenance rewrite
    * every streaming sink eventually needs. The content digest proves
    * the rewrite lossless; the two boolean gates (was fragmented /
    * is compacted) assert the file counts the way the recall gates
    * assert quality, and SourcesSpec pins the exact counts.
    */
  def sinkCompacted(s: SparkSession, dir: String): DataFrame = {
    val (df, before, after) = graft.sources.Sources.compactedDocs(s, dir)
    df.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        bit_xor(conv(substring(md5(encode(col("text"), "UTF-8")), 1, 15),
          16, 10).cast("long")).as("content_xor"))
      .withColumn("was_fragmented", lit(before >= 32))
      .withColumn("is_compacted", lit(after <= 4))
      .orderBy("lang")
  }

  private val sinkCompactedSql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor,
      |  TRUE AS was_fragmented, TRUE AS is_compacted
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** ORC lake source (Sources.orcDocs): the same filtered-aggregate
    * contract a parquet reader gets — lang + n_chars predicates reach
    * the ORC scan as PushedFilters (SourcesSpec pins it), the
    * projection prunes to four columns, and the oracle replays from
    * the original documents so the ORC encode→decode round trip is
    * what's verified.
    */
  def srcOrc(s: SparkSession, dir: String): DataFrame =
    graft.sources.Sources.orcDocs(s, dir)
      .filter(col("lang") === "en" && col("n_chars") >= 200)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        bit_xor(conv(substring(md5(encode(col("text"), "UTF-8")), 1, 15),
          16, 10).cast("long")).as("content_xor"))
      .orderBy("source")

  private val srcOrcSql: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
      |FROM documents WHERE lang = 'en' AND n_chars >= 200
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Partitioned-layout round-trip (sources.Sources.partitionedDocs):
    * documents re-written lang-partitioned and read back — per-lang
    * counts, char mass, and the order-independent content digest prove
    * no row was lost, duplicated, or corrupted by the layout
    * transform. Partition pruning on the layout is plan-pinned in
    * SourcesSpec; the oracle replays the aggregates from the original
    * table.
    */
  def sinkPartitioned(s: SparkSession, dir: String): DataFrame =
    graft.sources.Sources.partitionedDocs(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        bit_xor(conv(substring(md5(encode(col("text"), "UTF-8")), 1, 15),
          16, 10).cast("long")).as("content_xor"))
      .orderBy("lang")

  private val sinkPartitionedSql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-document character-entropy quality signal: H = −Σ p·ln p
    * over the document's character distribution — near-zero for
    * repeated-character spam, high for natural text; the cheap
    * entropy filter real pipelines run before anything heavier.
    * Map-side only: explode characters, one (doc, char) hash agg, one
    * per-doc agg — every ln input is an exact integer ratio, fp6
    * entropy replays exactly. Word-salad docs cluster near ln(27)
    * (26 letters + space ≈ 3.3) while a planted one-char doc pins 0.
    */
  def textEntropy(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("text_in",
        when(col("doc_id") % 101 === 0, lit("aaaaaaaaaaaaaaaaaaaa"))
          .otherwise(col("text")))
    val chars = d
      .select(col("doc_id"),
        explode(split(lower(col("text_in")), "")).as("ch"))
      .filter(col("ch") =!= "")
    val freq = chars.groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val tot = freq.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
    freq.join(tot, Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(first(col("n")).as("n_chars_e"),
        fp6(-sum((col("c") / col("n")) *
          log(col("c").cast("double") / col("n")))).as("entropy_fp"))
      .orderBy("doc_id")
  }

  private val textEntropySql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 101 = 0 THEN 'aaaaaaaaaaaaaaaaaaaa'
       |         ELSE text END AS t
       |  FROM documents
       |), ch AS (
       |  SELECT doc_id,
       |    unnest([substr(lower(t), i, 1) for i in generate_series(1, len(t))]) AS c
       |  FROM d
       |), freq AS (
       |  SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY 1, 2
       |), tot AS (
       |  SELECT doc_id, SUM(cnt) AS n FROM freq GROUP BY 1
       |)
       |SELECT f.doc_id, CAST(t.n AS BIGINT) AS n_chars_e,
       |  ${fpSql("-SUM((CAST(f.cnt AS DOUBLE) / t.n) * ln(CAST(f.cnt AS DOUBLE) / t.n))", "1e6")} AS entropy_fp
       |FROM freq f JOIN tot t ON t.doc_id = f.doc_id
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** PMI collocations (TextOps.collocations): top-20 adjacent-word
    * bigrams by pointwise mutual information with count ≥ 5. All ln
    * inputs are exact integers, so the fp6 PMI and the
    * (pmi DESC, bigram) cut replay exactly.
    */
  def textCollocations(s: SparkSession, dir: String): DataFrame =
    TextOps.collocations(docs(s, dir), "text", minCount = 5, topK = 20)

  private val textCollocationsSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws FROM documents
       |), bg AS (
       |  SELECT unnest([{'w1': ws[i], 'w2': ws[i+1]}
       |                 for i in generate_series(1, len(ws) - 1)]) AS b
       |  FROM w WHERE len(ws) >= 2
       |), big AS (
       |  SELECT b.w1 AS w1, b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12
       |  FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5
       |), uni AS (
       |  SELECT unnest(ws) AS wd FROM w
       |), c1 AS (
       |  SELECT wd, COUNT(*) AS c FROM uni GROUP BY 1
       |), nn AS (
       |  SELECT COUNT(*) AS n FROM uni
       |)
       |SELECT b.w1, b.w2, b.c12,
       |  ${fpSql("ln(CAST(nn.n AS DOUBLE) * b.c12 / (CAST(ca.c AS DOUBLE) * cb.c))", "1e6")} AS pmi_fp
       |FROM big b JOIN c1 ca ON ca.wd = b.w1 JOIN c1 cb ON cb.wd = b.w2
       |CROSS JOIN nn
       |ORDER BY pmi_fp DESC, w1, w2 LIMIT 20""".stripMargin

  /** Schema-evolution read (sources.Sources.evolvedDocs): two parquet
    * generations with drifted schemas merged into the union schema,
    * missing columns NULL-backfilled — per-generation counts, null
    * accounting, and content digest prove no column or row was
    * silently lost. Oracle replays generations from the original
    * table (gen 1 = even doc_ids).
    */
  def srcEvolved(s: SparkSession, dir: String): DataFrame =
    graft.sources.Sources.evolvedDocs(s, dir)
      .groupBy(col("gen"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_null_chars"),
        sum(when(col("quality").isNull, 1L).otherwise(0L)).as("n_null_quality"),
        fp6(sum(coalesce(col("quality"), lit(0.0)))).as("sum_quality_fp"),
        bit_xor(conv(substring(md5(encode(col("text"), "UTF-8")), 1, 15),
          16, 10).cast("long")).as("content_xor"))
      .orderBy("gen")

  private val srcEvolvedSql: String =
    s"""WITH g AS (
       |  SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS gen, doc_id, text,
       |    CASE WHEN doc_id % 2 = 0 THEN NULL ELSE n_chars END AS n_chars,
       |    CASE WHEN doc_id % 2 = 0 THEN NULL
       |         ELSE CAST(doc_id % 100 AS DOUBLE) / 100.0 END AS quality
       |  FROM documents
       |)
       |SELECT gen, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_chars,
       |  CAST(SUM(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_quality,
       |  ${fpSql("SUM(COALESCE(quality, 0.0))", "1e6")} AS sum_quality_fp,
       |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // --- transaction-log table format (sources.ManifestTable) ---

  /** One-time fixture: a ManifestTable over the documents table with
    * four committed versions — v0 create (8 range-bucketed files on
    * doc_id), v1 copy-on-write upsert (every 97th doc updated + 100
    * inserted docs above the key space), v2 copy-on-write range
    * delete of [mx//5, (2*mx)//5] where mx = max original doc_id,
    * v3 compaction to 3 files (content-neutral — the latest-snapshot
    * digest oracle passing over v3 proves compaction losslessness
    * through the hash gate). Every mutation is a pure function of
    * the original table, so DuckDB replays each snapshot exactly.
    */
  private def materializeManifestTable(s: SparkSession, dir: String): String = {
    // -v3: manifests now log the table schema (round 15); rebuild so
    // snapshotDiff and the evolved read run against schema-carrying logs
    val base = graft.Tables.fixtureDir("graft_manifest", dir, "documents", "-v3")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      val mx = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val table = new java.io.File(scratch, "table").getAbsolutePath
      graft.sources.ManifestTable.create(s, table, d, "doc_id", buckets = 8)
      graft.sources.ManifestTable.upsert(s, table,
        manifestUpsertDelta(s, d, mx), buckets = 4)
      graft.sources.ManifestTable.deleteRange(s, table, mx / 5, 2 * mx / 5)
      graft.sources.ManifestTable.compact(s, table, buckets = 3)
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** The v0→v1 upsert delta both manifest fixtures commit (updates
    * for doc_id % 97 == 0 plus 100 inserted docs) — the Spark replay
    * of `manifestStateSql`'s upd/ins CTEs.
    */
  private def manifestUpsertDelta(s: SparkSession, d: DataFrame,
                                  mx: Long): DataFrame = {
    val updates = d.filter(col("doc_id") % 97 === 0)
      .withColumn("text", concat(lit("u:"), col("text")))
      .withColumn("source", lit("upsert"))
      .withColumn("n_chars", col("n_chars") + 2L)
    val inserts = s.range(100).select(
      (lit(mx) + 1L + col("id")).as("doc_id"),
      concat(lit("ins-"), col("id")).as("text"),
      element_at(typedLit(Seq("en", "de", "zh", "fr")),
        (col("id") % 4).cast("int") + 1).as("lang"),
      lit("insert").as("source"),
      length(concat(lit("ins-"), col("id"))).cast("long").as("n_chars"))
    updates.unionByName(inserts)
  }

  private def manifestDigest(df: DataFrame): DataFrame =
    df.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        bit_xor(conv(substring(md5(encode(col("text"), "UTF-8")), 1, 15),
          16, 10).cast("long")).as("content_xor"))
      .orderBy("lang")

  private val manifestDigestSql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
      |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
      |""".stripMargin

  /** The replayed post-upsert state (v1) as a DuckDB CTE `fin1`. */
  private val manifestStateSql: String =
    """mxx AS (SELECT MAX(doc_id) AS m FROM documents
      |), upd AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 97 = 0 THEN 'u:' || text ELSE text END AS text,
      |    lang,
      |    CASE WHEN doc_id % 97 = 0 THEN 'upsert' ELSE source END AS source,
      |    CASE WHEN doc_id % 97 = 0 THEN n_chars + 2 ELSE n_chars END AS n_chars
      |  FROM documents
      |), ins AS (
      |  SELECT m + 1 + i AS doc_id, 'ins-' || i AS text,
      |    (['en','de','zh','fr'])[CAST(i % 4 AS INT) + 1] AS lang,
      |    'insert' AS source,
      |    CAST(length('ins-' || i) AS BIGINT) AS n_chars
      |  FROM mxx, (SELECT unnest(generate_series(0, 99)) AS i)
      |), fin1 AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM upd
      |  UNION ALL SELECT doc_id, text, lang, source, n_chars FROM ins
      |)""".stripMargin

  /** Latest-snapshot read (v3 = create → upsert → range delete →
    * compact) off the transaction log: per-lang counts, char sums,
    * id spans and a content digest prove the merge semantics
    * (same-key replace, new-key append, range delete) landed exactly
    * AND that compaction was content-neutral — while only the
    * key-range-overlapping files were ever rewritten (spec-pinned in
    * ManifestSpec; untouched files carry forward by reference).
    */
  def srcManifestLatest(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestTable(s, dir)
    manifestDigest(graft.sources.ManifestTable.snapshot(s, table))
  }

  private val srcManifestLatestSql: String =
    s"""WITH $manifestStateSql, fin2 AS (
       |  SELECT f.* FROM fin1 f, mxx
       |  WHERE NOT (f.doc_id >= m // 5 AND f.doc_id <= (2 * m) // 5)
       |)
       |${manifestDigestSql}FROM fin2 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Time travel: the SAME table read pinned at version 0 AFTER the
    * upsert and delete committed — byte-identical to the original
    * documents table, proving snapshot isolation (immutable data
    * files + versioned manifests; later commits only add manifests).
    */
  def srcManifestTimetravel(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestTable(s, dir)
    manifestDigest(graft.sources.ManifestTable.snapshot(s, table, Some(0)))
  }

  private val srcManifestTimetravelSql: String =
    s"${manifestDigestSql}FROM documents GROUP BY 1 ORDER BY 1"

  /** Stats-pruned range read on the latest snapshot: the manifest's
    * per-file [min,max] key stats select the overlapping files BEFORE
    * Spark sees any path (lakehouse data skipping); the residual
    * filter trims the coarse file ranges. Emits per-doc rows so the
    * oracle checks content, not just counts.
    */
  def srcManifestPruned(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestTable(s, dir)
    val mx = docs(s, dir).agg(max(col("doc_id"))).collect()(0).getLong(0)
    graft.sources.ManifestTable.snapshotRange(s, table, 3 * mx / 5, 4 * mx / 5)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(encode(col("text"), "UTF-8")).as("text_md5"))
      .orderBy("doc_id")
  }

  private val srcManifestPrunedSql: String =
    s"""WITH $manifestStateSql, fin2 AS (
       |  SELECT f.* FROM fin1 f, mxx
       |  WHERE NOT (f.doc_id >= m // 5 AND f.doc_id <= (2 * m) // 5)
       |)
       |SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars,
       |  md5(text) AS text_md5
       |FROM fin2, mxx
       |WHERE doc_id >= (3 * m) // 5 AND doc_id <= (4 * m) // 5
       |ORDER BY 1""".stripMargin

  /** One-time fixture for schema evolution: v0 create (4 range
    * buckets on doc_id), v1 metadata-only `addColumns(quality)`
    * (Delta's metaData action — zero data IO), v2 copy-on-write
    * upsert writing quality ONLY for doc_id % 13 == 0 docs in the
    * LOWER QUARTER of the key space — so the upper buckets' files
    * still predate the evolution and carry forward by reference,
    * forcing the latest read to union-schema/NULL-backfill them.
    */
  private def materializeManifestEvolved(s: SparkSession, dir: String): String = {
    val base = graft.Tables.fixtureDir("graft_manifest_evo", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      val mx = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val table = new java.io.File(scratch, "table").getAbsolutePath
      graft.sources.ManifestTable.create(s, table, d, "doc_id", buckets = 4)
      graft.sources.ManifestTable.addColumns(table,
        Seq(org.apache.spark.sql.types.StructField("quality",
          org.apache.spark.sql.types.DoubleType)))
      val delta = d.filter(col("doc_id") % 13 === 0 && col("doc_id") < lit(mx / 4))
        .withColumn("text", concat(lit("q:"), col("text")))
        .withColumn("n_chars", col("n_chars") + 2L)
        .withColumn("quality",
          (col("doc_id") % 100).cast("double") / 100.0)
      graft.sources.ManifestTable.upsert(s, table, delta, buckets = 2)
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** Union-schema read across a schema-evolution commit
    * (VERDICT r14 #4): v2's latest snapshot mixes files written
    * BEFORE the `quality` column existed (carried by reference — the
    * read must NULL-backfill them from the logged schema alone) with
    * post-evolution rewrites that carry real values. Per-lang null
    * accounting plus the content digest prove no row or value was
    * lost or fabricated on either side of the evolution boundary.
    */
  def srcManifestEvolved(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestEvolved(s, dir)
    graft.sources.ManifestTable.snapshot(s, table)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("quality").isNull, 1L).otherwise(0L)).as("n_null_quality"),
        fp6(sum(coalesce(col("quality"), lit(0.0)))).as("sum_quality_fp"),
        bit_xor(conv(substring(md5(encode(col("text"), "UTF-8")), 1, 15),
          16, 10).cast("long")).as("content_xor"))
      .orderBy("lang")
  }

  private val srcManifestEvolvedSql: String =
    s"""WITH mxx AS (SELECT MAX(doc_id) AS m FROM documents),
       |fin AS (
       |  SELECT d.doc_id,
       |    CASE WHEN d.doc_id % 13 = 0 AND d.doc_id < m // 4
       |         THEN 'q:' || d.text ELSE d.text END AS text,
       |    d.lang,
       |    CASE WHEN d.doc_id % 13 = 0 AND d.doc_id < m // 4
       |         THEN d.n_chars + 2 ELSE d.n_chars END AS n_chars,
       |    CASE WHEN d.doc_id % 13 = 0 AND d.doc_id < m // 4
       |         THEN CAST(d.doc_id % 100 AS DOUBLE) / 100.0
       |         ELSE NULL END AS quality
       |  FROM documents d, mxx
       |)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_quality,
       |  ${fpSql("SUM(COALESCE(quality, 0.0))", "1e6")} AS sum_quality_fp,
       |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
       |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin

  /** One-time fixture for stats skipping: the documents table
    * clustered by n_chars (8 buckets — clusterBy prepends the value
    * column to the range partitioner, so each file carries a TIGHT
    * n_chars range while doc_id ranges overlap; the read-optimized
    * layout tradeoff). Per-column min/max/null stats land in the
    * manifest from the commit's one stats job.
    */
  private def materializeManifestClustered(s: SparkSession, dir: String): String = {
    val base = graft.Tables.fixtureDir("graft_manifest_clu", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      val table = new java.io.File(scratch, "table").getAbsolutePath
      graft.sources.ManifestTable.create(s, table, d, "doc_id", buckets = 8,
        clusterBy = Some("n_chars"))
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** Stats-predicate data skipping on a NON-key column (round 17 —
    * the Delta stats/data-skipping read, generalizing
    * src_manifest_pruned beyond the key): `snapshotWhere` evaluates
    * the predicate against each file's per-column min/max/null stats
    * driver-side and hands Spark ONLY the possibly-matching files —
    * skipping before any parquet footer is opened — then applies the
    * SAME Column as the residual row filter, so pruning precision
    * never touches correctness. The query GATES that skipping
    * actually engaged (hit files strictly fewer than listed files —
    * the clustered layout makes the n_chars band provably miss most
    * buckets) and emits per-doc rows so the oracle checks content:
    * one unsafely pruned file loses rows, one mis-ordered bound
    * leaks or loses boundary docs.
    */
  def srcManifestSkipping(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestClustered(s, dir)
    val pred = col("n_chars") >= 420L && col("lang") =!= "zh"
    val (hit, total) = graft.sources.ManifestTable.matchingFiles(table, pred)
    require(hit.size < total,
      s"stats skipping did not engage: ${hit.size}/$total files selected")
    graft.sources.ManifestTable.snapshotWhere(s, table, pred)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(encode(col("text"), "UTF-8")).as("text_md5"))
      .orderBy("doc_id")
  }

  private val srcManifestSkippingSql: String =
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
      |  md5(text) AS text_md5
      |FROM documents
      |WHERE n_chars >= 420 AND lang <> 'zh'
      |ORDER BY 1""".stripMargin

  /** One-time fixture for bin-packing maintenance: half the documents
    * create 2 well-sized files (v0), the other half streams in as 6
    * appendBatch slices (quantile bands — scale-independent sizing:
    * each ≈ N/12 rows vs ≈ N/4 per create file), then `compactSmall`
    * packs ONLY the small files (min N·0.15, target N·0.25 → 2 packed
    * files) while the create files carry by reference.
    */
  private def materializeManifestOptimize(s: SparkSession, dir: String): String = {
    val base = graft.Tables.fixtureDir("graft_manifest_opt", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      val n = d.count()
      val probs = Array(0.5, 7.0 / 12, 8.0 / 12, 9.0 / 12, 10.0 / 12, 11.0 / 12)
      val qs = d.stat.approxQuantile("doc_id", probs, 0.001)
      val table = new java.io.File(scratch, "table").getAbsolutePath
      graft.sources.ManifestTable.create(
        s, table, d.filter(col("doc_id") < qs(0)), "doc_id", buckets = 2)
      (0 until 6).foreach { k =>
        val slice =
          if (k == 5) d.filter(col("doc_id") >= qs(5))
          else d.filter(col("doc_id") >= qs(k) && col("doc_id") < qs(k + 1))
        require(graft.sources.ManifestTable.appendBatch(
          s, table, slice, "loader", k.toLong, buckets = 1))
      }
      // target 0.26·N, not 0.25: the half-split boundary carries the
      // approxQuantile error (±0.001·N), and ceil(0.501/0.25) would
      // round the pack to THREE files — 0.26 absorbs it on both
      // sides. min 0.10·N, not 0.15: the create's 2-bucket range
      // split is SAMPLED (≈0.25·N per file, drifting several σ under
      // load), and a create file dipping under min would be rewritten
      // and break the by-reference gate; 0.10 clears the small bands
      // (≈0.083·N, exact) with margin on both sides.
      graft.sources.ManifestTable.compactSmall(s, table,
        minRows = math.ceil(n * 0.10).toLong,
        targetRows = math.ceil(n * 0.26).toLong)
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** Bin-packing maintenance read (round 17 — Delta OPTIMIZE's
    * selection semantics): after a create + 6 streaming appends +
    * one `compactSmall`, the query GATES the maintenance contract
    * off the manifests alone — the v0 create files survive the
    * whole lifecycle BY NAME (6 appends and the optimize never
    * rewrote them: the zero-IO property that makes maintenance
    * affordable at 100 TB), the 6 small per-batch files packed into
    * exactly 2, and a replayed appendBatch STILL skips (txn map
    * carried through maintenance). The result digests the final
    * snapshot per lang; one lost/doubled row from an unsafe pack
    * breaks counts, char sums, and the content xor through the hash
    * gate.
    */
  def srcManifestOptimize(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestOptimize(s, dir)
    import graft.sources.ManifestTable._
    val v0 = readSnapshot(table, 0)
    val pre = readSnapshot(table, 6)  // after the 6 appends
    val post = readSnapshot(table, 7) // after compactSmall
    require(post.op == "compact" && latestVersion(table) == 7,
      s"expected compactSmall at v7, got ${post.op}/${latestVersion(table)}")
    val v0Names = v0.files.map(_.name).toSet
    require(v0Names.subsetOf(post.files.map(_.name).toSet),
      "create files were rewritten — bin-packing must carry big files by reference")
    require(pre.files.size == v0.files.size + 6 &&
      post.files.size == v0.files.size + 2,
      s"packing shape off: v6=${pre.files.size} v7=${post.files.size} files")
    require(!appendBatch(s, table, snapshot(s, table).limit(1), "loader", 5L, 1),
      "replayed batch after maintenance must skip via the txn map")
    snapshot(s, table)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        bit_xor(conv(substring(md5(encode(col("text"), "UTF-8")), 1, 15),
          16, 10).cast("long")).as("content_xor"))
      .orderBy("lang")
  }

  private val srcManifestOptimizeSql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** One-time fixture for RESTORE: the same create → upsert →
    * range-delete lifecycle as the main manifest fixture (own copy —
    * restore commits a new version, and the shared fixture's sibling
    * queries pin ITS latest), then `restore(1)` rolls the bad delete
    * back: v3 re-lists v1's files verbatim.
    */
  private def materializeManifestRestore(s: SparkSession, dir: String): String = {
    // -v2: manifests now stamp in-commit timestamps (round 17);
    // rebuild so the timestamp-travel query resolves real stamps
    val base = graft.Tables.fixtureDir("graft_manifest_res", dir, "documents", "-v2")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      val mx = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val table = new java.io.File(scratch, "table").getAbsolutePath
      graft.sources.ManifestTable.create(s, table, d, "doc_id", buckets = 8)
      graft.sources.ManifestTable.upsert(s, table,
        manifestUpsertDelta(s, d, mx), buckets = 4)
      graft.sources.ManifestTable.deleteRange(s, table, mx / 5, 2 * mx / 5)
      graft.sources.ManifestTable.restore(table, 1)
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** RESTORE read (round 17 — Delta's RESTORE VERSION AS OF): the
    * "roll back yesterday's bad load" story. After create → upsert →
    * range delete, `restore(1)` rolls the delete back as ONE
    * metadata-only commit — the query GATES that v3's file list is
    * v1's VERBATIM (zero data IO: no new file names may exist) and
    * that the restore replays through the CDC read as pure inserts
    * of exactly the deleted band (`snapshotDiff(2,3)` — what an
    * incremental consumer must see to re-materialize the rows).
    * The result digests the restored snapshot per lang against the
    * replayed v1 oracle: a restore that lost a file, resurrected a
    * pre-upsert row, or leaked a deleted-band duplicate breaks
    * counts/sums/spans/xor through the hash gate.
    */
  def srcManifestRestore(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestRestore(s, dir)
    import graft.sources.ManifestTable._
    val v1 = readSnapshot(table, 1)
    val v3 = readSnapshot(table, 3)
    require(v3.op == "restore" &&
      v3.files.map(_.name) == v1.files.map(_.name),
      "restore must re-list v1's files verbatim (metadata-only)")
    val cdc = snapshotDiff(s, table, 2, 3)
      .agg(count(lit(1)).as("n"),
        count(when(col("_change_type") =!= "insert", lit(1))).as("bad"))
      .collect()(0)
    val expected = snapshot(s, table, Some(1)).count() -
      snapshot(s, table, Some(2)).count()
    require(cdc.getLong(1) == 0L && cdc.getLong(0) == expected,
      s"restore CDC must be exactly the deleted band as inserts: " +
      s"got ${cdc.getLong(0)} rows (${cdc.getLong(1)} non-insert), want $expected")
    manifestDigest(snapshot(s, table))
  }

  private val srcManifestRestoreSql: String =
    s"""WITH $manifestStateSql
       |${manifestDigestSql}FROM fin1 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Timestamp time travel (round 17 — Delta's TIMESTAMP AS OF) over
    * the restore fixture's four-commit history: resolve v1's OWN
    * in-commit stamp (strictly-monotone by the central
    * max(now, parent+1) clamp, so "as of ts(v1)" is well-defined
    * even for commits landed in the same millisecond) and read the
    * table as of that instant. Gates pin the resolution algebra —
    * exact stamp → that version, one millisecond earlier → strictly
    * older, the far future → latest — and the result digests the
    * resolved snapshot against the replayed post-upsert oracle: an
    * off-by-one version (reading the delete or the restore instead)
    * changes counts and spans through the hash gate.
    */
  def srcManifestAsofTs(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestRestore(s, dir)
    import graft.sources.ManifestTable._
    val ts1 = readSnapshot(table, 1).ts
    require(ts1 > 0L, "fixture predates in-commit timestamps")
    require(versionAsOf(table, ts1) == 1 &&
      versionAsOf(table, ts1 - 1) == 0 &&
      versionAsOf(table, Long.MaxValue) == 3,
      "timestamp resolution algebra drifted")
    manifestDigest(snapshotAsOf(s, table, ts1))
  }

  private val srcManifestAsofTsSql: String = srcManifestRestoreSql

  /** One-time fixture for predicate DELETE: documents clustered by
    * n_chars (tight per-file bands), then `deleteWhere` removes the
    * [250, 430) char band — chosen so all three plan tiers engage
    * (the band spans ~3 of 8 file-widths of the SF-stable n_chars
    * distribution: interior files drop metadata-only, edge files
    * rewrite, the rest carry). The engaged plan counts persist next
    * to the table for the query's gates.
    */
  private def materializeManifestDeleteWhere(s: SparkSession, dir: String): String = {
    val base = graft.Tables.fixtureDir("graft_manifest_dw", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      val table = new java.io.File(scratch, "table").getAbsolutePath
      graft.sources.ManifestTable.create(s, table, d, "doc_id", buckets = 8,
        clusterBy = Some("n_chars"))
      graft.sources.ManifestTable.deleteWhere(s, table,
        col("n_chars") >= 250L && col("n_chars") < 430L)
      val (c, dr, rw) = graft.sources.ManifestTable.lastDeleteWherePlan(table).get
      java.nio.file.Files.writeString(
        new java.io.File(scratch, "plan.json").toPath,
        s"""{"carried":$c,"dropped":$dr,"rewritten":$rw}""")
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** Predicate-DELETE read (round 17 — Delta's DELETE WHERE): an
    * arbitrary non-key band deleted through the three-tier stats
    * plan. The query GATES off the build-time plan record that every
    * tier engaged — ≥1 file dropped METADATA-ONLY (proven all-match:
    * ¬pred unsatisfiable on its stats AND zero nulls in the
    * referenced column), ≥1 rewritten (boundary straddle), ≥1
    * carried by reference (proven no-match) — and re-proves the
    * carried tier from the manifests (v0 names surviving into v1).
    * On a 100 TB table clustered by the delete column this is the
    * "delete a time/size band by touching two boundary files" story.
    * The digest oracle replays SQL DELETE semantics; one unsafely
    * dropped file (e.g. a NULL-bearing one) loses surviving rows
    * through the hash gate.
    */
  def srcManifestDeleteWhere(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestDeleteWhere(s, dir)
    import graft.sources.ManifestTable._
    val plan = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(new java.io.File(table).getParent, "plan.json").toPath))
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(plan)
    val (c, dr, rw) =
      (m.get("carried").asInt, m.get("dropped").asInt, m.get("rewritten").asInt)
    require(c >= 1 && dr >= 1 && rw >= 1,
      s"deleteWhere tiers did not all engage: carried=$c dropped=$dr rewritten=$rw")
    val v0Names = readSnapshot(table, 0).files.map(_.name).toSet
    require(readSnapshot(table, 1).files.count(f => v0Names(f.name)) == c,
      "carried-by-reference count does not match the recorded plan")
    manifestDigest(snapshot(s, table))
  }

  private val srcManifestDeleteWhereSql: String =
    s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
       |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
       |FROM documents
       |WHERE NOT (n_chars >= 250 AND n_chars < 430)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** One-time fixture for key-set DELETE: documents keyed on doc_id,
    * then `deleteKeys` of every 997th id — a sparse arbitrary list,
    * the GDPR shape.
    */
  private def materializeManifestDeleteKeys(s: SparkSession, dir: String): String = {
    val base = graft.Tables.fixtureDir("graft_manifest_dk", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      val table = new java.io.File(scratch, "table").getAbsolutePath
      graft.sources.ManifestTable.create(s, table, d, "doc_id", buckets = 8)
      graft.sources.ManifestTable.deleteKeys(s, table,
        d.filter(col("doc_id") % 997 === 0).select("doc_id"))
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** Key-set DELETE read (round 17 — the GDPR / right-to-be-forgotten
    * shape): an arbitrary sparse key LIST deleted through the COW
    * range-pruned path — no range, no stats-expressible predicate,
    * so [[deleteWhere]]'s evaluator could never prune it; the
    * broadcast range-join against the per-file key ranges can. The
    * query re-derives the EXACT expected pruning from the v0
    * manifest (a file carries by reference iff its [min,max] span
    * contains no multiple of 997) and gates the v1 manifest against
    * it — scale-independent: at small SF most files carry, at ×100
    * every file legitimately contains victims and the gate pins THAT
    * instead. The digest oracle replays the deletion; a key deleted
    * from the wrong file or a survivor lost in a rewrite breaks it.
    */
  def srcManifestDeleteKeys(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestDeleteKeys(s, dir)
    import graft.sources.ManifestTable._
    val v0 = readSnapshot(table, 0)
    val v1 = readSnapshot(table, 1)
    val expectedCarried = v0.files.count(f =>
      (f.minKey + 996) / 997 * 997 > f.maxKey) // no multiple of 997 inside
    val v0Names = v0.files.map(_.name).toSet
    require(v1.op == "delete" &&
      v1.files.count(f => v0Names(f.name)) == expectedCarried,
      s"deleteKeys pruning drifted: carried " +
      s"${v1.files.count(f => v0Names(f.name))}, expected $expectedCarried")
    manifestDigest(snapshot(s, table))
  }

  private val srcManifestDeleteKeysSql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
      |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
      |FROM documents
      |WHERE doc_id % 997 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** One-time fixture for deletion vectors: documents keyed on
    * doc_id, then a key-set delete AND a predicate delete, both in
    * merge-on-read mode (`useDv = true`) — no straddling file is
    * rewritten; victims land in per-file key-set sidecars.
    */
  private def materializeManifestDv(s: SparkSession, dir: String): String = {
    // -v2: the r19 sidecar format stores the target file name INSIDE
    // the sidecar (`f` column) — a cached r18 fixture would silently
    // read its deletes as no-ops under the single-scan reader
    val base = graft.Tables.fixtureDir("graft_manifest_dv", dir, "documents", "-v2")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      val table = new java.io.File(scratch, "table").getAbsolutePath
      graft.sources.ManifestTable.create(s, table, d, "doc_id", buckets = 8)
      graft.sources.ManifestTable.deleteKeys(s, table,
        d.filter(col("doc_id") % 509 === 0).select("doc_id"), useDv = true)
      graft.sources.ManifestTable.deleteWhere(s, table,
        col("n_chars") >= 300L && col("n_chars") < 360L, useDv = true)
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** Deletion-vector read (round 18 — Delta's merge-on-read DELETE):
    * the GDPR sweep re-done without copy-on-write. A key-set delete
    * (v1) and a predicate delete (v2) both land as per-file KEY-SET
    * SIDECARS the read anti-joins away; the gates prove merge-on-read
    * actually engaged — v1 lists EXACTLY v0's file names (zero data
    * files rewritten) with sidecars on precisely the files whose key
    * span contains a victim (re-derived from the v0 manifest, scale-
    * independent), and v2 adds no new data file either (its dropped
    * tier may remove some). The digest replays BOTH deletions in the
    * oracle: a victim surviving, a survivor lost, or a sidecar
    * mis-scoped to the wrong file breaks the hash.
    */
  def srcManifestDv(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestDv(s, dir)
    import graft.sources.ManifestTable._
    val v0 = readSnapshot(table, 0)
    val v1 = readSnapshot(table, 1)
    val v2 = readSnapshot(table, 2)
    val v0Names = v0.files.map(_.name).toSet
    require(v1.op == "delete" && v1.files.map(_.name).toSet == v0Names,
      "DV key-set delete rewrote or dropped data files — merge-on-read did not engage")
    val expectDv = v0.files.count(f => (f.minKey + 508) / 509 * 509 <= f.maxKey)
    require(v1.files.count(_.dv.isDefined) == expectDv,
      s"DV placement drifted: ${v1.files.count(_.dv.isDefined)} sidecars, " +
      s"expected $expectDv")
    val v1Names = v1.files.map(_.name).toSet
    require(v2.op == "delete" && v2.files.forall(f => v1Names(f.name)),
      "DV predicate delete wrote new data files — merge-on-read did not engage")
    require(v2.files.exists(f => f.dvRows >
      v1.files.find(_.name == f.name).map(_.dvRows).getOrElse(0L)),
      "predicate delete left no enlarged sidecar")
    // plan pin (VERDICT r18 #1): the merge-on-read read must plan a
    // CONSTANT number of scans — one over all DV'd data files, one
    // over all sidecars, one over plain files — never one leg per
    // DV'd file (a scattered GDPR sweep touches thousands).
    val snapDf = snapshot(s, table)
    val nScans = snapDf.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.size
    require(nScans <= 3,
      s"DV read planned $nScans scan nodes — must be O(1) in #DV'd files")
    manifestDigest(snapDf)
  }

  private val srcManifestDvSql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
      |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
      |FROM documents
      |WHERE doc_id % 509 <> 0 AND NOT (n_chars >= 300 AND n_chars < 360)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** One-time fixture for column mapping: documents keyed on doc_id,
    * then a metadata-only schema-surgery sequence — text→body and
    * n_chars→len renames, DROP source, re-ADD source (fresh physical:
    * old bytes must never resurrect) — followed by one upsert under
    * the NEW logical names, whose files store PHYSICAL names.
    */
  private def materializeManifestRename(s: SparkSession, dir: String): String = {
    val base = graft.Tables.fixtureDir("graft_manifest_rename", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      import graft.sources.ManifestTable
      val d = s.read.parquet(s"$dir/documents.parquet")
      val mx = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val table = new java.io.File(scratch, "table").getAbsolutePath
      ManifestTable.create(s, table, d, "doc_id", buckets = 8)
      ManifestTable.renameColumn(table, "text", "body")
      ManifestTable.renameColumn(table, "n_chars", "len")
      ManifestTable.dropColumn(table, "source")
      ManifestTable.addColumns(table, Seq(
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType)))
      val cur = ManifestTable.snapshot(s, table)
      val updates = cur.filter(col("doc_id") % 97 === 0)
        .withColumn("body", concat(lit("u:"), col("body")))
        .withColumn("source", lit("upsert"))
        .withColumn("len", col("len") + 2L)
      val inserts = s.range(100).select(
        (lit(mx) + 1L + col("id")).as("doc_id"),
        concat(lit("ins-"), col("id")).as("body"),
        element_at(typedLit(Seq("en", "de", "zh", "fr")),
          (col("id") % 4).cast("int") + 1).as("lang"),
        length(concat(lit("ins-"), col("id"))).cast("long").as("len"),
        lit("insert").as("source"))
      ManifestTable.upsert(s, table, updates.unionByName(inserts), buckets = 4)
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** Column-mapping read (round 18 — Delta's column mapping, name
    * mode): RENAME/DROP/re-ADD as metadata-only commits over a table
    * whose files are never rewritten for schema surgery. The gates
    * prove the mechanism live: v1-v4 each list v0's file entries
    * VERBATIM (zero data IO for the whole sequence); the post-upsert
    * new files store PHYSICAL names (parquet footers carry `text` and
    * a fresh `source__p*` physical — never `body`, never the retired
    * plain `source`); and nullness pruning on the renamed `len`
    * engages through the logical→physical map. The digest replays the
    * upsert under the new names, with `n_src` pinning no-resurrection:
    * only upserted/inserted rows carry a source value — one old byte
    * leaking into the re-added column breaks the count.
    */
  def srcManifestRename(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestRename(s, dir)
    import graft.sources.ManifestTable._
    val v0 = readSnapshot(table, 0)
    (1 to 4).foreach { v =>
      val sv = readSnapshot(table, v)
      require(sv.op == "evolve" && sv.files == v0.files,
        s"schema surgery at v$v must relist v0's file entries verbatim")
    }
    val v5 = readSnapshot(table, 5)
    val v0Names = v0.files.map(_.name).toSet
    val newFile = v5.files.map(_.name).filterNot(v0Names).headOption.getOrElse(
      throw new IllegalStateException("upsert wrote no new file"))
    val footer = s.read.parquet(
      new java.io.File(table, s"data/$newFile").getAbsolutePath)
      .schema.fieldNames.toSeq
    require(footer.contains("text") && !footer.contains("body") &&
      footer.exists(_.startsWith("source__p")) && !footer.contains("source"),
      s"post-rename files must store physical names, got: $footer")
    require(matchingFiles(table, col("len").isNull)._1.isEmpty,
      "nullness pruning must engage through the column mapping")
    snapshot(s, table).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len")).as("sum_len"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        bit_xor(conv(substring(md5(encode(col("body"), "UTF-8")), 1, 15),
          16, 10).cast("long")).as("content_xor"),
        count(col("source")).as("n_src"))
      .orderBy("lang")
  }

  private val srcManifestRenameSql: String =
    """WITH mxx AS (SELECT MAX(doc_id) AS m FROM documents
      |), fin AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 97 = 0 THEN 'u:' || text ELSE text END AS body,
      |    lang,
      |    CASE WHEN doc_id % 97 = 0 THEN n_chars + 2 ELSE n_chars END AS len,
      |    CASE WHEN doc_id % 97 = 0 THEN 'upsert' ELSE NULL END AS source
      |  FROM documents
      |  UNION ALL
      |  SELECT m + 1 + i, 'ins-' || i,
      |    (['en','de','zh','fr'])[CAST(i % 4 AS INT) + 1],
      |    CAST(length('ins-' || i) AS BIGINT), 'insert'
      |  FROM mxx, (SELECT unnest(generate_series(0, 99)) AS i)
      |)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len) AS BIGINT) AS sum_len,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
      |  bit_xor(CAST(('0x' || substr(md5(body), 1, 15)) AS BIGINT)) AS content_xor,
      |  CAST(COUNT(source) AS BIGINT) AS n_src
      |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin

  /** One-time fixture for shallow clone: a documents source table,
    * cloned zero-copy, then DIVERGED on both sides — the standard
    * upsert delta lands on the CLONE, while the source takes a
    * different edit ('X:' prefix on every 89th doc) afterwards. If
    * isolation leaks in either direction, the clone's digest drifts.
    */
  private def materializeManifestClone(s: SparkSession, dir: String): String = {
    import graft.sources.ManifestTable
    // The SOURCE materializes first at its FINAL path (a clone holds
    // absolute references — cloning inside a build-then-rename scratch
    // would dangle). The divergence upsert lands here too; the clone
    // below pins VERSION AS OF 0, so it is deterministic regardless of
    // how far the source has moved by clone time.
    val srcBase = graft.Tables.fixtureDir("graft_manifest_clone_src", dir, "documents")
    graft.Tables.materializeOnce(srcBase, "_READY") { scratch =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      ManifestTable.create(s,
        new java.io.File(scratch, "table").getAbsolutePath, d, "doc_id",
        buckets = 8)
      ManifestTable.upsert(s,
        new java.io.File(scratch, "table").getAbsolutePath,
        d.filter(col("doc_id") % 89 === 0)
          .withColumn("text", concat(lit("X:"), col("text"))), buckets = 2)
    }
    val src = new java.io.File(srcBase, "table").getAbsolutePath
    val base = graft.Tables.fixtureDir("graft_manifest_clone", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      val mx = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val dst = new java.io.File(scratch, "clone").getAbsolutePath
      ManifestTable.shallowClone(src, dst, version = Some(0))
      // updates confined to the LOWER key half, inserts beyond mx: the
      // upper-half files provably contain no delta key at ANY scale,
      // so external carries survive the upsert (the structural gate)
      val updates = d.filter(col("doc_id") % 97 === 0 && col("doc_id") < mx / 2)
        .withColumn("text", concat(lit("u:"), col("text")))
        .withColumn("source", lit("upsert"))
        .withColumn("n_chars", col("n_chars") + 2L)
      val inserts = s.range(100).select(
        (lit(mx) + 1L + col("id")).as("doc_id"),
        concat(lit("ins-"), col("id")).as("text"),
        element_at(typedLit(Seq("en", "de", "zh", "fr")),
          (col("id") % 4).cast("int") + 1).as("lang"),
        lit("insert").as("source"),
        length(concat(lit("ins-"), col("id"))).cast("long").as("n_chars"))
      ManifestTable.upsert(s, dst, updates.unionByName(inserts), buckets = 4)
    }
    base.getAbsolutePath
  }

  /** Shallow-clone read (round 18 — Delta's SHALLOW CLONE): the
    * zero-copy dev/test branch of a 100 TB table. Gates prove the
    * mechanism live on every run: the clone's v0 lists ONLY absolute
    * references into the source's data dir (zero bytes copied); the
    * post-upsert v1 mixes local rewrites with still-external carries;
    * and the source's own post-clone edit is visible in the SOURCE
    * but absent from the clone. The digest replays the clone-side
    * upsert alone — isolation leaking in either direction (clone
    * write reaching the source's files, or the source's 'X:' edit
    * bleeding into the clone's external references... which are the
    * SAME bytes, so the carve is per-file COW) breaks the hash.
    */
  def srcManifestClone(s: SparkSession, dir: String): DataFrame = {
    val base = materializeManifestClone(s, dir)
    val src = new java.io.File(
      graft.Tables.fixtureDir("graft_manifest_clone_src", dir, "documents"),
      "table").getAbsolutePath
    val dst = new java.io.File(base, "clone").getAbsolutePath
    import graft.sources.ManifestTable._
    val c0 = readSnapshot(dst, 0)
    require(c0.op == "clone" && c0.files.forall(_.name.startsWith("/")),
      "clone v0 must reference the source by absolute path only")
    val c1 = readSnapshot(dst, 1)
    require(c1.files.exists(f => !f.name.startsWith("/")) &&
      c1.files.exists(f => f.name.startsWith("/")),
      "post-upsert clone must mix local rewrites with external carries")
    // the source's divergent edit exists THERE and only there
    require(snapshot(s, src).filter(col("text").startsWith("X:")).count() > 0,
      "source-side edit missing — the fixture did not diverge")
    require(snapshot(s, dst).filter(col("text").startsWith("X:")).count() == 0,
      "the source's post-clone edit leaked into the clone")
    manifestDigest(snapshot(s, dst))
  }

  private val srcManifestCloneSql: String =
    """WITH mxx AS (SELECT MAX(doc_id) AS m FROM documents
      |), upd AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 97 = 0 AND doc_id < m // 2
      |         THEN 'u:' || text ELSE text END AS text,
      |    lang,
      |    CASE WHEN doc_id % 97 = 0 AND doc_id < m // 2
      |         THEN 'upsert' ELSE source END AS source,
      |    CASE WHEN doc_id % 97 = 0 AND doc_id < m // 2
      |         THEN n_chars + 2 ELSE n_chars END AS n_chars
      |  FROM documents, mxx
      |), ins AS (
      |  SELECT m + 1 + i AS doc_id, 'ins-' || i AS text,
      |    (['en','de','zh','fr'])[CAST(i % 4 AS INT) + 1] AS lang,
      |    'insert' AS source,
      |    CAST(length('ins-' || i) AS BIGINT) AS n_chars
      |  FROM mxx, (SELECT unnest(generate_series(0, 99)) AS i)
      |), fin AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM upd
      |  UNION ALL SELECT doc_id, text, lang, source, n_chars FROM ins
      |)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
      |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
      |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin

  /** One-time fixture for three-clause MERGE: documents keyed on
    * doc_id, then ONE merge commit carrying the full CDC-apply shape —
    * a source with an `_op` marker column (updates from band U,
    * deletes from band D, inserts past the key max, one in four
    * flagged 'ja' to exercise the insert condition) plus a by-source
    * delete over band B. Bands are narrow and disjoint so most files
    * carry by reference (the pruning the query gates).
    */
  private def materializeManifestMerge(s: SparkSession, dir: String): String = {
    val base = graft.Tables.fixtureDir("graft_manifest_merge", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      import graft.sources.ManifestTable
      val d = s.read.parquet(s"$dir/documents.parquet")
      val mx = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val bw = mx / 25
      val u0 = mx / 10; val d0 = mx / 2; val b0 = 3 * mx / 4
      val table = new java.io.File(scratch, "table").getAbsolutePath
      ManifestTable.create(s, table, d, "doc_id", buckets = 16)
      val upd = d.filter(col("doc_id") >= u0 && col("doc_id") < u0 + bw)
        .withColumn("text", concat(lit("m:"), col("text")))
        .withColumn("source", lit("merge"))
        .withColumn("n_chars", col("n_chars") + 3L)
        .withColumn("_op", lit("u"))
      val del = d.filter(col("doc_id") >= d0 && col("doc_id") < d0 + bw)
        .withColumn("_op", lit("d"))
      val ins = s.range(60).select(
        (lit(mx) + 1L + col("id")).as("doc_id"),
        concat(lit("mrg-"), col("id")).as("text"),
        element_at(typedLit(Seq("en", "de", "ja", "fr")),
          (col("id") % 4).cast("int") + 1).as("lang"),
        lit("minsert").as("source"),
        length(concat(lit("mrg-"), col("id"))).cast("long").as("n_chars"))
        .withColumn("_op", lit("i"))
      ManifestTable.merge(s, table, upd.unionByName(del).unionByName(ins),
        buckets = 4,
        matchedDelete = Some(ManifestTable.srcCol("_op") === "d"),
        matchedUpdate = Some(ManifestTable.srcCol("_op") === "u" &&
          col("n_chars") % 2 === 0),
        notMatchedInsert = Some(ManifestTable.srcCol("lang") =!= "ja"),
        notMatchedBySourceDelete =
          Some(col("doc_id") >= b0 && col("doc_id") < b0 + bw))
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** Three-clause MERGE read (round 18 — Delta's MERGE INTO / the
    * CDC-apply shape): one commit carries a conditional full-row
    * update (fires only where the TARGET's n_chars is even — matched
    * rows the clause skips carry through unchanged), a matched delete
    * driven by the source's `_op` marker, a conditional insert (the
    * 'ja'-flagged rows stay out), and a not-matched-by-source delete
    * over a stats-prunable key band. The gate proves the upsert-grade
    * pruning engaged: every v0 file whose key range intersects none
    * of the three bands must carry into v1 BY REFERENCE (name-equal),
    * with the expected count re-derived from the v0 manifest — scale-
    * independent. The digest replays all four row fates in the
    * oracle; a mis-fired clause on any row breaks the hash.
    */
  def srcManifestMerge(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestMerge(s, dir)
    import graft.sources.ManifestTable._
    val v0 = readSnapshot(table, 0)
    val v1 = readSnapshot(table, 1)
    require(v1.op == "merge", s"expected a merge commit at v1, got ${v1.op}")
    val mx = v0.files.map(_.maxKey).max
    val bw = mx / 25
    val bands = Seq(mx / 10, mx / 2, 3 * mx / 4).map(lo => (lo, lo + bw))
    // Pruning gates, exact in both density-independent directions
    // (scaled corpora have replica GAPS in the id space, so a file may
    // range-overlap the U/D bands while holding no actual source key —
    // such a file legitimately carries):
    //  - a file overlapping NO band can never be touched -> must carry;
    //  - a file overlapping the by-source band B is stats-touched
    //    unconditionally -> must be rewritten.
    val v0Names = v0.files.map(_.name).toSet
    val carriedNames = v1.files.map(_.name).filter(v0Names).toSet
    val mustCarry = v0.files.filter(f =>
      bands.forall { case (lo, hi) => f.maxKey < lo || f.minKey >= hi })
      .map(_.name)
    require(mustCarry.forall(carriedNames),
      s"merge rewrote a file outside every touched tier: " +
      s"${mustCarry.filterNot(carriedNames).take(3).mkString(", ")}")
    val (b0, b1) = bands(2)
    val mustRewrite = v0.files.filter(f => f.maxKey >= b0 && f.minKey < b1)
      .map(_.name)
    require(mustRewrite.forall(n => !carriedNames(n)),
      "a by-source-band file carried by reference — the stats tier did not engage")
    manifestDigest(snapshot(s, table))
  }

  private val srcManifestMergeSql: String =
    """WITH mxx AS (SELECT MAX(doc_id) AS m FROM documents
      |), kept AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.doc_id >= m//10 AND d.doc_id < m//10 + m//25
      |              AND d.n_chars % 2 = 0
      |         THEN 'm:' || d.text ELSE d.text END AS text,
      |    d.lang,
      |    CASE WHEN d.doc_id >= m//10 AND d.doc_id < m//10 + m//25
      |              AND d.n_chars % 2 = 0
      |         THEN 'merge' ELSE d.source END AS source,
      |    CASE WHEN d.doc_id >= m//10 AND d.doc_id < m//10 + m//25
      |              AND d.n_chars % 2 = 0
      |         THEN d.n_chars + 3 ELSE d.n_chars END AS n_chars
      |  FROM documents d, mxx
      |  WHERE NOT (d.doc_id >= m//2 AND d.doc_id < m//2 + m//25)
      |    AND NOT (d.doc_id >= (3*m)//4 AND d.doc_id < (3*m)//4 + m//25)
      |), ins AS (
      |  SELECT m + 1 + i AS doc_id, 'mrg-' || i AS text,
      |    (['en','de','ja','fr'])[CAST(i % 4 AS INT) + 1] AS lang,
      |    'minsert' AS source, CAST(length('mrg-' || i) AS BIGINT) AS n_chars
      |  FROM mxx, (SELECT unnest(generate_series(0, 59)) AS i) WHERE i % 4 <> 2
      |), fin AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM kept
      |  UNION ALL SELECT doc_id, text, lang, source, n_chars FROM ins
      |)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
      |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
      |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin

  /** One-time fixture for STRING-keyed MERGE (round 20, VERDICT r19
    * #6 — real CDC tables key on strings): documents re-keyed on a
    * zero-padded `id = k-%09d(doc_id)` (string order == numeric order,
    * so the pruning gates are re-derivable), then ONE merge commit:
    * full-row update over a narrow band + 50 inserts past the key max.
    */
  private def materializeManifestMergeStr(s: SparkSession, dir: String): String = {
    val base = graft.Tables.fixtureDir("graft_manifest_mergestr", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      import graft.sources.ManifestTable
      val d = s.read.parquet(s"$dir/documents.parquet")
      val mx = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val bw = mx / 25; val u0 = mx / 10
      val table = new java.io.File(scratch, "table").getAbsolutePath
      def keyed(df: DataFrame): DataFrame =
        df.select(format_string("k-%09d", col("doc_id")).as("id"),
          col("text"), col("lang"), col("n_chars"))
      ManifestTable.create(s, table, keyed(d), "id", buckets = 8)
      val upd = keyed(d.filter(col("doc_id") >= u0 && col("doc_id") < u0 + bw)
        .withColumn("text", concat(lit("s:"), col("text")))
        .withColumn("n_chars", col("n_chars") + 2L))
      val ins = s.range(50).select(
        format_string("k-%09d", lit(mx) + 1L + col("id")).as("id"),
        concat(lit("str-"), col("id")).as("text"),
        element_at(typedLit(Seq("en", "de", "zh", "fr")),
          (col("id") % 4).cast("int") + 1).as("lang"),
        length(concat(lit("str-"), col("id"))).cast("long").as("n_chars"))
      ManifestTable.merge(s, table, upd.unionByName(ins), buckets = 2,
        matchedUpdate = Some(lit(true)), notMatchedInsert = Some(lit(true)))
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** STRING-keyed MERGE read (round 20 — VERDICT r19 #6): the manifest
    * key machinery generalized past the single-long keyCol. String
    * keys take never-prunes sentinels in the LONG minKey/maxKey lanes
    * and range-prune via the logged per-column ColStats instead
    * (truncated-prefix bounds — conservative by construction). Gates,
    * re-derived from the v0 manifest so they hold at every SF: the
    * sentinel lanes are actually stamped, the key column is stats'd in
    * every file, every v0 file whose ColStats range excludes the whole
    * update band carries into v1 BY REFERENCE, and at least one file
    * rewrote. The digest replays both row fates (band update + tail
    * insert) over the string key.
    */
  def srcManifestMergeStr(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestMergeStr(s, dir)
    import graft.sources.ManifestTable._
    val v0 = readSnapshot(table, 0)
    val v1 = readSnapshot(table, 1)
    require(v1.op == "merge", s"expected a merge commit at v1, got ${v1.op}")
    require(v0.files.forall(f =>
      f.minKey == Long.MinValue && f.maxKey == Long.MaxValue),
      "string-keyed files must carry the never-prunes sentinel lanes")
    require(v0.files.forall(_.stats.get("id").exists(st =>
      st.min.isDefined && st.max.isDefined)),
      "the string key column must be stats'd in every file")
    // re-derive the update band from the logged stats (keys are 11
    // chars, far under the 32-char stats prefix — bounds are exact)
    val m = v0.files.flatMap(_.stats("id").max).max.stripPrefix("k-").toLong
    val bw = m / 25; val u0 = m / 10
    def key(x: Long) = f"k-$x%09d"
    val updLo = key(u0); val updHi = key(u0 + bw - 1)
    val v0Names = v0.files.map(_.name).toSet
    val carried = v1.files.map(_.name).filter(v0Names).toSet
    val mustCarry = v0.files.filter { f =>
      val st = f.stats("id"); st.max.get < updLo || st.min.get > updHi
    }.map(_.name)
    require(mustCarry.nonEmpty && mustCarry.forall(carried),
      "merge rewrote a file outside the ColStats-touched tier: " +
      mustCarry.filterNot(carried).take(3).mkString(", "))
    require(carried.size < v0.files.size,
      "no file rewrote — the update band missed the table")
    snapshot(s, table)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"),
        bit_xor(conv(substring(md5(encode(col("text"), "UTF-8")), 1, 15),
          16, 10).cast("long")).as("content_xor"))
      .orderBy("lang")
  }

  private val srcManifestMergeStrSql: String =
    """WITH mxx AS (SELECT MAX(doc_id) AS m FROM documents
      |), fin AS (
      |  SELECT printf('k-%09d', doc_id) AS id,
      |    CASE WHEN doc_id >= m//10 AND doc_id < m//10 + m//25
      |         THEN 's:' || text ELSE text END AS text,
      |    lang,
      |    CASE WHEN doc_id >= m//10 AND doc_id < m//10 + m//25
      |         THEN n_chars + 2 ELSE n_chars END AS n_chars
      |  FROM documents, mxx
      |  UNION ALL
      |  SELECT printf('k-%09d', m + 1 + i) AS id, 'str-' || i AS text,
      |    (['en','de','zh','fr'])[CAST(i % 4 AS INT) + 1] AS lang,
      |    CAST(length('str-' || i) AS BIGINT) AS n_chars
      |  FROM mxx, (SELECT unnest(generate_series(0, 49)) AS i)
      |)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(id) AS min_id, MAX(id) AS max_id,
      |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
      |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin

  /** One-time fixture for MERGE schema evolution (Delta autoMerge):
    * documents keyed on doc_id, then ONE autoMerge MERGE whose source
    * carries a NEW `priority` column (updates from a narrow band +
    * inserts past the key max) while OMITTING the existing `source`
    * column — exercising both evolution directions in a single
    * commit: new column widens the schema, omitted column keeps its
    * target value on update and reads NULL on insert.
    */
  private def materializeManifestMergeEvolve(s: SparkSession, dir: String): String = {
    val base = graft.Tables.fixtureDir("graft_manifest_mev", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      import graft.sources.ManifestTable
      val d = s.read.parquet(s"$dir/documents.parquet")
      val mx = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val u0 = mx / 5; val bw = mx / 30
      val table = new java.io.File(scratch, "table").getAbsolutePath
      ManifestTable.create(s, table, d, "doc_id", buckets = 16)
      val upd = d.filter(col("doc_id") >= u0 && col("doc_id") < u0 + bw)
        .select(col("doc_id"), concat(lit("e:"), col("text")).as("text"),
          col("lang"), (col("n_chars") + 5L).as("n_chars"),
          lit("high").as("priority")) // `source` omitted on purpose
      val ins = s.range(80).select(
        (lit(mx) + 1L + col("id")).as("doc_id"),
        concat(lit("evo-"), col("id")).as("text"),
        element_at(typedLit(Seq("en", "de", "zh", "fr")),
          (col("id") % 4).cast("int") + 1).as("lang"),
        length(concat(lit("evo-"), col("id"))).cast("long").as("n_chars"),
        lit("low").as("priority"))
      ManifestTable.merge(s, table, upd.unionByName(ins), buckets = 4,
        matchedUpdate = Some(lit(true)), notMatchedInsert = Some(lit(true)),
        autoMerge = true)
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** MERGE schema evolution read (round 19 — Delta's
    * `spark.databricks.delta.schema.autoMerge` semantics): the CDC
    * pipeline whose upstream added a field. One autoMerge MERGE
    * widens the logged schema with the source's new `priority`
    * column IN THE SAME COMMIT as the row changes; files outside the
    * update band carry BY REFERENCE (zero IO — gated name-equal,
    * re-derived from the v0 manifest so the check is
    * scale-independent) and read NULL for the new column through the
    * union-schema read. The source also OMITS the existing `source`
    * column: updates keep the target's value, inserts read NULL —
    * the digest pins both via an insert-only NULL count. Any drift
    * in row fates or the new column's placement breaks the hash.
    */
  def srcManifestMergeEvolve(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestMergeEvolve(s, dir)
    import graft.sources.ManifestTable._
    val v0 = readSnapshot(table, 0)
    val v1 = readSnapshot(table, 1)
    require(v1.op == "merge" && v1.version == 1,
      s"schema evolution must ride the merge commit itself, got ${v1.op}@v${v1.version}")
    require(!snapshot(s, table, Some(0)).columns.contains("priority") &&
      snapshot(s, table).columns.contains("priority"),
      "autoMerge did not widen the schema")
    val mx = v0.files.map(_.maxKey).max
    val u0 = mx / 5; val bw = mx / 30
    val v0Names = v0.files.map(_.name).toSet
    val carried = v1.files.map(_.name).filter(v0Names).toSet
    val mustCarry = v0.files.filter(f => f.maxKey < u0 || f.minKey >= u0 + bw)
      .map(_.name)
    require(mustCarry.nonEmpty && mustCarry.forall(carried),
      "autoMerge rewrote a file outside the touched tier: " +
      mustCarry.filterNot(carried).take(3).mkString(", "))
    snapshot(s, table)
      .groupBy(col("lang"), coalesce(col("priority"), lit("none")).as("prio"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        count(when(col("source").isNull, lit(1))).as("n_null_src"),
        bit_xor(conv(substring(md5(encode(col("text"), "UTF-8")), 1, 15),
          16, 10).cast("long")).as("content_xor"))
      .orderBy("lang", "prio")
  }

  private val srcManifestMergeEvolveSql: String =
    """WITH mxx AS (SELECT MAX(doc_id) AS m FROM documents
      |), fin AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.doc_id >= m//5 AND d.doc_id < m//5 + m//30
      |         THEN 'e:' || d.text ELSE d.text END AS text,
      |    d.lang, d.source,
      |    CASE WHEN d.doc_id >= m//5 AND d.doc_id < m//5 + m//30
      |         THEN d.n_chars + 5 ELSE d.n_chars END AS n_chars,
      |    CASE WHEN d.doc_id >= m//5 AND d.doc_id < m//5 + m//30
      |         THEN 'high' ELSE NULL END AS priority
      |  FROM documents d, mxx
      |  UNION ALL
      |  SELECT m + 1 + i AS doc_id, 'evo-' || i AS text,
      |    (['en','de','zh','fr'])[CAST(i % 4 AS INT) + 1] AS lang,
      |    NULL AS source, CAST(length('evo-' || i) AS BIGINT) AS n_chars,
      |    'low' AS priority
      |  FROM mxx, (SELECT unnest(generate_series(0, 79)) AS i)
      |)
      |SELECT lang, COALESCE(priority, 'none') AS prio,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
      |  CAST(COUNT(*) FILTER (WHERE source IS NULL) AS BIGINT) AS n_null_src,
      |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_xor
      |FROM fin GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** One-time fixture for DESCRIBE HISTORY: a metadata-surgery
    * sequence whose per-version action stats are fully deterministic
    * at EVERY scale factor (create with a fixed bucket count, then
    * four zero-IO metadata commits) — which is what lets the oracle
    * be a literal VALUES table.
    */
  private def materializeManifestHistory(s: SparkSession, dir: String): String = {
    // -v2: round 20 added logged byte sizes — a pre-sz cached fixture
    // would read bytesAdded=-1 and fail the sign gate for a non-bug
    val base = graft.Tables.fixtureDir("graft_manifest_hist", dir, "documents", "-v2")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      import graft.sources.ManifestTable
      val d = s.read.parquet(s"$dir/documents.parquet")
      val table = new java.io.File(scratch, "table").getAbsolutePath
      ManifestTable.create(s, table, d, "doc_id", buckets = 8)
      ManifestTable.addColumns(table, Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType)))
      ManifestTable.renameColumn(table, "text", "body")
      ManifestTable.dropColumn(table, "score")
      ManifestTable.restore(table, 2)
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** DESCRIBE HISTORY (round 19 — Delta's table-history surface):
    * one row per version from O(changes) ACTION parses — never a
    * snapshot reconstruction, so a years-lived log lists in
    * commit-metadata time. Gates: newest-first ordering, strictly
    * monotone in-commit timestamps (the property versionAsOf binary
    * search relies on), and LIMIT composing from the newest side.
    * The per-version (op, added, removed) stats replay as a literal
    * oracle because the fixture's commits are deterministic at every
    * SF: a fixed-bucket create (8 files) then four metadata-only
    * commits (evolve ×3, restore) that add and remove ZERO files —
    * the zero-IO property the query proves is exactly the one that
    * makes 100 TB schema surgery instant.
    */
  def srcManifestHistory(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestHistory(s, dir)
    import graft.sources.ManifestTable._
    import s.implicits._
    val h = history(table)
    require(h.map(_._1) == (4 to 0 by -1), s"history order drifted: ${h.map(_._1)}")
    require(h.map(_._2).sliding(2).forall(p => p(0) > p(1)),
      "in-commit timestamps must be strictly monotone")
    require(history(table, 2).map(_._1) == Seq(4, 3),
      "history LIMIT must bound from the newest side")
    // round 20 (VERDICT r19 #8): operation metrics ride the same
    // action parse — rows added replay exactly (v0 = the document
    // count, metadata commits 0); bytes are parquet-encoding-dependent
    // so the oracle gates their SIGN (logged and positive at v0, zero
    // for zero-add commits — and never the -1 legacy marker)
    h.map { case (v, _, op, a, r, ra, ba) =>
      (v, op, a, r, ra, ba > 0) }
      .toDF("version", "op", "n_added", "n_removed", "rows_added",
        "bytes_positive")
      .orderBy("version")
  }

  private val srcManifestHistorySql: String =
    """SELECT version, op, n_added, n_removed,
      |  CASE WHEN version = 0
      |       THEN (SELECT COUNT(*) FROM documents) ELSE 0 END AS rows_added,
      |  version = 0 AS bytes_positive
      |FROM (VALUES
      |  (0, 'create', 8, 0), (1, 'evolve', 0, 0), (2, 'evolve', 0, 0),
      |  (3, 'evolve', 0, 0), (4, 'restore', 0, 0))
      |AS t(version, op, n_added, n_removed) ORDER BY version""".stripMargin

  /** One-time fixture for CHECK constraints: documents created WITH
    * two invariants, a valid upsert committed under them, then a
    * third constraint ADDED post-hoc — which validates all existing
    * rows in one scan (Delta's ADD CONSTRAINT behavior) before the
    * metadata commit lands.
    */
  private def materializeManifestConstraint(s: SparkSession, dir: String): String = {
    val base = graft.Tables.fixtureDir("graft_manifest_ck", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      val mx = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val table = new java.io.File(scratch, "table").getAbsolutePath
      graft.sources.ManifestTable.create(s, table, d, "doc_id", buckets = 8,
        constraints = Map("chars_nonneg" -> "n_chars >= 0",
          "id_nonneg" -> "doc_id >= 0"))
      graft.sources.ManifestTable.upsert(s, table,
        manifestUpsertDelta(s, d, mx), buckets = 4)
      graft.sources.ManifestTable.setConstraint(s, table,
        "lang_known", "lang IN ('en','de','zh','fr','es','ja')")
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** CHECK-constraint read (round 17 — Delta's table constraints):
    * the data-contract story a training pipeline needs at 100 TB —
    * a held constraint is a table-wide invariant readers may rely
    * on, because every data-adding commit validates its input BEFORE
    * anything is written and ADD CONSTRAINT validated the existing
    * table. The query GATES enforcement live on every run: a
    * violating upsert and a violating appendBatch both throw and
    * leave NO new version (atomicity — the rejected frames never
    * touch the log), while the constraint set read from the manifest
    * matches what the fixture declared. The result digests the table
    * against the replayed post-upsert oracle: if the rejected
    * commits had leaked any row, counts/sums/xor break through the
    * hash gate.
    */
  def srcManifestConstraint(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestConstraint(s, dir)
    import graft.sources.ManifestTable._
    val v = latestVersion(table)
    val snap = readSnapshot(table, v)
    require(snap.constraints == Map("chars_nonneg" -> "n_chars >= 0",
      "id_nonneg" -> "doc_id >= 0",
      "lang_known" -> "lang IN ('en','de','zh','fr','es','ja')"),
      s"constraint set drifted: ${snap.constraints}")
    import s.implicits._
    val badUpsert = Seq((0L, "x", "xx", "bad", -5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e1 = try { upsert(s, table, badUpsert, 4); None } catch {
      case e: IllegalArgumentException => Some(e.getMessage)
    }
    require(e1.exists(_.contains("chars_nonneg")),
      s"violating upsert was not rejected by chars_nonneg: $e1")
    val badAppend = Seq((10L << 40, "y", "zz", "bad", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e2 = try { appendBatch(s, table, badAppend, "ck", 0L, 1); None } catch {
      case e: IllegalArgumentException => Some(e.getMessage)
    }
    require(e2.exists(_.contains("lang_known")),
      s"violating appendBatch was not rejected by lang_known: $e2")
    require(latestVersion(table) == v,
      "a rejected commit must leave no version behind")
    manifestDigest(snapshot(s, table))
  }

  private val srcManifestConstraintSql: String =
    s"""WITH $manifestStateSql
       |${manifestDigestSql}FROM fin1 GROUP BY 1 ORDER BY 1""".stripMargin

  /** One-time fixture for bloom skipping: documents + a content
    * digest column, keyed on doc_id with the digest bloom-indexed —
    * digests are uniformly scrambled across the key-ranged layout,
    * so every file's digest [min,max] spans ~the whole hex space and
    * range stats can never prune an equality probe; the per-file
    * bloom is the only thing that can. Bits scale with the corpus
    * (~16 bits per expected row per file, pow2-rounded) so the
    * false-positive rate stays low at any SF.
    */
  private def materializeManifestBloom(s: SparkSession, dir: String): String = {
    val base = graft.Tables.fixtureDir("graft_manifest_bloom", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("digest", md5(encode(col("text"), "UTF-8")))
      val buckets = 24
      val bits = math.max(1 << 12,
        java.lang.Long.highestOneBit(d.count() / buckets * 16).toInt)
      val table = new java.io.File(scratch, "table").getAbsolutePath
      graft.sources.ManifestTable.create(s, table, d, "doc_id", buckets,
        bloomFor = Seq("digest"), bloomBits = bits)
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** Bloom-index point lookup (round 17 — the Delta bloom-filter-
    * index read): an IN probe of five known content digests against
    * the bloom-indexed documents table. Range stats are useless here
    * by construction (every file spans the digest space — the
    * high-cardinality-scrambled-column case the bloom index exists
    * for), so the file skipping the query GATES (hit ≤ half) is
    * attributable to the bloom alone; the probe digests live in ≤ 5
    * files, and the no-false-negative contract means every match
    * survives — one unsafely pruned file loses rows through the hash
    * gate. Probe digests come from a 5-row control-plane read of the
    * probe docs themselves; the result returns every doc whose
    * digest matches (exact-duplicate texts ride along), which the
    * oracle replays as a self-join through DuckDB's md5.
    */
  def srcManifestBloom(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestBloom(s, dir)
    val probeIds = Seq(3L, 97L, 405L, 411L, 487L)
    val probes = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id").isin(probeIds: _*))
      .select(md5(encode(col("text"), "UTF-8")).as("d"))
      .collect().map(_.getString(0)).toSeq // 5 rows — control plane
    val pred = col("digest").isin(probes: _*)
    val (hit, total) = graft.sources.ManifestTable.matchingFiles(table, pred)
    require(hit.size * 2 <= total,
      s"bloom skipping did not engage: ${hit.size}/$total files selected")
    graft.sources.ManifestTable.snapshotWhere(s, table, pred)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("digest"))
      .orderBy("doc_id")
  }

  private val srcManifestBloomSql: String =
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
      |  md5(text) AS digest
      |FROM documents
      |WHERE md5(text) IN
      |  (SELECT md5(text) FROM documents WHERE doc_id IN (3, 97, 405, 411, 487))
      |ORDER BY 1""".stripMargin

  /** One-time fixture for z-order: orders keyed on o_orderkey (16
    * key-ranged buckets at v0), then `compactZOrder` reclusters on
    * (o_totalprice, o_custkey) — Delta's OPTIMIZE ZORDER BY as a
    * compact commit. At 4 bits per column and 16 files the layout
    * factors into a 4×4 per-column-quantile grid, so BOTH columns
    * prune afterwards — the multi-dimensional case a single
    * clusterBy column cannot serve.
    */
  private def materializeManifestZorder(s: SparkSession, dir: String): String = {
    val base = graft.Tables.fixtureDir("graft_manifest_zo", dir, "orders")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
      val table = new java.io.File(scratch, "table").getAbsolutePath
      graft.sources.ManifestTable.create(s, table, o, "o_orderkey", buckets = 16)
      graft.sources.ManifestTable.compactZOrder(s, table,
        Seq("o_totalprice", "o_custkey"), buckets = 16)
    }
    new java.io.File(base, "table").getAbsolutePath
  }

  /** Z-order read (round 17): after one `compactZOrder` rewrite, a
    * band predicate on EITHER interleaved column prunes files — the
    * query gates both dimensions (≤ 3/4 of the files each, comfortably
    * above the ~half a one-quantile-row band plus range-boundary
    * straddle can hit, and impossible for an un-z-ordered layout where
    * a scrambled column hits every file) and digests both band reads
    * so the oracle checks content. One unsafely pruned file loses
    * rows through the hash gate; the two reads cover both interleave
    * bit positions.
    */
  def srcManifestZorder(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestZorder(s, dir)
    import graft.sources.ManifestTable
    val predPrice = col("o_totalprice") >= 150000.0 && col("o_totalprice") < 240000.0
    val predCust = col("o_custkey") >= 800L && col("o_custkey") < 1100L
    val (hitP, totalP) = ManifestTable.matchingFiles(table, predPrice)
    val (hitC, totalC) = ManifestTable.matchingFiles(table, predCust)
    require(hitP.size * 4 <= totalP * 3,
      s"z-order price-band skipping did not engage: ${hitP.size}/$totalP")
    require(hitC.size * 4 <= totalC * 3,
      s"z-order custkey-band skipping did not engage: ${hitC.size}/$totalC")
    def digest(pred: org.apache.spark.sql.Column, tag: String) =
      ManifestTable.snapshotWhere(s, table, pred)
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("sum_key"),
          sum(col("o_custkey")).as("sum_cust"),
          fp2(min(col("o_totalprice"))).as("min_fp"),
          fp2(max(col("o_totalprice"))).as("max_fp"))
        .withColumn("band", lit(tag))
    digest(predPrice, "price").unionByName(digest(predCust, "cust"))
      .select("band", "n", "sum_key", "sum_cust", "min_fp", "max_fp")
      .orderBy("band")
  }

  private val srcManifestZorderSql: String =
    """WITH bands AS (
      |  SELECT 'price' AS band, o_orderkey, o_custkey, o_totalprice
      |  FROM orders WHERE o_totalprice >= 150000 AND o_totalprice < 240000
      |  UNION ALL
      |  SELECT 'cust', o_orderkey, o_custkey, o_totalprice
      |  FROM orders WHERE o_custkey >= 800 AND o_custkey < 1100
      |)
      |SELECT band, COUNT(*) AS n,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
      |  CAST(FLOOR(MIN(o_totalprice) * 100 + 0.5) AS BIGINT) AS min_fp,
      |  CAST(FLOOR(MAX(o_totalprice) * 100 + 0.5) AS BIGINT) AS max_fp
      |FROM bands GROUP BY 1 ORDER BY 1""".stripMargin

  /** Snapshot-diff / CDC read (VERDICT r14 #4) over the main
    * transaction-log fixture: the v0→v1 upsert delta (updates for
    * doc_id % 97 == 0 plus the 100 inserted docs) and the v1→v2
    * range-delete delta, as an incremental consumer would tail them.
    * The load-bearing property the oracle pins: rows REWRITTEN only
    * because they shared a file with a touched key hash equal across
    * versions and are EXCLUDED — a file-level diff alone would
    * misreport the whole rewritten bucket as changed. Deletes carry
    * the pre-image (so the v1 text for a doc updated in v1 then
    * deleted in v2), inserts/updates the post-image.
    */
  def srcManifestCdc(s: SparkSession, dir: String): DataFrame = {
    val table = materializeManifestTable(s, dir)
    def leg(vFrom: Int, vTo: Int) =
      graft.sources.ManifestTable.snapshotDiff(s, table, vFrom, vTo)
        .withColumn("step", lit(vTo))
    leg(0, 1).unionByName(leg(1, 2))
      .select(col("step"), col("doc_id"), col("_change_type").as("change_type"),
        col("lang"), col("source"), col("n_chars"),
        md5(encode(col("text"), "UTF-8")).as("text_md5"))
      .orderBy("step", "doc_id")
  }

  private val srcManifestCdcSql: String =
    s"""WITH $manifestStateSql
       |, upd1 AS (
       |  SELECT 1 AS step, f.doc_id, 'update' AS change_type, f.lang, f.source,
       |    f.n_chars, md5(f.text) AS text_md5
       |  FROM fin1 f, mxx WHERE f.doc_id % 97 = 0 AND f.doc_id <= m
       |), ins1 AS (
       |  SELECT 1 AS step, doc_id, 'insert' AS change_type, lang, source,
       |    n_chars, md5(text) AS text_md5
       |  FROM ins
       |), del2 AS (
       |  SELECT 2 AS step, f.doc_id, 'delete' AS change_type, f.lang, f.source,
       |    f.n_chars, md5(f.text) AS text_md5
       |  FROM fin1 f, mxx WHERE f.doc_id >= m // 5 AND f.doc_id <= (2 * m) // 5
       |)
       |SELECT step, doc_id, change_type, lang, source,
       |  CAST(n_chars AS BIGINT) AS n_chars, text_md5
       |FROM (SELECT * FROM upd1 UNION ALL SELECT * FROM ins1
       |      UNION ALL SELECT * FROM del2)
       |ORDER BY 1, 2""".stripMargin

  /** Inverted-index shard (TextOps.invertedIndex): (term, doc)
    * postings with tf, first/last position, and an md5 over the full
    * ascending position list, joined to per-term df/cf. The oracle
    * rebuilds postings from a struct-comprehension tokenizer and
    * replays every digest.
    */
  def textInvertedIndex(s: SparkSession, dir: String): DataFrame =
    TextOps.invertedIndex(docs(s, dir), "doc_id", "text")
      .orderBy("term", "doc_id")

  private val textInvertedIndexSql: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws FROM documents
      |), tk AS (
      |  SELECT doc_id,
      |    unnest([{'p': i, 'wd': ws[i]} for i in generate_series(1, len(ws))]) AS s
      |  FROM w WHERE len(ws) >= 1
      |), post AS (
      |  SELECT s.wd AS term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
      |    CAST(MIN(s.p) AS INT) AS first_pos, CAST(MAX(s.p) AS INT) AS last_pos,
      |    md5(array_to_string(list_sort(list(s.p)), ',')) AS pos_md5
      |  FROM tk GROUP BY 1, 2
      |), stats AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
      |    CAST(SUM(tf) AS BIGINT) AS cf
      |  FROM post GROUP BY 1
      |)
      |SELECT p.term, p.doc_id, p.tf, s.df, s.cf, p.first_pos, p.last_pos,
      |  p.pos_md5
      |FROM post p JOIN stats s USING (term)
      |ORDER BY 1, 2""".stripMargin

  /** Overlapping retrieval chunks (TextOps.chunk): 64-token windows
    * every 48 tokens (16-token overlap), last window ragged — the RAG
    * indexing transform, map-side only. The oracle rebuilds every
    * boundary with the same integer arithmetic and re-derives each
    * chunk's md5 over the space-joined tokens.
    */
  def textChunk(s: SparkSession, dir: String): DataFrame =
    TextOps.chunk(docs(s, dir), "doc_id", "text", chunkTokens = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")

  private val textChunkSql: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws FROM documents
      |), c AS (
      |  SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0
      |), ch AS (
      |  SELECT doc_id, ws, n,
      |    unnest(generate_series(0, (GREATEST(n - 64, 0) + 47) // 48)) AS chunk_idx
      |  FROM c
      |)
      |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
      |  CAST(chunk_idx * 48 AS INT) AS start_tok,
      |  CAST(LEAST(64, n - chunk_idx * 48) AS INT) AS n_toks,
      |  md5(array_to_string(list_slice(ws, chunk_idx * 48 + 1,
      |    chunk_idx * 48 + LEAST(64, n - chunk_idx * 48)), ' ')) AS chunk_md5
      |FROM ch ORDER BY 1, 2""".stripMargin

  /** Multinomial Naive Bayes classifier (TextOps.nbClassify — the
    * fastText/DCLM quality- or domain-classifier shape with the SGD
    * fit replaced by closed-form counting, so train is one hash agg):
    * trained on the doc_id%5≠0 split's lang labels, scoring the
    * held-out docs. Per-token log-probs round to the fp6 grid BEFORE
    * summing, so scores are BIGINT sums — exact under any partition or
    * merge order — and the oracle retrains the whole model in SQL and
    * replays every score bit-for-bit. (On this synthetic corpus the
    * langs share one vocabulary, so accuracy ≈ the majority-class
    * prior — the oracle pins the exact computation; the ScalaTest spec
    * proves separability on a corpus where the classes actually
    * differ.)
    */
  def textNbClassify(s: SparkSession, dir: String): DataFrame =
    TextOps.nbClassify(docs(s, dir), "doc_id", "lang", "text",
      col("doc_id") % 5 =!= 0)
      .orderBy("doc_id")

  private val textNbClassifySql: String =
    s"""WITH w AS (
       |  SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws FROM documents
       |), tr AS (
       |  SELECT * FROM w WHERE doc_id % 5 <> 0
       |), te AS (
       |  SELECT * FROM w WHERE doc_id % 5 = 0
       |), trt AS (
       |  SELECT lang AS l, unnest(ws) AS wd FROM tr
       |), tot AS (
       |  SELECT l, COUNT(*) AS tot FROM trt GROUP BY 1
       |), v AS (
       |  SELECT COUNT(DISTINCT wd) AS v FROM trt
       |), ntr AS (
       |  SELECT COUNT(*) AS n FROM tr
       |), ls AS (
       |  SELECT t.l, t.tot, v.v,
       |    ${fpSql("ln(CAST(p.n_l AS DOUBLE) / ntr.n)", "1e6")} AS prior_fp,
       |    ${fpSql("ln(1.0 / (t.tot + v.v))", "1e6")} AS default_fp
       |  FROM tot t
       |  JOIN (SELECT lang AS l, COUNT(*) AS n_l FROM tr GROUP BY 1) p ON p.l = t.l
       |  CROSS JOIN v CROSS JOIN ntr
       |), model AS (
       |  SELECT c2.l, c2.wd,
       |    ${fpSql("ln((c2.c + 1.0) / (t.tot + v.v))", "1e6")} AS lp_fp
       |  FROM (SELECT l, wd, COUNT(*) AS c FROM trt GROUP BY 1, 2) c2
       |  JOIN tot t ON t.l = c2.l CROSS JOIN v
       |), tet AS (
       |  SELECT doc_id, unnest(ws) AS wd FROM te
       |), toksc AS (
       |  SELECT tt.doc_id, ls.l,
       |    CAST(SUM(COALESCE(m.lp_fp, ls.default_fp)) AS BIGINT) AS tok_fp
       |  FROM tet tt CROSS JOIN ls
       |  LEFT JOIN model m ON m.l = ls.l AND m.wd = tt.wd
       |  GROUP BY 1, 2
       |), sc AS (
       |  SELECT te.doc_id, te.lang, ls.l,
       |    CAST(ls.prior_fp + COALESCE(t.tok_fp, 0) AS BIGINT) AS score_fp
       |  FROM te CROSS JOIN ls
       |  LEFT JOIN toksc t ON t.doc_id = te.doc_id AND t.l = ls.l
       |), rk AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY score_fp DESC, l) AS rk FROM sc
       |)
       |SELECT doc_id, l AS pred_label, lang, (l = lang) AS correct, score_fp
       |FROM rk WHERE rk = 1 ORDER BY doc_id""".stripMargin

  /** Bloom-filter decontamination, GATED (functions.BloomAgg — Bloom
    * 1970): the scale path for text_contamination. At 100 TB the exact
    * variant ships the benchmark's distinct-shingle set through a join
    * exchange; the Bloom variant compresses it to a FIXED m/8-byte
    * bitset (here 2 KB: m=16384, k=5) built in ONE partial-aggregated
    * pass — merge is bitwise OR, commutative/associative/idempotent,
    * so the bits are deterministic under any partition/merge order —
    * and the probe side becomes a map-side codegen'd bit test
    * ([[graft.functions.BloomContains]] rides into whole-stage codegen
    * as a reference object), zero shuffle, zero join.
    *
    * The filter is sized so collisions are REAL at the bench SF
    * (sf0.1: ~2.4k benchmark shingles against 16384 bits → measured
    * FPR ≈ 3.7%, matching the occupancy prediction (set_bits/m)^k),
    * not vacuous. Output rows are the exact per-doc contamination
    * counts (oracle-replayable via the same distinct-shingle join as
    * text_contamination), each carrying gates the oracle asserts TRUE:
    *  - ge_ok: bloom hit count ≥ exact contaminated count — the
    *    no-false-negative guarantee, which holds by construction for
    *    every document (decontamination can only over-flag),
    *  - fpr_ok: measured FPR over distinct clean shingles ≤ 2× the
    *    occupancy-exact prediction + 10/n_probes small-sample slack
    *    (deterministic: the hashes are fixed constants).
    * The bitset and the FPR row are bounded control-plane collects
    * (m/64 longs + 1 row — the kmeansFit shape).
    */
  def textBloom(s: SparkSession, dir: String): DataFrame = {
    val m = 16384
    val k = 5
    val sh = docs(s, dir)
      .select(col("doc_id"), TextOps.words(col("text")).as("_ws"))
      .filter(size(col("_ws")) >= 3)
      .select(col("doc_id"), explode(Dedup.shingles(col("_ws"))).as("s"))
    val benchSh = sh.filter(col("doc_id") % 97 === 0).select("s").distinct()
    val bits = benchSh
      .agg(graft.functions.BloomAgg.bloom(col("s"), m, k).as("b"))
      .head().getSeq[Long](0).toArray
    val probe = sh.filter(col("doc_id") % 97 =!= 0)
      .withColumn("_hit", graft.functions.BloomAgg.containsC(bits, k, col("s")))
    val fprRow = probe.select(col("s"), col("_hit")).distinct()
      .join(benchSh.withColumnRenamed("s", "_bs"),
        col("s") === col("_bs"), "left_anti")
      .agg(count(lit(1)).as("n"),
        sum(when(col("_hit"), 1L).otherwise(0L)).as("fp"))
      .head()
    val (nProbe, nFp) = (fprRow.getLong(0), fprRow.getLong(1))
    val occup = bits.map(java.lang.Long.bitCount(_).toLong).sum.toDouble / m
    val fprOk = nProbe == 0 ||
      nFp.toDouble / nProbe <= 2.0 * math.pow(occup, k) + 10.0 / nProbe
    probe
      .join(benchSh.withColumnRenamed("s", "_bs"),
        col("s") === col("_bs"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("_bs").isNotNull, 1L).otherwise(0L)).as("n_contam"),
        sum(when(col("_hit"), 1L).otherwise(0L)).as("_n_bloom"))
      .select(col("doc_id"), col("n_sh"), col("n_contam"),
        (col("n_contam") > 0).as("contaminated"),
        (col("_n_bloom") >= col("n_contam")).as("ge_ok"),
        lit(fprOk).as("fpr_ok"))
      .orderBy("doc_id")
  }

  private val textBloomSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                         for i in generate_series(1, len(ws) - 2)]) AS s
       |  FROM w WHERE len(ws) >= 3
       |), bench AS (
       |  SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
       |)
       |SELECT o.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_sh,
       |  CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam,
       |  (SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) > 0) AS contaminated,
       |  TRUE AS ge_ok,
       |  TRUE AS fpr_ok
       |FROM sh o LEFT JOIN bench b ON b.s = o.s
       |WHERE o.doc_id % 97 <> 0
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Sequence packing: whitespace-token counts laid end-to-end in
    * doc_id order, cut into 512-token training sequences; one row per
    * (doc, bin) span. bucketSpan=64 exercises the multi-bucket
    * distributed prefix sum (8+ buckets at the oracle SF).
    */
  def textPack(s: SparkSession, dir: String): DataFrame =
    TextOps.packChunks(TextOps.tokensFrame(docs(s, dir), "text"),
      "doc_id", "ws_tokens", ctxLen = 512, bucketSpan = 64)
      .orderBy("doc_id", "bin")

  private val textPackSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, n,
      |    CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
      |  FROM t
      |), b AS (
      |  SELECT doc_id, n, st,
      |    unnest(generate_series(st // 512, (st + n - 1) // 512)) AS bin
      |  FROM c WHERE n > 0
      |)
      |SELECT doc_id, CAST(bin AS BIGINT) AS bin,
      |  CAST(GREATEST(bin * 512, st) - bin * 512 AS INT) AS off_in_bin,
      |  CAST(LEAST((bin + 1) * 512, st + n) - GREATEST(bin * 512, st) AS INT) AS n_toks
      |FROM b ORDER BY 1, 2""".stripMargin

  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprintFrame(docs(s, dir), "text", "doc_id")
      .orderBy("doc_id", "fp")

  /** SQL twin of Bridge.winnow: nested Horner rolling hash (k=8,
    * base 31, mod 1e9+7), window-4 minima, distinct.
    */
  private val textFingerprintSql: String = {
    val horner = (1 until 8).foldLeft("CAST(unicode(substr(t, i, 1)) AS BIGINT)") {
      (acc, j) => s"(($acc * 31 + unicode(substr(t, i + $j, 1))) % 1000000007)"
    }
    s"""WITH nt AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents
       |), pos AS (
       |  SELECT doc_id, t, unnest(generate_series(1, length(t) - 7)) AS i
       |  FROM nt WHERE length(t) >= 8
       |), h AS (
       |  SELECT doc_id, i, $horner AS hv FROM pos
       |), win AS (
       |  SELECT doc_id, i,
       |    MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
       |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS p
       |  FROM h
       |)
       |SELECT DISTINCT doc_id, wmin AS fp FROM win
       |WHERE i <= GREATEST(p - 3, 1)
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- multimodal ---------------------------------------------------

  /** REAL image decode + feature extraction: each en document renders
    * to a 16×16 gray BMP (pixel (x,y) = codepoint of
    * text[(y·16+x) mod n], our spec-direct writer), `javax.imageio`
    * decodes it back, and the kernel sums gray values per 4×4 block.
    * The oracle never sees bytes — it replays the pixel formula — so
    * a green hash proves writer, JDK decoder, and feature kernel
    * agree on the BMP spec end-to-end (row order, padding, BGR
    * layout). Sums are integral: exact compare, no fixed-point.
    */
  def mmImageFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageFeatures(
      Multimodal.asImageMedia(docs(s, dir).filter(col("lang") === "en"),
        "doc_id", "text", w = 16, h = 16, format = "bmp"), gw = 4, gh = 4)
      .select(col("media_id").as("doc_id"), col("width"), col("height"),
        posexplode(col("features")).as(Seq("blk", "bsum")))
      .orderBy("doc_id", "blk")

  private val mmImageFeaturesSql: String =
    """WITH en AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents
      |  WHERE lang = 'en' AND length(text) > 0
      |), px AS (
      |  SELECT doc_id, text, n, unnest(generate_series(0, 255)) AS p FROM en
      |)
      |SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
      |  CAST((p // 16 // 4) * 4 + (p % 16 // 4) AS INT) AS blk,
      |  CAST(SUM(unicode(substr(text, (p % n) + 1, 1))) AS BIGINT) AS bsum
      |FROM px GROUP BY 1, 2, 3, 4 ORDER BY 1, 4""".stripMargin

  /** PCM16 audio frame features over the binary content column — the
    * one multimodal path whose decode is REAL (bytes → samples needs
    * no codec): per 32-sample frame, energy (Σ s², integral → exact
    * compare, no fixed-point) and zero-crossing count. The oracle
    * rebuilds the little-endian samples from codepoints (en docs are
    * ASCII, same contract as mm_image_features).
    */
  def mmAudio(s: SparkSession, dir: String): DataFrame =
    // center=16384 removes the DC offset of the unipolar ASCII
    // payload (every decoded sample is positive) so the ZCR measures
    // sign structure; real audio would pass center=0
    Multimodal.audioFrameFeatures(
      Multimodal.asMedia(docs(s, dir).filter(col("lang") === "en"), "doc_id", "text"),
      frameLen = 32, center = 16384)
      .select(col("media_id").as("doc_id"), col("frame"), col("energy"), col("zcr"))
      .orderBy("doc_id", "frame")

  private val mmAudioSql: String =
    """WITH en AS (
      |  SELECT doc_id, text, (length(text) // 2 // 32) * 32 AS nkeep
      |  FROM documents WHERE lang = 'en'
      |), smp AS (
      |  SELECT doc_id, text, unnest(generate_series(0, nkeep - 1)) AS i FROM en
      |), sv AS (
      |  SELECT doc_id, i, i // 32 AS frame,
      |    unicode(substr(text, 2*i + 1, 1)) + 256 * unicode(substr(text, 2*i + 2, 1)) - 16384 AS s
      |  FROM smp
      |), lagged AS (
      |  SELECT doc_id, frame, s,
      |    LAG(s) OVER (PARTITION BY doc_id, frame ORDER BY i) AS ps
      |  FROM sv
      |)
      |SELECT doc_id, CAST(frame AS INT) AS frame,
      |  CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS energy,
      |  CAST(COUNT(*) FILTER (WHERE ps IS NOT NULL AND ps * s < 0) AS INT) AS zcr
      |FROM lagged GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** MFCC audio features (Multimodal.mfccFeatures, VERDICT r14 #6):
    * per 32-sample PCM frame, Hamming window → rfft power spectrum →
    * 8-filter triangular mel bank → log(E+1) → orthonormal DCT-II,
    * first 4 cepstral coefficients. The oracle replays the whole
    * chain naively — windowed naive-DFT bins, then the filterbank
    * and DCT as literal weight tables generated from the SAME
    * graft.dsp.Mel functions the kernel uses (the sig_cwt
    * literal-taps discipline) — so a green hash pins the radix-2
    * rfft, the mel weights, and the Makhoul DCT against a
    * structurally independent evaluation at the 1e-4 grid.
    */
  def mmMfcc(s: SparkSession, dir: String): DataFrame =
    Multimodal.mfccFeatures(
      Multimodal.asMedia(docs(s, dir).filter(col("lang") === "en"),
        "doc_id", "text"),
      frameLen = 32, center = 16384, nMels = 8, nCoef = 4, sampleRate = 8000.0)
      .select(col("media_id").as("doc_id"), col("frame"),
        posexplode(col("coefs")).as(Seq("cj", "coef")))
      .select(col("doc_id"), col("frame"), col("cj"),
        fp4(col("coef")).as("coef_fp"))
      .orderBy("doc_id", "frame", "cj")

  private val mmMfccSql: String = {
    // CAST every weight literal to DOUBLE: DuckDB types a bare decimal
    // literal as DECIMAL(18,·) and the power-spectrum products then
    // overflow decimal multiplication
    val winRows = graft.dsp.Mel.hamming(32).zipWithIndex
      .map { case (w, j) => s"($j, CAST($w AS DOUBLE))" }.mkString(", ")
    val melRows = graft.dsp.Mel.filterbank(32, 8, 8000.0).zipWithIndex
      .flatMap { case (row, m) =>
        row.zipWithIndex.collect { case (w, k) if w != 0.0 =>
          s"($m, $k, CAST($w AS DOUBLE))" }
      }.mkString(",\n       |  ").stripMargin
    val dctRows = graft.dsp.Mel.dctOrthoWeights(4, 8).zipWithIndex
      .flatMap { case (row, c) =>
        row.zipWithIndex.map { case (w, m) => s"($c, $m, CAST($w AS DOUBLE))" }
      }.mkString(",\n       |  ").stripMargin
    s"""WITH en AS (
       |  SELECT doc_id, text, (length(text) // 2 // 32) * 32 AS nkeep
       |  FROM documents WHERE lang = 'en'
       |), smp AS (
       |  SELECT doc_id, text, unnest(generate_series(0, nkeep - 1)) AS i FROM en
       |), sv AS (
       |  SELECT doc_id, i // 32 AS frame, i % 32 AS j,
       |    unicode(substr(text, 2*i + 1, 1)) + 256 * unicode(substr(text, 2*i + 2, 1)) - 16384 AS s
       |  FROM smp
       |), win(j, w) AS (VALUES $winRows),
       |wx AS (
       |  SELECT doc_id, frame, sv.j AS j, s * w AS x FROM sv JOIN win ON win.j = sv.j
       |), kk AS (SELECT unnest(generate_series(0, 16)) AS k),
       |spec AS (
       |  SELECT doc_id, frame, kk.k AS k,
       |    SUM(x * COS(2 * pi() * kk.k * j / 32)) AS pr,
       |    SUM(x * SIN(2 * pi() * kk.k * j / 32)) AS pim
       |  FROM wx CROSS JOIN kk GROUP BY 1, 2, 3
       |), mel(m, k, w) AS (VALUES
       |  $melRows
       |), mele AS (
       |  SELECT doc_id, frame, mel.m AS m,
       |    LN(SUM((pr*pr + pim*pim) * mel.w) + 1.0) AS le
       |  FROM spec JOIN mel ON mel.k = spec.k GROUP BY 1, 2, 3
       |), dctw(c, m, w) AS (VALUES
       |  $dctRows
       |)
       |SELECT doc_id, CAST(frame AS INT) AS frame, CAST(dctw.c AS INT) AS cj,
       |  ${fpSql("SUM(le * dctw.w)", "1e4")} AS coef_fp
       |FROM mele JOIN dctw ON dctw.m = mele.m
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  /** Voice-activity segmentation (Multimodal.vadSegments) over the
    * PCM frame energies: active = integral energy > 3.9e9 (≈ the
    * corpus median, so both states genuinely occur), runs debounced
    * at ≥ 2 frames. Long-integer energies and integer frame
    * arithmetic make the whole segmentation exactly replayable.
    */
  def mmVad(s: SparkSession, dir: String): DataFrame =
    Multimodal.vadSegments(
      Multimodal.audioFrameFeatures(
        Multimodal.asMedia(docs(s, dir).filter(col("lang") === "en"),
          "doc_id", "text"),
        frameLen = 32, center = 16384)
        .select(col("media_id").as("doc_id"), col("frame"), col("energy")),
      "doc_id", energyThr = 3900000000L, minFrames = 2)
      .orderBy("doc_id", "start_frame")

  private val mmVadSql: String =
    """WITH en AS (
      |  SELECT doc_id, text, (length(text) // 2 // 32) * 32 AS nkeep
      |  FROM documents WHERE lang = 'en'
      |), smp AS (
      |  SELECT doc_id, text, unnest(generate_series(0, nkeep - 1)) AS i FROM en
      |), sv AS (
      |  SELECT doc_id, i, i // 32 AS frame,
      |    unicode(substr(text, 2*i + 1, 1)) + 256 * unicode(substr(text, 2*i + 2, 1)) - 16384 AS s
      |  FROM smp
      |), fe AS (
      |  SELECT doc_id, frame,
      |    CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS energy
      |  FROM sv GROUP BY 1, 2
      |), act AS (
      |  SELECT doc_id, frame, energy,
      |    frame - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY frame) AS grp
      |  FROM fe WHERE energy > 3900000000
      |)
      |SELECT doc_id, CAST(MIN(frame) AS INT) AS start_frame,
      |  CAST(MAX(frame) AS INT) AS end_frame,
      |  CAST(COUNT(*) AS BIGINT) AS n_frames,
      |  CAST(SUM(energy) AS BIGINT) AS sum_energy
      |FROM act GROUP BY doc_id, grp HAVING COUNT(*) >= 2
      |ORDER BY 1, 2""".stripMargin

  /** Image near-dup pairs: the dHash fingerprints run through the
    * SAME Manku composite-key blocking as text simhash
    * (Dedup.hammingPairs — the (hi, lo) layout is shared by design),
    * so image dedup is text dedup with a different fingerprint. The
    * oracle recomputes the dHashes from the generative pixel formula
    * and replays the 20-key blocking + full-hamming verify.
    */
  def mmPhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.hammingPairs(
        Multimodal.imageDHash(
          Multimodal.asImageMedia(docs(s, dir).filter(col("lang") === "en"),
            "doc_id", "text", w = 16, h = 16, format = "bmp"))
          .select(col("media_id").as("doc_id"),
            col("phash_hi").as("sim_hi"), col("phash_lo").as("sim_lo")),
        "doc_id", maxHam = 3)
      .orderBy("a", "b")

  private def mmPhashPairsSql: String = {
    val blk = IndexedSeq(
      "(sim_hi // 2097152)", "((sim_hi // 1024) % 2048)", "(sim_hi % 1024)",
      "(sim_lo // 2097152)", "((sim_lo // 1024) % 2048)", "(sim_lo % 1024)")
    val cases = graft.operators.Dedup.simhashCombos.zipWithIndex
      .map { case ((i, j, l), t) =>
        s"WHEN $t THEN ${blk(i)} * 4194304 + ${blk(j)} * 2048 + ${blk(l)}"
      }.mkString(" ")
    s"""WITH sig AS (
       |  SELECT doc_id, phash_hi AS sim_hi, phash_lo AS sim_lo
       |  FROM ($mmPhashSql) q
       |), k AS (
       |  SELECT doc_id, sim_hi, sim_lo, r.t,
       |    CASE r.t $cases END AS blk
       |  FROM sig, range(20) r(t)
       |)
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |  CAST(bit_count(xor(x.sim_hi, y.sim_hi)) + bit_count(xor(x.sim_lo, y.sim_lo)) AS BIGINT) AS hamming
       |FROM k x JOIN k y
       |  ON x.t = y.t AND x.blk = y.blk AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sim_hi, y.sim_hi)) + bit_count(xor(x.sim_lo, y.sim_lo)) <= 3
       |ORDER BY 1, 2""".stripMargin
  }

  /** Lossy-codec near-dup pairs (VERDICT r12 #3): each en doc's raster
    * is encoded BOTH ways — lossless BMP and a REAL JDK JPEG encode at
    * quality 95 (web corpora are overwhelmingly JPEG) — and both real
    * ImageIO decodes feed dHash. The JPEG samples are perturbed by
    * quantization, so its dHash is NOT bit-replayable; the deliverable
    * rows are the replayable BMP dHashes (the mm_phash formula replay)
    * cross-joined with two measured gates:
    *   - jpeg_close_ok: ≥90% of docs keep hamming(dHash_bmp,
    *     dHash_jpeg) ≤ 8 (JpegProbe, tools/JpegProbe at commit
    *     e9cc669, measured 0.995/0.991 at
    *     sf0.01/sf0.1; q=90 measures ~0.80 and q=75 ~0.12, so the gate
    *     genuinely tracks codec severity — and these text-noise
    *     rasters are the ADVERSARIAL case for a gradient hash; photos
    *     fare better);
    *   - jpeg_pair_found_ok: running the mixed {BMP ids, JPEG ids +
    *     2⁴⁰} corpus through the SAME Manku composite blocking
    *     (Dedup.hammingPairs) recovers EVERY (doc, lossy-re-encode)
    *     pair with hamming ≤ 3 — the pigeonhole completeness theorem
    *     made a measured invariant (floor 1.0: any blocking defect
    *     fails it).
    */
  def mmJpegPairs(s: SparkSession, dir: String): DataFrame = CacheUtil.result { scope =>
    val en = docs(s, dir).filter(col("lang") === "en")
    def hashes(fmt: String): DataFrame =
      Multimodal.imageDHash(
        Multimodal.asImageMedia(en, "doc_id", "text", w = 16, h = 16,
          format = fmt))
        .select(col("media_id").as("doc_id"),
          col("phash_hi").as("sim_hi"), col("phash_lo").as("sim_lo"))
    val bmp = scope.cache(hashes("bmp"))
    val jpg = scope.cache(hashes("jpeg"))
    val ham = bitCountCol(col("sim_hi").bitwiseXOR(col("j_hi"))) +
      bitCountCol(col("sim_lo").bitwiseXOR(col("j_lo")))
    val joined = scope.cache(bmp.join(
        jpg.select(col("doc_id"), col("sim_hi").as("j_hi"),
          col("sim_lo").as("j_lo")), "doc_id")
      .select(col("doc_id"), ham.as("_ham")))
    val closeGate = joined
      .agg((sum(when(col("_ham") <= 8, 1L).otherwise(0L)) >=
        count(lit(1)) * lit(0.90)).as("jpeg_close_ok"))
    val off = 1L << 40
    val mixed = bmp.unionByName(
      jpg.select((col("doc_id") + off).as("doc_id"), col("sim_hi"),
        col("sim_lo")))
    val found = Dedup.hammingPairs(mixed, "doc_id", maxHam = 3)
      .select(col("a"), col("b"))
    val wanted = joined.filter(col("_ham") <= 3)
      .select(col("doc_id").as("a"), (col("doc_id") + off).as("b"))
    val foundGate = wanted.join(found, Seq("a", "b"), "left_anti")
      .agg((count(lit(1)) === 0L).as("jpeg_pair_found_ok"))
    bmp.select(col("doc_id"), col("sim_hi").as("phash_hi"),
        col("sim_lo").as("phash_lo"))
      .crossJoin(broadcast(closeGate.crossJoin(foundGate)))
      .orderBy("doc_id")
  }

  /** mm_phash replay plus the two literal-TRUE gates. */
  private def mmJpegPairsSql: String = {
    val marker = "AS phash_lo"
    require(mmPhashSql.indexOf(marker) == mmPhashSql.lastIndexOf(marker))
    mmPhashSql.replace(marker,
      marker + ", TRUE AS jpeg_close_ok, TRUE AS jpeg_pair_found_ok")
  }

  private def bitCountCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bit_count(c).cast("long")

  /** REAL PNG round-trip + resize: the 16×16 gray image goes through
    * the JDK's PNG ENCODER (real zlib deflate), `javax.imageio` PNG
    * decode (inflate + filter reversal), then nearest-neighbor
    * resample to 7×5 (non-divisor dims exercise the floor mapping:
    * out(x,y) = in(x·16/7, y·16/5)). The oracle replays the pixel
    * formula through the index mapping — lossless gray PNG means the
    * values must survive bit-exactly.
    */
  def mmResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.resize(
      Multimodal.asImageMedia(docs(s, dir).filter(col("lang") === "en"),
        "doc_id", "text", w = 16, h = 16, format = "png"), ow = 7, oh = 5)
      .select(col("media_id").as("doc_id"),
        posexplode(col("resized")).as(Seq("pos", "v")))
      .orderBy("doc_id", "pos")

  /** Perceptual dHash over REAL decoded BMPs (16×16 render → 9×8 NN
    * grid → 64 horizontal-gradient bits as hi/lo halves). The oracle
    * replays decode + NN indexing + comparisons from the generative
    * pixel formula by pure integer arithmetic — the same end-to-end
    * proof shape as mm_resize, now producing the image-dedup
    * fingerprint.
    */
  def mmPhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageDHash(
      Multimodal.asImageMedia(docs(s, dir).filter(col("lang") === "en"),
        "doc_id", "text", w = 16, h = 16, format = "bmp"))
      .select(col("media_id").as("doc_id"), col("phash_hi"), col("phash_lo"))
      .orderBy("doc_id")

  private val mmPhashSql: String =
    """WITH en AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents
      |  WHERE lang = 'en' AND length(text) > 0
      |), g AS (
      |  SELECT doc_id, b.range AS b,
      |    CASE WHEN
      |      unicode(substr(text, ((((b.range // 8) * 2) * 16 + ((b.range % 8) * 16 // 9)) % n) + 1, 1)) <
      |      unicode(substr(text, ((((b.range // 8) * 2) * 16 + (((b.range % 8) + 1) * 16 // 9)) % n) + 1, 1))
      |    THEN 1 ELSE 0 END AS bit
      |  FROM en, range(64) b
      |)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS phash_hi,
      |  CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS phash_lo
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  private val mmResizeSql: String =
    """WITH en AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents
      |  WHERE lang = 'en' AND length(text) > 0
      |), o AS (
      |  SELECT doc_id, text, n, unnest(generate_series(0, 34)) AS pos FROM en
      |)
      |SELECT doc_id, CAST(pos AS INT) AS pos,
      |  CAST(unicode(substr(text,
      |    ((((pos // 7) * 16 // 5) * 16 + (pos % 7) * 16 // 7) % n) + 1, 1)) AS INT) AS v
      |FROM o ORDER BY 1, 2""".stripMargin

  /** REAL video frame extraction: the "video" column is three real
    * 8×8 BMPs concatenated (frame f's pixel (x,y) = codepoint of
    * text[(f·64 + y·8 + x) mod n]); the kernel demuxes by parsing
    * each frame's BMP file-size field, ImageIO-decodes every frame,
    * and reduces it to (w, h, gray pixel sum). The oracle replays the
    * per-frame codepoint sums — integral, exact compare.
    */
  def mmFrames(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Functions.dsl._
    // render + demux are CPU-bound: spread like asImageMedia
    val en = Width.spread(docs(s, dir)
      .filter(col("lang") === "en" && length(col("text")) > 0))
    Multimodal.sampleFrames(
      en.select(col("doc_id").as("media_id"),
        concat(synthBmpC(col("text"), 8, 8, 0),
          synthBmpC(col("text"), 8, 8, 64),
          synthBmpC(col("text"), 8, 8, 128)).as("content")))
      .select(col("media_id").as("doc_id"),
        posexplode(col("frames")).as(Seq("frame", "f")))
      .select(col("doc_id"), col("frame"),
        col("f.w").as("w"), col("f.h").as("h"), col("f.psum").as("psum"))
      .orderBy("doc_id", "frame")
  }

  private val mmFramesSql: String =
    """WITH en AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents
      |  WHERE lang = 'en' AND length(text) > 0
      |), q AS (
      |  SELECT doc_id, text, n, unnest(generate_series(0, 191)) AS q FROM en
      |)
      |SELECT doc_id, CAST(q // 64 AS INT) AS frame,
      |  CAST(8 AS INT) AS w, CAST(8 AS INT) AS h,
      |  CAST(SUM(unicode(substr(text, (q % n) + 1, 1))) AS BIGINT) AS psum
      |FROM q GROUP BY 1, 2, 3, 4 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> (dedupExact _),
    "dedup_spans" -> (dedupSpans _),
    "dedup_substring" -> (dedupSubstring _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_simhash_pairs" -> (dedupSimhashPairs _),
    "dedup_edit" -> (dedupEdit _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_semantic" -> (dedupSemantic _),
    "ann_topk_bruteforce" -> (annTopkBruteforce _),
    "ann_topk_lsh" -> (annTopkLsh _),
    "ann_topk_ivf" -> (annTopkIvf _),
    "ann_topk_ivf_trained" -> (annTopkIvfTrained _),
    "ann_incremental" -> (annIncremental _),
    "ann_topk_pq" -> (annTopkPq _),
    "ann_topk_ivfpq" -> (annTopkIvfPq _),
    "ann_topk_opq" -> (annTopkOpq _),
    "text_langid" -> (textLangid _),
    "text_quality" -> (textQuality _),
    "text_tokens" -> (textTokens _),
    "text_tokens_unicode" -> (textTokensUnicode _),
    "text_langid_script" -> (textLangidScript _),
    "dedup_minhash_unicode" -> (dedupMinhashUnicode _),
    "text_curriculum" -> (textCurriculum _),
    "text_bpe_train" -> (textBpeTrain _),
    "text_bpe_encode" -> (textBpeEncode _),
    "text_bpe_ids" -> (textBpeIds _),
    "text_bpe_decode" -> (textBpeDecode _),
    "text_bpe_bytes_train" -> (textBpeBytesTrain _),
    "text_unigram_train" -> (textUnigramTrain _),
    "text_unigram_encode" -> (textUnigramEncode _),
    "text_unigram_large" -> (textUnigramLarge _),
    "text_bpe_bytes_decode" -> (textBpeBytesDecode _),
    "text_fingerprint" -> (textFingerprint _),
    "text_repetition" -> (textRepetition _),
    "text_split" -> (textSplit _),
    "text_sample" -> (textSample _),
    "text_quota" -> (textQuota _),
    "text_mixture" -> (textMixture _),
    "text_shards" -> (textShards _),
    "text_common_ngrams" -> (textCommonNgrams _),
    "text_pack" -> (textPack _),
    "text_pii" -> (textPii _),
    "text_gopher" -> (textGopher _),
    "text_contamination" -> (textContamination _),
    "text_bloom" -> (textBloom _),
    "text_nb_classify" -> (textNbClassify _),
    "text_chunk" -> (textChunk _),
    "emb_knn_graph" -> (embKnnGraph _),
    "emb_knn_graph_ivfpq" -> (embKnnGraphIvfPq _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_pagerank_ivfpq" -> (graphPagerankIvfPq _),
    "emb_outliers" -> (embOutliers _),
    "emb_outliers_ivfpq" -> (embOutliersIvfPq _),
    "text_inverted_index" -> (textInvertedIndex _),
    "text_collocations" -> (textCollocations _),
    "text_entropy" -> (textEntropy _),
    "src_jsonl" -> (srcJsonl _),
    "src_csv" -> (srcCsv _),
    "src_orc" -> (srcOrc _),
    "sink_compacted" -> (sinkCompacted _),
    "sink_partitioned" -> (sinkPartitioned _),
    "src_evolved" -> (srcEvolved _),
    "src_manifest_latest" -> (srcManifestLatest _),
    "src_manifest_timetravel" -> (srcManifestTimetravel _),
    "src_manifest_pruned" -> (srcManifestPruned _),
    "src_manifest_evolved" -> (srcManifestEvolved _),
    "src_manifest_skipping" -> (srcManifestSkipping _),
    "src_manifest_zorder" -> (srcManifestZorder _),
    "src_manifest_bloom" -> (srcManifestBloom _),
    "src_manifest_optimize" -> (srcManifestOptimize _),
    "src_manifest_restore" -> (srcManifestRestore _),
    "src_manifest_constraint" -> (srcManifestConstraint _),
    "src_manifest_deletewhere" -> (srcManifestDeleteWhere _),
    "src_manifest_asof_ts" -> (srcManifestAsofTs _),
    "src_manifest_deletekeys" -> (srcManifestDeleteKeys _),
    "src_manifest_dv" -> (srcManifestDv _),
    "src_manifest_merge" -> (srcManifestMerge _),
    "src_manifest_merge_str" -> (srcManifestMergeStr _),
    "src_manifest_merge_evolve" -> (srcManifestMergeEvolve _),
    "src_manifest_history" -> (srcManifestHistory _),
    "src_manifest_rename" -> (srcManifestRename _),
    "src_manifest_clone" -> (srcManifestClone _),
    "src_manifest_cdc" -> (srcManifestCdc _),
    "text_tfidf" -> (textTfidf _),
    "text_bm25" -> (textBm25 _),
    "text_top_words" -> (textTopWords _),
    "text_cms_ngrams" -> (textCmsNgrams _),
    "text_pipeline_e2e" -> (textPipelineE2e _),
    "text_lm_score" -> (textLmScore _),
    "emb_cov" -> (embCov _),
    "emb_pca_recon" -> (embPcaRecon _),
    "emb_standardize" -> (embStandardize _),
    "emb_quantize" -> (embQuantize _),
    "mm_image_features" -> (mmImageFeatures _),
    "mm_audio" -> (mmAudio _),
    "mm_mfcc" -> (mmMfcc _),
    "mm_vad" -> (mmVad _),
    "mm_phash_pairs" -> (mmPhashPairs _),
    "mm_jpeg_pairs" -> (mmJpegPairs _),
    "mm_resize" -> (mmResize _),
    "mm_phash" -> (mmPhash _),
    "mm_frames" -> (mmFrames _))

  val oracleSql: Map[String, String] = Map(
    "dedup_exact" -> dedupExactSql,
    "dedup_spans" -> dedupSpansSql,
    "dedup_substring" -> dedupSubstringSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_simhash_pairs" -> dedupSimhashPairsSql,
    "dedup_edit" -> dedupEditSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "dedup_semantic" -> dedupSemanticSql,
    "ann_topk_bruteforce" -> annTopkBruteforceSql,
    "ann_topk_lsh" -> annTopkLshSql,
    "ann_topk_ivf" -> annTopkIvfSql,
    "ann_topk_ivf_trained" -> annTopkIvfTrainedSql,
    "ann_incremental" -> annIncrementalSql,
    "ann_topk_pq" -> annTopkPqSql,
    "ann_topk_ivfpq" -> annTopkIvfPqSql,
    "ann_topk_opq" -> annTopkOpqSql,
    "text_langid" -> textLangidSql,
    "text_quality" -> textQualitySql,
    "text_tokens" -> textTokensSql,
    "text_tokens_unicode" -> textTokensUnicodeSql,
    "text_langid_script" -> textLangidScriptSql,
    "dedup_minhash_unicode" -> dedupMinhashUnicodeSql,
    "text_curriculum" -> textCurriculumSql,
    "text_bpe_train" -> textBpeTrainSql,
    "text_bpe_encode" -> textBpeEncodeSql,
    "text_bpe_ids" -> textBpeIdsSql,
    "text_bpe_decode" -> textBpeDecodeSql,
    "text_bpe_bytes_train" -> textBpeBytesTrainSql,
    "text_unigram_train" -> textUnigramTrainSql,
    "text_unigram_encode" -> textUnigramEncodeSql,
    "text_unigram_large" -> textUnigramLargeSql,
    "text_bpe_bytes_decode" -> textBpeBytesDecodeSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_repetition" -> textRepetitionSql,
    "text_split" -> textSplitSql,
    "text_sample" -> textSampleSql,
    "text_quota" -> textQuotaSql,
    "text_mixture" -> textMixtureSql,
    "text_shards" -> textShardsSql,
    "text_common_ngrams" -> textCommonNgramsSql,
    "text_pack" -> textPackSql,
    "text_pii" -> textPiiSql,
    "text_gopher" -> textGopherSql,
    "text_contamination" -> textContaminationSql,
    "text_bloom" -> textBloomSql,
    "text_nb_classify" -> textNbClassifySql,
    "text_chunk" -> textChunkSql,
    "emb_knn_graph" -> embKnnGraphSql,
    "emb_knn_graph_ivfpq" -> embKnnGraphIvfPqSql,
    "graph_pagerank" -> graphPagerankSql,
    "graph_pagerank_ivfpq" -> graphPagerankIvfPqSql,
    "emb_outliers" -> embOutliersSql,
    "emb_outliers_ivfpq" -> embOutliersIvfPqSql,
    "text_inverted_index" -> textInvertedIndexSql,
    "text_collocations" -> textCollocationsSql,
    "text_entropy" -> textEntropySql,
    "src_jsonl" -> srcJsonlSql,
    "src_csv" -> srcCsvSql,
    "src_orc" -> srcOrcSql,
    "sink_compacted" -> sinkCompactedSql,
    "sink_partitioned" -> sinkPartitionedSql,
    "src_evolved" -> srcEvolvedSql,
    "src_manifest_latest" -> srcManifestLatestSql,
    "src_manifest_timetravel" -> srcManifestTimetravelSql,
    "src_manifest_pruned" -> srcManifestPrunedSql,
    "src_manifest_evolved" -> srcManifestEvolvedSql,
    "src_manifest_skipping" -> srcManifestSkippingSql,
    "src_manifest_zorder" -> srcManifestZorderSql,
    "src_manifest_bloom" -> srcManifestBloomSql,
    "src_manifest_optimize" -> srcManifestOptimizeSql,
    "src_manifest_restore" -> srcManifestRestoreSql,
    "src_manifest_constraint" -> srcManifestConstraintSql,
    "src_manifest_deletewhere" -> srcManifestDeleteWhereSql,
    "src_manifest_asof_ts" -> srcManifestAsofTsSql,
    "src_manifest_deletekeys" -> srcManifestDeleteKeysSql,
    "src_manifest_dv" -> srcManifestDvSql,
    "src_manifest_merge" -> srcManifestMergeSql,
    "src_manifest_merge_str" -> srcManifestMergeStrSql,
    "src_manifest_merge_evolve" -> srcManifestMergeEvolveSql,
    "src_manifest_history" -> srcManifestHistorySql,
    "src_manifest_rename" -> srcManifestRenameSql,
    "src_manifest_clone" -> srcManifestCloneSql,
    "src_manifest_cdc" -> srcManifestCdcSql,
    "text_tfidf" -> textTfidfSql,
    "text_bm25" -> textBm25Sql,
    "text_top_words" -> textTopWordsSql,
    "text_cms_ngrams" -> textCmsNgramsSql,
    "text_pipeline_e2e" -> textPipelineE2eSql,
    "text_lm_score" -> textLmScoreSql,
    "emb_cov" -> embCovSql,
    "emb_pca_recon" -> embPcaReconSql,
    "emb_standardize" -> embStandardizeSql,
    "emb_quantize" -> embQuantizeSql,
    "mm_image_features" -> mmImageFeaturesSql,
    "mm_audio" -> mmAudioSql,
    "mm_mfcc" -> mmMfccSql,
    "mm_vad" -> mmVadSql,
    "mm_phash_pairs" -> mmPhashPairsSql,
    "mm_jpeg_pairs" -> mmJpegPairsSql,
    "mm_resize" -> mmResizeSql,
    "mm_phash" -> mmPhashSql,
    "mm_frames" -> mmFramesSql)
}
