package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.fp6
import graft.functions.Functions.dsl._

/** Deduplication operators for training-data pipelines (SURVEY.md §2.2
  * ops 18-22). Hash/bucket families are md5-derived so the DuckDB
  * oracle can reproduce them bit-for-bit (lexicographic min over hex
  * strings — engine-portable).
  *
  * Scale notes (§4): exact dedup shuffles md5 keys, not documents;
  * MinHash banding turns O(n²) candidate generation into a shuffle on
  * band signatures (skew-capped by construction: identical docs cap a
  * bucket, verification is per-bucket map-side); embedding blocking
  * uses random-hyperplane buckets so only same-bucket pairs are
  * scored.
  */
object Dedup {

  /** Exact dedup after normalization: every doc mapped to the smallest
    * doc_id sharing its normalized text. One shuffle on the hash.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = md5(encode(TextOps.normalize(col(textCol)), "UTF-8"))
    val w = Window.partitionBy(col("_h"))
    df.withColumn("_h", h)
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("is_dup", (col(idCol) =!= col("canonical_id")).cast("int"))
      .drop("_h")
  }

  /** Lowercased 3-word shingles of a word-array column. `ws` must be a
    * plain attribute (not an expression): Catalyst inlines expression
    * arguments into every lambda element, so passing `split(...)` here
    * would re-run the regex split per shingle per reference.
    */
  def shingles(ws: Column): Column =
    transform(sequence(lit(0), size(ws) - 3),
      i => concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2),
        element_at(ws, i + 3)))

  /** (id, shingle) long frame (docs with <3 words drop out). The word
    * split is materialized behind a hash exchange on the id: this (a)
    * computes the regex split exactly once per doc (the exchange stops
    * Catalyst's project-collapsing from inlining it into the shingle
    * lambda), (b) spreads the shingle/minhash kernels over
    * [[graft.Width.of]] partitions, and (c) pre-partitions by id so the
    * downstream minhash groupBy reuses the exchange instead of
    * shuffling again.
    */
  def shingleFrame(df: DataFrame, idCol: String, textCol: String,
                   tok: Column => Column = TextOps.unicodeTokens): DataFrame =
    df.select(col(idCol), tok(col(textCol)).as("_ws"))
      .repartition(graft.Width.of(df), col(idCol))
      .filter(size(col("_ws")) >= 3)
      .select(col(idCol), explode(shingles(col("_ws"))).as("s"))

  /** MinHash signatures: k independent permutations approximated by
    * min over the leading 60 bits of md5(seed || shingle) as BIGINT
    * (same ordering as the lexicographic hex min — fixed-width hex is
    * order-isomorphic to its numeric value — but long-typed, so the
    * aggregate stays in codegen'd HashAggregate instead of falling
    * back to SortAggregate on string buffers, and the shuffle carries
    * 8-byte values). One shuffle (groupBy id) computes all k mins
    * map-side-combined.
    */
  def minhash(sh: DataFrame, idCol: String, k: Int): DataFrame = {
    val aggs = (0 until k).map { i =>
      min(conv(substring(md5(encode(concat(lit(s"$i|"), col("s")), "UTF-8")), 1, 15),
        16, 10).cast("long")).as(s"h$i")
    }
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Band signatures: k hashes in bands of r → (id, band, sig). */
  def bands(mh: DataFrame, idCol: String, k: Int, r: Int): DataFrame = {
    // a non-dividing r would silently compute k hashes but band only
    // the first (k/r)*r of them — paid-for recall thrown away
    require(k % r == 0, s"band width r=$r must divide k=$k minhashes")
    val nBands = k / r
    val sigs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until r).map(j => col(s"h${b * r + j}")): _*).as("sig"))
    }
    mh.select(col(idCol), explode(array(sigs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** LSH candidate pairs (a < b): docs sharing any band signature.
    * One shuffle on (band, sig) gathers each bucket's ids; pairs are
    * emitted map-side within the bucket (no self-join — a self-join
    * would rebuild the whole shingle→minhash pipeline for both sides
    * and broadcast one of them). Identical docs collapse to one
    * bucket, so bucket sizes are bounded by the duplicate-cluster
    * size; `maxBucket` caps the quadratic pair emission for degenerate
    * buckets (a bucket of identical boilerplate at corpus scale) — the
    * capped buckets are already fully-connected duplicate clusters, so
    * downstream exact-dedup handles them more cheaply than pairing.
    * The default cap (4096 ⇒ ≤ ~8.4M pair structs ≈ a few hundred MB,
    * well inside a task) only drops buckets that exact-dedup must own
    * anyway; observed bucket maxima on the test corpora are ≤ 4.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 12, r: Int = 3,
                        maxBucket: Int = 4096,
                        tok: Column => Column = TextOps.unicodeTokens): DataFrame = {
    require(df.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"minhashCandidates requires a numeric id column; '$idCol' is " +
        s"${df.schema(idCol).dataType.simpleString}. Map ids to a surrogate " +
        "long (e.g. monotonically_increasing_id or a hash) first.")
    // pairsC's kernel emits at most 16,777,216 pair structs per bucket
    // (n*(n-1)/2 <= 2^24 ⇔ n <= 5793); reject a cap that would pass
    // the bucket filter only to crash inside the kernel at runtime.
    require(maxBucket <= 5793,
      s"maxBucket $maxBucket exceeds the per-bucket pair-emission limit " +
        "(5793 ids ⇒ ~16.8M pairs); buckets that large are fully-connected " +
        "duplicate clusters better handled by exact dedup")
    val sh = shingleFrame(df, idCol, textCol, tok)
    val bd = bands(minhash(sh, idCol, k), idCol, k, r)
    val buckets = bd.groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(col(idCol).cast("long"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
    buckets
      .select(explode(pairsC(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** Exact n-gram (3-word shingle) Jaccard over LSH candidates,
    * keeping pairs with jac >= minJac.
    *
    * Scale shape: no forced `broadcast()` hints anywhere — an explicit
    * hint is never demoted by AQE, so an unexpectedly large candidate
    * set would fail the job (8 GB build-side limit / driver OOM)
    * instead of degrading. Instead the (large) distinct-shingle frame
    * is first pruned with a LEFT SEMI join to docs that appear in any
    * candidate pair — the pruned frame is proportional to the
    * near-duplicate population, not the corpus — and the
    * shingle-intersection joins run unhinted: AQE picks broadcast when
    * the candidate side is actually small and falls back to a shuffle
    * join when it isn't. Sizes are computed from the pruned frame
    * (identical values — only candidate ids are ever looked up).
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   minJac: Double = 0.8, k: Int = 12, r: Int = 3): DataFrame =
      graft.CacheUtil.result { scope =>
    // `cand` (the whole minhash pipeline) is consumed three times below
    // (candIds twice via the union, then the aSh join) and `shd` three
    // times (sizes, aSh, inter): cache both so the corpus-scale work
    // runs once — both are proportional to the near-duplicate
    // population, not the corpus, so the cache is small. The FULL
    // shingle frame is deliberately NOT cached: it is corpus-sized
    // (several × the text column), and its two remaining computations
    // are column-pruned parquet scans — cheaper at 100 TB than
    // materializing a corpus-sized cache to executor disks. Blocks are
    // reused even within a single job; both caches are freed after the
    // result's first execution.
    val cand = scope.cache(minhashCandidates(df, idCol, textCol, k, r))
    val candIds = cand.select(col("a").as("_cand_id"))
      .union(cand.select(col("b").as("_cand_id")))
      .distinct()
    val shd = scope.cache(shingleFrame(df, idCol, textCol).distinct()
      .join(candIds, col(idCol) === col("_cand_id"), "left_semi"))
    val sizes = shd.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val aSh = shd.select(col(idCol).as("a"), col("s"))
      .join(cand, "a")
    val inter = shd.select(col(idCol).as("b"), col("s"))
      .join(aSh, Seq("b", "s"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("a"), col("sz").as("na")), "a")
      .join(sizes.select(col(idCol).as("b"), col("sz").as("nb")), "b")
      .withColumn("jac", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= minJac)
      .select(col("a"), col("b"), col("jac"))
  }

  /** One large-star round (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): every node connects its
    * strictly-larger neighbors to the minimum of its closed
    * neighborhood. Input edges may be in any orientation; output edges
    * are oriented large→small and deduplicated.
    */
  private[operators] def largeStar(e: DataFrame): DataFrame = {
    val und = e.select(col("a"), col("b"))
      .union(e.select(col("b").as("a"), col("a").as("b")))
    // one exchange: neighborhoods gather on the node key and the
    // rewired edges are emitted map-side from the collected list (the
    // SoCC'14 reduce-side formulation) — no join back. Multiset output
    // (no distinct): the only consumer is smallStar, whose aggregation
    // is duplicate-insensitive and which dedups its own output.
    // High-degree hubs collect their whole neighborhood here; that is
    // the published algorithm's reducer shape, and large-star exists
    // precisely to shed hub neighbors onto the minimum within
    // O(log n) rounds.
    und.groupBy(col("a"))
      .agg(collect_list(col("b")).as("_nb"))
      .select(col("a"), least(col("a"), array_min(col("_nb"))).as("_m"),
        col("_nb"))
      .select(explode(filter(col("_nb"), v => v > col("a"))).as("a"),
        col("_m").as("b"))
  }

  /** One small-star round: edges keyed on their larger endpoint; each
    * node rewires its smaller neighborhood (plus itself) onto the
    * neighborhood minimum. Input edges in any orientation; output
    * oriented large→small, deduplicated, self-loops dropped.
    */
  private[operators] def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
    // same one-exchange reduce-side shape as largeStar: collect the
    // smaller neighborhood, rewire it (plus the key itself) onto its
    // minimum map-side, then dedup
    dir.groupBy(col("a"))
      .agg(array_distinct(collect_list(col("b"))).as("_nb"))
      .select(col("a"), array_min(col("_nb")).as("_m"), col("_nb"))
      .select(explode(concat(
          filter(col("_nb"), v => v =!= col("_m")),
          array(col("a")))).as("a"),
        col("_m").as("b"))
      .distinct()
  }

  /** Connected components over near-duplicate pairs: every doc that
    * appears in a pair is labelled with the smallest id reachable
    * through the pair graph — the canonical representative of its
    * duplicate cluster ("keep one per cluster" then being a filter on
    * id != cluster_id).
    *
    * Algorithm: alternating large-star / small-star rounds (Kiveris et
    * al., SoCC'14) — converges in O(log² n) rounds even on
    * high-diameter or skewed graphs, where plain min-label propagation
    * needs diameter rounds. At the fixpoint every component is a star:
    * each non-minimum node carries exactly one edge to its component
    * minimum.
    *
    * Scale shape, per round:
    *  - ONE action — the exact symmetric-difference convergence count.
    *    That same job materializes the new edge set into its
    *    MEMORY_AND_DISK cache (caching happens whenever partitions
    *    are computed), so no separate materialization job runs; the
    *    previous round's cache is released once the new one is built,
    *    and the last round's is freed after the result's first
    *    execution.
    *  - a reliable `checkpoint()` every `checkpointEvery` rounds
    *    truncates lineage to durable storage (HDFS/object store on a
    *    cluster — set `spark.sparkContext.setCheckpointDir`; a
    *    temp-dir default is installed for local runs). Unlike
    *    `localCheckpoint`, executor loss is recoverable: an
    *    hours-long 1000-executor run resumes from the last
    *    checkpoint instead of aborting.
    *
    * Non-convergence fails loudly: if `maxIters` rounds end before the
    * star fixpoint, an IllegalStateException names the rounds run and
    * the unconverged node count — never over-split clusters.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 50,
                  checkpointEvery: Int = 3): DataFrame = graft.CacheUtil.result { scope =>
    graft.CacheUtil.ensureCheckpointDir(pairs.sparkSession)
    // materialize the input edge list ONCE: cache first so the eager
    // reliable checkpoint (whose write pass re-computes the RDD) reads
    // the cache instead of running the candidate-generation pipeline
    // upstream of `pairs` a second time
    val base = scope.cache(pairs.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val init = base.checkpoint(eager = true)
    scope.release(base)
    var e = init
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      var next = scope.cache(smallStar(largeStar(e)))
      // exact termination test, one aggregation: the edge set is a
      // union of single-root stars iff (1) no node is both an edge
      // source and an edge target AND (2) no source points at two
      // distinct targets. Condition (1) alone is NOT sufficient: e.g.
      // edges {(3,1),(3,2),(4,1),(5,2)} have disjoint source/target
      // sets yet node 3 carries two labels and one component is split
      // across roots 1 and 2 — connectivity flows through the shared
      // SOURCE, so another star round is still needed. With both
      // conditions every node has exactly one outgoing edge to a pure
      // root; orientation (large→small, both stars guarantee it) then
      // forces each root to be its component minimum — labels are
      // correct without waiting for the edge-set fixpoint. This count
      // is the round's single action and also populates `next`'s
      // cache.
      changed = next
        .select(col("a").as("n"), lit(1).as("s"), col("b").as("t"))
        .union(next.select(col("b").as("n"), lit(0).as("s"),
          lit(null).cast(next.schema("b").dataType).as("t")))
        .groupBy(col("n"))
        .agg(min(col("s")).as("_mn"), max(col("s")).as("_mx"),
          countDistinct(col("t")).as("_nt"))
        .filter((col("_mn") === 0 && col("_mx") === 1) || col("_nt") > 1)
        .count()
      iter += 1
      if (changed > 0 && iter % checkpointEvery == 0) {
        val chk = next.checkpoint(eager = true) // reads the cache just populated
        scope.release(next)
        next = chk
      }
      scope.release(e)
      e = next
    }
    if (changed > 0)
      throw new IllegalStateException(s"dupClusters: star fixpoint not reached " +
        s"after $iter rounds ($changed unconverged nodes); raise maxIters")
    // star fixpoint: each non-root node has exactly one edge (node →
    // component min); roots label themselves. Nodes come from the
    // checkpointed initial edge set (same node set as `pairs`), not
    // from `pairs` itself, so the upstream pipeline is not re-run.
    val nodes = init.select(col("a").as("id"))
      .union(init.select(col("b").as("id")))
      .distinct()
    // groupBy(id) reuses the join's hash partitioning (no extra
    // exchange); at the fixpoint it is an identity fold.
    nodes.join(e.select(col("a").as("id"), col("b").as("_lbl")), Seq("id"), "left")
      .groupBy(col("id"))
      .agg(min(coalesce(col("_lbl"), col("id"))).as("cluster_id"))
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  /** 64-bit SimHash signature per doc as (hi32, lo32). Map-side only.
    * Tokenizes with [[TextOps.unicodeTokens]] (the round-15 default —
    * identical to the whitespace split on pure-ASCII text).
    */
  def simhashFrame(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.Functions.install(df.sparkSession)
    df.withColumn("_sh", simhashC(TextOps.unicodeTokens(col(textCol))))
      .withColumn("sim_hi", col("_sh.hi"))
      .withColumn("sim_lo", col("_sh.lo"))
      .drop("_sh")
  }

  /** The 6-block split of a (hi32, lo32) signature: 11+11+10 bits of
    * hi, 11+11+10 bits of lo. Shared by the engine and (via the same
    * arithmetic) the DuckDB oracle.
    */
  private def simhashBlocks(hi: Column, lo: Column): IndexedSeq[Column] =
    IndexedSeq(
      shiftright(hi, 21),
      shiftright(hi, 10).bitwiseAND(lit(0x7ffL)),
      hi.bitwiseAND(lit(0x3ffL)),
      shiftright(lo, 21),
      shiftright(lo, 10).bitwiseAND(lit(0x7ffL)),
      lo.bitwiseAND(lit(0x3ffL)))

  /** The C(6,3)=20 block triples, lexicographic; table id = position.
    * Public so the oracle SQL generator replays the identical list.
    */
  val simhashCombos: IndexedSeq[(Int, Int, Int)] =
    for { i <- 0 until 6; j <- i + 1 until 6; l <- j + 1 until 6 }
      yield (i, j, l)

  /** SimHash near-dup pairs with hamming distance <= maxHam, full
    * recall via Manku-style composite block keys (Manku, Jain & Das
    * Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07): the
    * 64-bit signature splits into SIX blocks (11+11+10 bits per half)
    * and each doc is keyed on every combination of THREE blocks —
    * C(6,3) = 20 tables with ~32-bit composite keys. By pigeonhole,
    * hamming <= 3 dirties at most 3 blocks, so at least 3 blocks are
    * clean and some triple of clean blocks matches exactly in one
    * table.
    *
    * Why not 4×16-bit blocks (the naive rotate-and-block scheme): key
    * cardinality 2^16 per table means ~15k-doc buckets at 10^9 docs
    * and a quadratic in-bucket self-join (~10^13 comparisons). With
    * ~32-bit composite keys the expected bucket size at 10^9 docs is
    * ~0.25 docs — in-bucket work vanishes; the price is 20 exploded
    * rows per doc instead of 4 (5× shuffle volume, linear and
    * map-side). All 20 tables still share ONE shuffle — each
    * signature explodes to (table, key) rows and the self-join runs
    * on the composite key — and pairs agreeing in several tables are
    * deduplicated after the hamming verification.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHam: Int = 3): DataFrame =
    hammingPairs(simhashFrame(df, idCol, textCol)
      .select(col(idCol), col("sim_hi"), col("sim_lo")), idCol, maxHam)

  /** Manku composite-key hamming pairs over ANY 64-bit signature frame
    * carrying (idCol, sim_hi, sim_lo) — the blocking stage of
    * [[simhashPairs]], factored so image dHashes (the same (hi, lo)
    * layout) and any other 64-bit fingerprint reuse it unchanged.
    */
  def hammingPairs(signatures: DataFrame, idCol: String,
                   maxHam: Int = 3): DataFrame = {
    require(maxHam <= 3,
      s"hammingPairs guarantees full recall only for maxHam <= 3 " +
        s"(6 blocks keyed in triples); got $maxHam")
    val blk = simhashBlocks(col("sim_hi"), col("sim_lo"))
    val keys: Seq[Column] = simhashCombos.zipWithIndex.map { case ((i, j, l), t) =>
      struct(lit(t).as("t"),
        (shiftleft(blk(i), 22) + shiftleft(blk(j), 11) + blk(l)).as("k"))
    }
    val sig = signatures
      .select(col(idCol), col("sim_hi"), col("sim_lo"),
        explode(array(keys: _*)).as("tk"))
      .select(col(idCol), col("sim_hi"), col("sim_lo"),
        col("tk.t").as("t"), col("tk.k").as("k"))
    val a = sig.select(col("t"), col("k"), col(idCol).as("a"),
      col("sim_hi").as("hi_a"), col("sim_lo").as("lo_a"))
    val b = sig.select(col("t"), col("k"), col(idCol).as("b"),
      col("sim_hi").as("hi_b"), col("sim_lo").as("lo_b"))
    a.join(b, Seq("t", "k")).filter(col("a") < col("b"))
      .withColumn("hamming",
        bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b"))))
      .filter(col("hamming") <= maxHam)
      .select(col("a"), col("b"), col("hamming"))
      .distinct()
  }

  /** Incremental dedup: a NEW batch of documents deduped against the
    * existing corpus (the "index") — the shape every production
    * ingestion pipeline actually runs daily, where re-deduping the
    * full corpus per delta is off the table. Two stages per new doc:
    *  - exact: content-hash lookup against the index's (hash → min id)
    *    table → `exact_dup` + `canonical_id`;
    *  - near: the new doc's minhash band signatures probe the index's
    *    band table (an equi-join on (band, sig) — exactly the lookup a
    *    PERSISTED LSH index serves); candidates verify by exact
    *    3-word-shingle Jaccard, best match = (jac fp6 DESC, index id).
    *
    * Scale shape: everything derived from the index side — content
    * hashes, band signatures, shingle sets of candidate ids — is what
    * production PERSISTS (bucketed by hash / (band, sig), so the
    * delta's probes are partition-pruned joins); only the delta is
    * freshly shingled per run here, and the candidate verify prunes
    * index shingles with a LEFT SEMI join to candidate ids, so the
    * verify cost is proportional to the near-duplicate population, not
    * the corpus. Hot band buckets multiply (delta×index) candidates —
    * production caps per-bucket fan-out like minhashCandidates'
    * maxBucket; unnecessary at these corpus sizes (max bucket ≤ 4).
    * In-batch duplicates are the batch dedup's job (run dedup_exact /
    * minhashCandidates on the delta alone).
    */
  def incrementalDedup(df: DataFrame, idCol: String, textCol: String,
                       isNew: Column, k: Int = 12, r: Int = 3,
                       minJac: Double = 0.5): DataFrame = graft.CacheUtil.result { scope =>
    val flagged = df.withColumn("_new", isNew)
    val nx = flagged.select(col(idCol), col("_new"),
      md5(encode(graft.operators.TextOps.normalize(col(textCol)), "UTF-8")).as("_h"))
    val ih = nx.filter(!col("_new")).groupBy(col("_h"))
      .agg(min(col(idCol)).as("canonical_id"))
    val ex = nx.filter(col("_new")).select(col(idCol), col("_h"))
      .join(ih, Seq("_h"), "left")
    val sh = shingleFrame(flagged, idCol, textCol)
    // Both re-used subtrees are cached (optimization round 21, the
    // Pregel/dupClusters bounded-frame discipline): `bd` feeds BOTH
    // sides of the candidate join and `shd` three consumers (probe
    // shingles, index shingles, sizes) — without the cache the
    // tokenize→explode→minhash lineage re-evaluated per consumer
    // (stage profiles showed the explode stages recomputed with
    // 30–40% GC time). Both frames are bounded: bd is docs × bands
    // rows, shd is the distinct (id, shingle) set the verify stage
    // needs anyway. Both are freed after the result's first execution.
    val bd = scope.cache(bands(minhash(sh, idCol, k), idCol, k, r)
      .join(flagged.select(col(idCol), col("_new")), Seq(idCol)))
    val candidates = bd.filter(col("_new"))
      .select(col("band"), col("sig"), col(idCol).as("nid"))
      .join(bd.filter(!col("_new"))
        .select(col("band"), col("sig"), col(idCol).as("iid")), Seq("band", "sig"))
      .select(col("nid"), col("iid")).distinct()
    val shd = scope.cache(sh.select(col(idCol), col("s")).distinct())
    val shN = shd.join(candidates.select(col("nid").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("nid"), col("s"))
    val shI = shd.join(candidates.select(col("iid").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("iid"), col("s"))
    val sz = shd.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    val inter = candidates.join(shN, Seq("nid")).join(shI, Seq("iid", "s"))
      .groupBy(col("nid"), col("iid")).agg(count(lit(1)).as("_i"))
    val jac = inter
      .join(sz.select(col(idCol).as("nid"), col("_n").as("_na")), Seq("nid"))
      .join(sz.select(col(idCol).as("iid"), col("_n").as("_nb")), Seq("iid"))
      .withColumn("_j", col("_i").cast("double") /
        (col("_na") + col("_nb") - col("_i")))
      .filter(col("_j") >= minJac)
      .withColumn("_jfp", graft.Tables.fp6(col("_j")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nid")).orderBy(col("_jfp").desc, col("iid"))
    val best = jac.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("nid").as(idCol), col("iid").as("best_match_id"),
        col("_jfp").as("best_jac_fp"))
    ex.select(col(idCol), col("canonical_id").isNotNull.as("exact_dup"),
        col("canonical_id"))
      .join(best, Seq(idCol), "left")
      .select(col(idCol), col("exact_dup"), col("canonical_id"),
        col("best_match_id").isNotNull.as("near_dup"),
        col("best_match_id"), col("best_jac_fp"))
  }

  /** Exact edit-distance verification of candidate near-dup pairs —
    * the VERIFY stage of a production fuzzy-dedup pipeline: banding
    * (simhash/minhash) proposes candidates cheaply but admits false
    * positives; Levenshtein on the normalized texts is the exact
    * arbiter. A pair is a duplicate iff lev ≤ `maxEdits` (an absolute
    * edit budget — pick per corpus; the planted near-dups here sit at
    * lev 4).
    *
    * Scale shape: the DP runs ONLY on candidate pairs (banding already
    * bounded them — never all-pairs), and uses Spark's 3-arg
    * `levenshtein(l, r, threshold)` BANDED form: O(len·maxEdits) per
    * pair instead of O(len²), returning −1 the moment the distance
    * provably exceeds the budget. On the x10 near-dup-heavy scale
    * corpus (≈250k candidate pairs of ~850-char texts) the full DP
    * costs ~240 s; the band cuts it ~20×. The two text joins are
    * unhinted equi-joins on id (AQE broadcasts small sides).
    * Output lev is the exact distance when ≤ maxEdits, −1 (= "proven
    * above budget") otherwise — the oracle replays that cap from the
    * full DuckDB levenshtein at its small SF.
    */
  def editVerify(df: DataFrame, idCol: String, textCol: String,
                 pairs: DataFrame, maxEdits: Int = 32): DataFrame = {
    require(maxEdits >= 1, "maxEdits must be >= 1")
    val norm = df.select(col(idCol), graft.operators.TextOps.normalize(col(textCol)).as("_nt"))
    pairs
      // spread the CPU-bound DP; the pair rows are 24 bytes, so the
      // shuffle is ~free
      .repartition(graft.Width.of(pairs), col("a"), col("b"))
      .join(norm.select(col(idCol).as("a"), col("_nt").as("_ta")), Seq("a"))
      .join(norm.select(col(idCol).as("b"), col("_nt").as("_tb")), Seq("b"))
      .withColumn("lev", levenshtein(col("_ta"), col("_tb"), maxEdits).cast("long"))
      .select(col("a"), col("b"), col("hamming"), col("lev"),
        (col("lev") >= 0).as("is_dup"))
  }

  /** Span-level exact dedup (the line/paragraph dedup of RefinedWeb /
    * Lee et al. 2022, on fixed word windows since the corpus carries
    * no line structure): each doc splits into consecutive `span`-word
    * chunks; a chunk survives iff it is the globally FIRST occurrence
    * of its content (min (doc_id, idx)); the cleaned doc is its kept
    * chunks re-joined in order. Output per doc: total/kept span counts
    * and the md5 of the cleaned text — boilerplate shared across docs
    * keeps exactly one copy corpus-wide.
    *
    * Scale shape: chunking is a map-side explode; first-occurrence is
    * ONE partial-aggregatable min-struct hash agg keyed on the span's
    * md5 (one row per DISTINCT span crosses the exchange, so a
    * million-fold-duplicated boilerplate span reduces map-side — no
    * mega-group window anywhere); the keep verdict is an unhinted
    * equi-join on the span hash (AQE broadcasts/skew-splits; the
    * firsts side is bounded by distinct-span count); the rebuild is
    * one groupBy(doc) over rows the doc already owns. No stage ever
    * holds a span group in memory.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                span: Int = 16): DataFrame = {
    require(span >= 1, "span must be positive")
    val spans = df
      .select(col(idCol).as("_id"), TextOps.unicodeTokens(col(textCol)).as("_ws"))
      .withColumn("_n", size(col("_ws")))
      .filter(col("_n") > 0)
      .select(col("_id"), posexplode(
        transform(
          sequence(lit(0), (ceil(col("_n") / lit(span.toDouble))).cast("int") - 1),
          i => array_join(slice(col("_ws"), i * span + 1, lit(span)), " ")))
        .as(Seq("_idx", "_span")))
      .withColumn("_h", md5(encode(col("_span"), "UTF-8")))
    val firsts = spans
      .groupBy(col("_h"))
      .agg(min(struct(col("_id"), col("_idx"))).as("_first"))
      .select(col("_h"), col("_first._id").as("_fid"),
        col("_first._idx").as("_fidx"))
    spans.join(firsts, Seq("_h"))
      .withColumn("_keep",
        col("_id") === col("_fid") && col("_idx") === col("_fidx"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("_keep"), 1).otherwise(0)).cast("long").as("n_kept"),
        md5(encode(array_join(
          transform(
            array_sort(collect_list(when(col("_keep"),
              struct(col("_idx"), col("_span"))))),
            s => s.getField("_span")),
          " "), "UTF-8")).as("clean_hash"))
      .select(col("_id").as(idCol), col("n_spans"), col("n_kept"),
        col("clean_hash"))
  }

  /** EXACT-substring duplicate detection (the suffix-array variant of
    * Lee et al. 2022, reformulated as a stride-1 shingle chain): a
    * sliding `span`-word window at EVERY word offset, so any
    * duplicated substring of >= span words is caught REGARDLESS of
    * alignment — the guarantee [[spanDedup]]'s fixed 16-word blocks
    * quantize away (a duplicate straddling two block boundaries hashes
    * into different blocks in each copy and is missed). A window
    * instance is a duplicate iff the identical window text occurs
    * earlier (min (doc_id, pos) struct, same rule as spanDedup).
    * Output per doc: window count, duplicate-window count, and
    * `dup_cov` — the number of word positions covered by at least one
    * duplicated window (the text Lee et al. would cut), computed as
    * the interval-union length of the sorted duplicate offsets
    * (sum of min(span, gap to next) with span for the last).
    *
    * Scale shape: same as spanDedup with a denser explode — stride 1
    * hashes ~span x more window instances, but they reduce MAP-SIDE in
    * the same partial-aggregatable min-struct agg (one row per
    * DISTINCT window text crosses the exchange; corpus-wide boilerplate
    * still reduces to one row), the verdict join stays an unhinted
    * equi-join on the window hash, and the coverage union is computed
    * inside the per-doc regroup from offsets the doc already owns —
    * no window function, no per-position explode.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     span: Int = 8): DataFrame = {
    require(span >= 1, "span must be positive")
    val wins = df
      .select(col(idCol).as("_id"), TextOps.unicodeTokens(col(textCol)).as("_ws"))
      .withColumn("_n", size(col("_ws")))
      .filter(col("_n") >= span)
      .select(col("_id"), posexplode(
        transform(sequence(lit(0), col("_n") - span),
          i => array_join(slice(col("_ws"), i + 1, lit(span)), " ")))
        .as(Seq("_q", "_win")))
      .withColumn("_h", md5(encode(col("_win"), "UTF-8")))
      .select(col("_id"), col("_q").cast("long").as("_q"), col("_h"))
    val firsts = wins
      .groupBy(col("_h"))
      .agg(min(struct(col("_id"), col("_q"))).as("_first"))
      .select(col("_h"), col("_first._id").as("_fid"),
        col("_first._q").as("_fq"))
    wins.join(firsts, Seq("_h"))
      .withColumn("_dup",
        !(col("_id") === col("_fid") && col("_q") === col("_fq")))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("_dup"), 1).otherwise(0)).cast("long").as("n_dup"),
        sort_array(collect_list(when(col("_dup"), col("_q")))).as("_dq"))
      .withColumn("dup_cov",
        when(size(col("_dq")) === 0, lit(0L)).otherwise(expr(
          s"""aggregate(sequence(0, size(_dq) - 1), CAST(0 AS BIGINT),
             |  (acc, i) -> acc + IF(i = size(_dq) - 1,
             |    CAST($span AS BIGINT),
             |    least(CAST($span AS BIGINT), _dq[i + 1] - _dq[i])))""".stripMargin)))
      .select(col("_id").as(idCol), col("n_windows"), col("n_dup"),
        col("dup_cov"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate pruning over an embedding column. K-means clusters
    * partition the corpus; pairwise cosine is computed ONLY within a
    * cluster (the paper's trick that kills the all-pairs matrix); each
    * duplicate relation keeps the member FARTHER from its cluster
    * centroid — the paper's keep-the-atypical rule, made deterministic
    * here by the total priority order (centroid-cosine asc, id asc). A
    * vector is dropped iff some same-cluster neighbor at cosine ≥
    * `minCos` has strictly higher keep-priority, so every τ-clique
    * keeps exactly its most atypical member and chains prune greedily
    * (a-b-c with cos(a,c) < τ still keeps only the top-priority member,
    * like the paper's greedy set construction).
    *
    * Output: (idCol, cell, cent_cos_fp, keep) — one row per vector.
    *
    * Scale shape: the fit is [[Ann.kmeansFit]]'s one-shuffle-per-
    * iteration on a sample; assignment is map-side against literal
    * centroids; the within-cluster self-join is an ordinary hash
    * equi-join on the cell id. k is the blocking knob: it scales with
    * the corpus so the expected cluster stays bounded (the paper runs
    * 50k clusters on LAION) — per-cluster pair cost is Σ|c|², and the
    * cell id doubles as the write-time partition column, so the join
    * never shuffles the corpus twice.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               minCos: Double, k: Int = 16, iters: Int = 2,
               centroids: Option[DataFrame] = None): DataFrame = {
    graft.functions.Functions.install(df.sparkSession)
    val cents = centroids.getOrElse(Ann.kmeansFit(df, idCol, vecCol, k, iters))
    val centRows = cents
      .select(col(idCol).cast("int"), Ann.asDouble(col(vecCol)))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(centRows.map(_._1).toSeq == centRows.indices.toSeq,
      "centroid ids must be dense 0..k-1")
    val centArr = typedLit(centRows.map(_._2.toSeq).toSeq)
    val assigned = Ann.assignCells(df, cents, idCol, vecCol, "cell")
    // kmeansFit centroids are unit-norm, so cos(x, centroid) = ⟨x,c⟩/‖x‖
    val xd = Ann.asDouble(col(vecCol))
    val nrm = sqrt(aggregate(transform(xd, x => x * x),
      lit(0.0), (a, x) => a + x))
    val cdot = dotpC(xd, element_at(centArr, col("cell") + 1))
    val base = assigned.select(
      col(idCol).cast("long").as("_id"), col(vecCol).as("_v"), col("cell"),
      fp6(when(nrm > 0, cdot / nrm).otherwise(lit(0.0))).as("cent_cos_fp"))
    val a = base.select(col("cell"), col("_id").as("_xa"),
      col("_v").as("_va"), col("cent_cos_fp").as("_pa"))
    val b = base.select(col("cell"), col("_id").as("_xb"),
      col("_v").as("_vb"), col("cent_cos_fp").as("_pb"))
    val dropped = a.join(b, Seq("cell"))
      .filter((col("_pb") < col("_pa")) ||
        (col("_pb") === col("_pa") && col("_xb") < col("_xa")))
      .filter(cosineFFC(col("_va"), col("_vb")) >= lit(minCos))
      .select(col("_xa").as("_did")).distinct()
    base.join(dropped, base("_id") === dropped("_did"), "left")
      .select(col("_id").as(idCol), col("cell"), col("cent_cos_fp"),
        col("_did").isNull.as("keep"))
  }
}
