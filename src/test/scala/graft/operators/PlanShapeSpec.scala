package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Shuffle-count regression guard: the scale story of every operator
  * is its exchange count (SURVEY §4 — "one shuffle per signal op",
  * etc.). These tests pin the number of hash exchanges in the
  * physical plan so a future edit cannot silently add a shuffle the
  * way round 4's countDistinct change added an Expand + exchange.
  * Counts are read from the pre-execution plan (AQE's initial plan) —
  * deterministic for a fixed Spark version and input shape.
  */
class PlanShapeSpec extends SparkTestBase {
  import spark.implicits._

  private def hashExchanges(df: DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  private lazy val series =
    (for (k <- 0 until 3; i <- 0 until 64) yield (k, i.toDouble, math.sin(i + k)))
      .toDF("k", "t", "v")

  private lazy val docs =
    (1L to 20L).map(i => (i, (1 to 50).map(j => s"w${i % 4}_$j").mkString(" ")))
      .toDF("doc_id", "text")

  test("unigram: encode is map-side (ZERO shuffles); train pays only the histogram agg") {
    import graft.operators.TextOps
    val m = TextOps.unigramTrain(docs, "text", maxLen = 3,
      seedDivisor = 4L, keepMulti = 4) // fit on the same corpus: full coverage
    // encode: vocab rides as literals, kernel per word — no exchange
    assert(hashExchanges(TextOps.unigramEncode(docs, "text", m)) == 0,
      "unigram encode must be a zero-shuffle map-side plan")
    // the fit's only corpus-sized stage is ONE partial-aggregated
    // histogram shuffle (the collect-a-model contract): pin the
    // histogram frame's plan, not the driver loop
    val hist = docs
      .select(explode(filter(split(col("text"), "\\s+"),
        w => length(w) > 0)).as("word"))
      .groupBy("word").agg(count(lit(1)))
    assert(hashExchanges(hist) == 1)
  }

  test("signal ops make exactly one hash shuffle") {
    assert(hashExchanges(Signal.rfft(series, Seq("k"), "t", "v")) == 1)
    assert(hashExchanges(Signal.sosfilt(graft.dsp.Design.butterSos(2, 0.4),
      series, Seq("k"), "t", "v")) == 1)
    val grid = series
      .withColumn("d1", expr("CAST(t AS INT) div 8"))
      .withColumn("d2", expr("CAST(t AS INT) % 8"))
    assert(hashExchanges(Signal.fftconvolveNd(grid, Seq("k"), Seq("d1", "d2"),
      "v", Array(1.0, 0.5), Array(1, 2))) == 1)
    // batch STFT: windows explode map-side from the one grouped pass
    assert(hashExchanges(Signal.stft(series, Seq("k"), "t", "v", 16, 8)) == 1)
    assert(hashExchanges(Signal.spectrogram(series, Seq("k"), "t", "v", 16, 14)) == 1)
    // detrend + welch: one kernel call on the seriesified array — the
    // welch segment loop must NOT become a per-segment explode+agg
    assert(hashExchanges(Signal.detrend(series, Seq("k"), "t", "v")) == 1)
    assert(hashExchanges(Signal.welch(series, Seq("k"), "t", "v",
      nperseg = 16, fs = 2.0)) == 1)
    assert(hashExchanges(Signal.medfilt(series, Seq("k"), "t", "v", 5)) == 1)
    assert(hashExchanges(Signal.wiener(series, Seq("k"), "t", "v", 5)) == 1)
    assert(hashExchanges(Signal.savgol(series, Seq("k"), "t", "v")) == 1)
    assert(hashExchanges(Signal.upfirdn(series, Seq("k"), "t", "v",
      Array(0.5, 1.0, 0.5), 3, 2)) == 1)
    assert(hashExchanges(Signal.resamplePoly(series, Seq("k"), "t", "v", 3, 2)) == 1)
    assert(hashExchanges(Signal.interpGrid(series, Seq("k"), "t", "v", 2.0, 16)) == 1)
    assert(hashExchanges(Signal.periodogram(series, Seq("k"), "t", "v")) == 1)
    // csd/coherence: BOTH channels pack in the one seriesify pass —
    // adding a second value column must not add a join or a shuffle
    val series2 = series.withColumn("v2", col("v") * 2)
    assert(hashExchanges(Signal.csd(series2, Seq("k"), "t", "v", "v2",
      nperseg = 16, fs = 2.0)) == 1)
    assert(hashExchanges(Signal.coherence(series2, Seq("k"), "t", "v", "v2",
      nperseg = 16, fs = 2.0)) == 1)
    // cwt: all widths convolve in the one kernel call — widths must not
    // become a per-width explode+agg round trip
    assert(hashExchanges(Signal.cwt(series, Seq("k"), "t", "v",
      Array(1.0, 2.0))) == 1)
    // lombscargle: the whole frequency grid from one grouped pass
    assert(hashExchanges(Signal.lombscargle(series, Seq("k"), "t", "v",
      Array(0.5, 1.0))) == 1)
    // dct/dst: same seriesify shape; the matched-norm roundtrip reuses
    // the forward pass's partitioning like stft→istft
    assert(hashExchanges(Signal.dct(series, Seq("k"), "t", "v")) == 1)
    assert(hashExchanges(Signal.idst(
      Signal.dst(series, Seq("k"), "t", "v"), Seq("k"), "pos", "value")) == 1)
    // fftNd: ONE multi-value gridify shuffle carries re AND im; the
    // inverse's regroup reuses the forward's partitioning
    val fgrid = series
      .withColumn("d1", expr("CAST(t AS INT) div 8"))
      .withColumn("d2", expr("CAST(t AS INT) % 8"))
    assert(hashExchanges(Signal.fftNd(fgrid, Seq("k"), Seq("d1", "d2"), "v")) == 1)
    assert(hashExchanges(Signal.medfilt2d(fgrid, Seq("k"), "d1", "d2", "v")) == 1)
    // deconvolve: the seriesify shuffle only; vectorstrength is a
    // plain two-phase agg (1); waveform synthesis is pure map-side (0)
    assert(hashExchanges(Signal.deconvolve(series, Seq("k"), "t", "v",
      Array(1.0, 0.5))) == 1)
    assert(hashExchanges(Signal.vectorstrength(series, Seq("k"), "t", 8.0)) == 1)
    assert(hashExchanges(Signal.sawtooth(Signal.square(
      Signal.chirp(series, "t", "c1", 0.01, 64.0, 0.05),
      "t", "c2"), "t", "c3")) == 0)
    assert(hashExchanges(Signal.ifftNd(
      Signal.fftNd(fgrid, Seq("k"), Seq("d1", "d2"), "v"),
      Seq("k"), Seq("pos1", "pos2"), "re", "im")) == 1)
  }

  test("rollup is one Expand + one hash-aggregate pass, not per-level re-scans") {
    val df = Seq(("A", "x", 1.0), ("A", "y", 2.0), ("B", "x", 3.0))
      .toDF("rf", "ls", "q")
      .rollup($"rf", $"ls").agg(sum($"q").as("s"))
    val plan = df.queryExecution.executedPlan.toString
    assert("Expand".r.findAllIn(plan).length == 1, "expected a single Expand")
    assert(hashExchanges(df) == 1)
  }

  test("stft -> istft round trip is ONE shuffle total: the regroup reuses stft's partitioning") {
    // stft's map-side window explode leaves the data hash-partitioned
    // by the series keys, so istft's groupBy(keys) needs NO new
    // exchange — Catalyst sees its required distribution satisfied.
    // The analysis->modify->synthesis pipeline therefore costs the
    // same single shuffle as any one signal op.
    val spec = Signal.stft(series, Seq("k"), "t", "v", 16, 8)
    assert(hashExchanges(Signal.istft(spec, Seq("k"), 16, 8)) == 1)
  }

  test("complex convolve keeps the one-shuffle signal-op shape") {
    val cx = series.select($"k", $"t", $"v".as("re"), ($"v" * 0.5 + 1.0).as("im"))
    val kdf = Seq((0.0, 0.5, -0.2), (1.0, 0.3, 0.1)).toDF("t", "re", "im")
    // broadcast kernel: the in1 groupBy is the only hash exchange (the
    // single-row kernel side aggregates into a broadcast, not a hash
    // repartition of in1's lineage)
    assert(hashExchanges(
      Signal.convolveComplex(cx, kdf, Seq("k"), "t", "re", "im")) == 1)
    // keyed in2: one groupBy per side, joined on the shared keys
    val kdf2 = series.select($"k", $"t", ($"v" * 0.5).as("re"), ($"v" * 0.1).as("im"))
      .filter($"t" < 2)
    assert(hashExchanges(
      Signal.correlateComplex(cx, kdf2, Seq("k"), "t", "re", "im")) <= 2)
  }

  test("convolveLong pays two hash shuffles (length agg + chunk pipeline)") {
    // one exchange for the per-key length aggregate (broadcast-joined
    // back), one for the window/chunk pipeline; the chunk groupBy
    // reuses the window's partitioning
    assert(hashExchanges(Signal.convolveLong(series, Seq("k"), "t", "v",
      Array(0.5, 0.5), chunkSize = 32)) == 2)
  }

  test("sampling/coverage shuffle budget: rates=0, quota=1, common-ngrams=4") {
    val strat = docs.withColumn("lang", expr("CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END"))
    // pure map-side filter: the whole point of hash-threshold sampling
    assert(hashExchanges(
      TextOps.sampleByRates(strat, "doc_id", "lang", Seq("a" -> 0.5))) == 0)
    // one partial-aggregated groupBy(stratum); corpus never shuffles
    assert(hashExchanges(
      TextOps.quotaSample(strat, "doc_id", "lang", 3)) == 1)
    // shingle repartition(id) (reused by the groupBy(id,s) occurrence
    // agg), groupBy(s) for doc-frequency, the flag join's probe-side
    // exchange on s, and the single per-doc aggregate — the doc-spine
    // left join reuses the aggregate's hash(id) partitioning
    assert(hashExchanges(
      TextOps.commonNgramCoverage(docs, "doc_id", "text")) == 4)
    // pure map-side column transforms: scrubbing and rule evaluation
    // must stay scan-bound
    assert(hashExchanges(TextOps.piiScrub(docs, "text")) == 0)
    assert(hashExchanges(TextOps.gopherRules(docs, "text")) == 0)
    // contamination: corpus shingle repartition + occurrence agg reuse,
    // bench distinct, flag join probe, per-doc agg (same budget as
    // commonNgramCoverage, bench side replacing the doc-frequency agg)
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val contam = TextOps.contamination(docs, "doc_id", "text", bench, "doc_id", "text")
    assert(hashExchanges(contam) <= 5)
    assert(!contam.queryExecution.executedPlan.toString.contains("NestedLoop"),
      "contamination must not plan as a nested loop")
    // tfidf: tf agg, df agg, term join, rank window — bounded exchange
    // budget; the ONE BroadcastNestedLoopJoin is the deliberate 1-row
    // broadcast of N (crossJoin with a single-row aggregate), nothing else
    val tfidf = TextOps.tfidf(docs, "doc_id", "text", topK = 3)
    assert(hashExchanges(tfidf) <= 5)
    val nl = "NestedLoop".r.findAllIn(tfidf.queryExecution.executedPlan.toString).length
    assert(nl <= 1, s"tfidf has $nl nested loops (only the 1-row N broadcast is allowed)")
    // heavy hitters must plan the bounded-heap top-k, not a global sort
    val top = TextOps.topWords(docs, "text", 5)
    assert(top.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "topWords must plan TakeOrderedAndProject")
  }

  test("BPE: encode is one shuffle; tokenize map-side; train argmax is TakeOrdered") {
    val merges = Array(("w", "1"), ("w1", "_"))
    // encode: word explode + kernel are map-side; the only exchange is
    // the per-doc count aggregation
    assert(hashExchanges(
      TextOps.bpeEncodeCounts(docs, "text", "doc_id", merges)) == 1)
    // full tokenization never shuffles — it's the production map-side path
    assert(hashExchanges(TextOps.bpeTokenize(docs, "text", merges)) == 0)
    // ...and so does id-level encoding (vocab rides as a literal map)
    assert(hashExchanges(TextOps.bpeEncodeIds(docs, "text", "doc_id", merges)) == 0)
    // the training argmax must plan the bounded top-1, not a global sort
    // (same TakeOrdered shape the 1-row collect rides in bpeTrain)
    val pairCount = docs
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(1)
    assert(pairCount.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "orderBy+limit(1) must plan TakeOrderedAndProject")
  }

  test("IVF cell layout: probe-side parquet scan prunes cell partitions") {
    // the 100 TB ANN story: corpus written partitioned by the trained
    // cell id; a probe reading nProbe cells must touch only those
    // partition directories, not the corpus
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => (if (d == (i % 4).toInt) 10f else 0f) +
        ((i * 8 + d) % 7).toFloat * 0.1f))
    }.toDF("vec_id", "embedding")
    val cents = Ann.kmeansFit(vecs, "vec_id", "embedding", k = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_cells").toString
    Ann.assignCells(vecs, cents, "vec_id", "embedding")
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val probed = spark.read.parquet(dir).filter(col("cell").isin(0, 2))
    val scans = probed.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // the cell predicate becomes a partition filter (pruned at planning,
    // not a data filter applied after reading everything)
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters.exists(_.toString.contains("cell")))
    probed.collect() // execute this plan so the scan metrics populate
    val totalFiles = spark.read.parquet(dir).inputFiles.length
    val readFiles = scans.head.metrics("numFiles").value
    assert(readFiles > 0 && readFiles < totalFiles,
      s"pruned scan read $readFiles of $totalFiles files")
  }

  test("asofJoin is one hash shuffle; packChunks three (sums, bucket window, span join)") {
    val left = (0L until 40L).map(i => (i % 4, i.toDouble, i * 0.5)).toDF("k", "t", "lv")
    val right = (0L until 8L).map(i => (i % 4, i.toDouble * 3, i * 1.0)).toDF("k", "t", "snap")
    // tagged union + one window pass: a single exchange on the keys —
    // the whole point vs a range join
    assert(hashExchanges(AsOf.asofJoin(left, right, Seq("k"), "t", Seq("snap"))) == 1)
    val toks = (1L to 30L).map(i => (i, i % 7)).toDF("id", "n")
    // two-level distributed prefix sum (VERDICT r8 #5): bucket +
    // superbucket aggs, superbucket-/bucket-partitioned cumsum
    // windows, offset joins — and EXACTLY ONE single-partition
    // exchange, the superbucket cumsum whose input is
    // nDocs/(bucketSpan*superFan) rows (the bounded sequential point
    // of any parallel prefix sum). No driver collect anywhere: the
    // whole offset computation is plan nodes.
    val pc = TextOps.packChunks(toks, "id", "n", ctxLen = 16,
      bucketSpan = 2, superFan = 2) // 15 buckets, 8 superbuckets
    assert(hashExchanges(pc) <= 5)
    val planStr = pc.queryExecution.executedPlan.toString
    val singles = "SinglePartition".r.findAllIn(planStr).length
    assert(singles == 1,
      s"expected exactly one single-partition exchange (superbucket cumsum), got $singles")
  }

  test("bounded single-partition contract (VERDICT r12 #4): packChunks " +
    "moves ONLY superbucket sums through its one single-partition " +
    "exchange; dedup_edit's pipeline plans none at all") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    def singlePartExchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
      allNodes(df.queryExecution.executedPlan).collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning == SinglePartition ||
            e.outputPartitioning.numPartitions == 1 => e
      }
    // 1000 docs, bucketSpan=4, superFan=4 -> 250 buckets, 63
    // superbuckets: the ONLY rows allowed onto a single partition are
    // the superbucket sums — the WindowExec "no partition defined"
    // warning this stage sprays is bounded BY MEASUREMENT, not prose,
    // so a refactor that unbounds the window breaks here
    val toks = (0L until 1000L).map(i => (i, i % 5)).toDF("id", "n")
    val pc = TextOps.packChunks(toks, "id", "n", ctxLen = 16,
      bucketSpan = 4, superFan = 4)
    pc.collect()
    val singles = singlePartExchanges(pc)
    assert(singles.nonEmpty, "expected the superbucket cumsum exchange")
    val moved = singles.map(_.metrics("shuffleRecordsWritten").value)
    assert(moved.forall(_ <= 63),
      s"single-partition exchange carried $moved rows; superbucket bound is 63")
    // dedup_edit (candidates -> banded levenshtein verify -> the
    // deliberate repartition(1) + sortWithinPartitions tail): the
    // single-partition exchange may carry ONLY the verified-pair
    // verdict rows — never the upstream shingle/pair explosion
    val ev = Dedup.editVerify(docs, "doc_id", "text",
      Dedup.simhashPairs(docs, "doc_id", "text", maxHam = 3), maxEdits = 32)
      .repartition(1).sortWithinPartitions("a", "b")
    val nOut = ev.count()
    val evSingles = singlePartExchanges(ev)
    assert(evSingles.nonEmpty, "expected the deliberate terminal repartition(1)")
    val evMoved = evSingles.map(_.metrics("shuffleRecordsWritten").value)
    assert(evMoved.forall(_ <= nOut),
      s"dedup_edit single-partition exchange carried $evMoved rows; " +
        s"only the $nOut verdict rows are allowed")
  }

  test("intervalJoin is an equi-join, never a nested loop") {
    val left = (0L until 30L).map(i => (i % 3, i.toDouble, i)).toDF("k", "t", "lid")
    val right = (0L until 6L).map(i => (i % 3, i * 4.0, i * 4.0 + 5.0, i)).toDF("k", "s", "e", "rid")
    val plan = RangeJoin.intervalJoin(left, right, Seq("k"), "t", "s", "e", 5.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), "containment must not plan as a nested loop")
    assert(plan.contains("Join"), "bucketized containment is a real equi-join")
  }

  test("dedup shuffle budget: exact=1, simhash pairs=1, minhash candidates=3") {
    assert(hashExchanges(Dedup.exact(docs, "doc_id", "text")) == 1)
    // one shared shuffle for all 20 Manku block tables
    assert(hashExchanges(Dedup.simhashPairs(docs, "doc_id", "text")) == 1)
    // repartition(id) (shingle materialization, reused by the minhash
    // groupBy) + band-bucket groupBy + final pair distinct
    assert(hashExchanges(Dedup.minhashCandidates(docs, "doc_id", "text")) == 3)
  }

  test("PQ: encode is map-side (0 shuffles); ADC top-k pays only the TopKAgg exchange") {
    val vecs = (0L until 64L)
      .map(i => (i, Array.tabulate(16)(j => ((i * 7 + j) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    val cb = Ann.pqFit(vecs, "vec_id", "embedding", nSub = 4, kSub = 4, iters = 1)
    // write-time encoding: pure projection against codebook literals
    assert(hashExchanges(Ann.pqEncode(vecs, cb, "vec_id", "embedding")) == 0)
    val topk = Ann.topkPq(vecs, vecs.filter($"vec_id" < 3), "vec_id",
      "embedding", k = 2, codebooks = Some(cb))
    // corpus never shuffles: queries broadcast with their lookup
    // tables, TopKAgg partial-aggregates to k per partition, and the
    // ONE hash exchange carries O(k × partitions) candidate rows
    assert(hashExchanges(topk) == 1)
    assert(topk.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"), "query side must broadcast")
  }

  test("spanDedup: no window over span groups; agg + join + regroup budget") {
    val out = Dedup.spanDedup(docs, "doc_id", "text", span = 4)
    val plan = out.queryExecution.executedPlan.toString
    // first-occurrence is a min-struct AGG keyed on the span hash —
    // a window over the span group would put a mega-duplicated
    // boilerplate span's every occurrence into one task
    assert(!plan.contains("Window"), s"window over span groups:\n$plan")
    assert(hashExchanges(out) <= 4,
      s"spanDedup shuffle budget exceeded: ${hashExchanges(out)}")
    // duplicated content dedups: docs share w<k>_j word streams by
    // i % 4, so later docs lose their shared spans to earlier ones
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.length == 20)
    val firstOfEachClass = rows.filter(_._1 <= 4)
    assert(firstOfEachClass.forall { case (_, n, kept) => kept == n },
      "first doc of each content class must keep all spans")
    assert(rows.filter(_._1 > 4).forall { case (_, _, kept) => kept == 0 },
      "exact-duplicate later docs must keep nothing")
  }

  test("substringDedup catches a straddling duplicate spanDedup misses") {
    // a 20-word phrase planted at offset 16 in doc 1 and offset 5 in
    // doc 2: doc 2's copy is misaligned w.r.t. spanDedup's fixed
    // 16-word blocks, so every block of each doc hashes uniquely and
    // spanDedup sees NO duplication. The stride-1 window chain is
    // alignment-free: doc 2's phrase yields 13 duplicate 8-word
    // windows whose interval union covers exactly the 20 words.
    val phrase = (0 until 20).map(i => s"dup$i").mkString(" ")
    val f1 = (0 until 16).map(i => s"aaa$i").mkString(" ")
    val f2 = (0 until 5).map(i => s"bbb$i").mkString(" ")
    val t1 = (0 until 7).map(i => s"ccc$i").mkString(" ")
    val docs2 = Seq(
      (1L, s"$f1 $phrase $t1"),
      (2L, s"$f2 $phrase $t1")).toDF("doc_id", "text")
    val spans = Dedup.spanDedup(docs2, "doc_id", "text", span = 16)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(spans.forall { case (_, (n, kept)) => kept == n },
      s"spanDedup must MISS the straddling duplicate here: $spans")
    val sub = Dedup.substringDedup(docs2, "doc_id", "text", span = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (_, nDup1, _) = sub(1L)
    val (_, nDup2, cov2) = sub(2L)
    assert(nDup1 == 0L, s"doc 1 holds the first occurrences: $sub")
    // 20-word phrase -> 13 duplicate windows; shared t1 tail extends
    // the duplicated region to phrase+tail (27 words) minus windows
    // that mix unique filler. Coverage must include the full phrase.
    assert(nDup2 >= 13L && cov2 >= 20L,
      s"substringDedup must catch the straddling duplicate: $sub")
  }

  test("quantileBuckets: the bucketed frame is window-free and shuffle-free") {
    val scored = (1L to 100L).map(i => (i, (i * 13 % 50).toInt))
      .toDF("doc_id", "score")
    val out = TextOps.quantileBuckets(scored, "score")
    // boundaries are collected at BUILD time (bounded control-plane
    // rows); the returned plan must be a pure projection — an ntile
    // window here would drag every row into one task ordering
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in quantileBuckets plan:\n$plan")
    assert(hashExchanges(out) == 0)
    // quartiles of 100 rows: 25 per bucket on distinct-heavy scores
    val sizes = out.groupBy($"bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == Set(0, 1, 2, 3), s"buckets: $sizes")
    assert(sizes.values.sum == 100)
    // monotone: every score in bucket b is <= every score in b+1
    val maxByBucket = out.groupBy($"bucket").agg(max($"score"), min($"score"))
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
    for (b <- 0 until 3)
      assert(maxByBucket(b)._1 <= maxByBucket(b + 1)._2,
        s"bucket $b overlaps ${b + 1}: $maxByBucket")
  }

  test("quantileBuckets: empty / all-null score column fails loudly") {
    // percentile returns NULL with no non-null input; the builder must
    // throw a descriptive error, not NPE (ADVICE r10)
    val empty = Seq.empty[(Long, Double)].toDF("doc_id", "score")
    val e = intercept[IllegalArgumentException] {
      TextOps.quantileBuckets(empty, "score")
    }
    assert(e.getMessage.contains("no non-null values"))
    val allNull = Seq(1L, 2L).toDF("doc_id")
      .withColumn("score", lit(null).cast("double"))
    intercept[IllegalArgumentException] {
      TextOps.quantileBuckets(allNull, "score")
    }
  }

  test("shardByWeight: global rank has NO single-partition window") {
    val weighted = (1L to 200L).map(i => (i, (i * 37 % 91).toInt))
      .toDF("doc_id", "ntok")
    val sharded = TextOps.shardByWeight(weighted, "doc_id", "ntok", 8,
      buckets = 4, sampleKeysPerBucket = 10)
    val plan = sharded.queryExecution.executedPlan.toString
    // the rank window must be partitioned (by the literal-boundary
    // bucket); an empty partitionSpec is the all-rows-to-one-task
    // shape this mechanism exists to avoid
    val winLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("_b")),
      s"unpartitioned window in plan:\n${winLines.mkString("\n")}")
    assert(hashExchanges(sharded) == 1,
      "one full-data shuffle: the bucket window's hash exchange")
    assert(!plan.contains("Exchange rangepartitioning"),
      "no range exchange — the split is literal boundaries in the plan")
    // correctness of the distributed rank vs the single-window rank
    val got = sharded.select($"doc_id", $"rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = weighted.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy($"ntok".desc, $"doc_id")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == want, "distributed rank != ROW_NUMBER oracle")
    // LPT round-robin balance: shard token sums within max(weight)
    val sums = sharded.groupBy($"shard").agg(sum($"ntok").as("s"))
      .collect().map(_.getLong(1))
    assert(sums.max - sums.min <= 90, s"imbalance ${sums.max - sums.min}")
  }

  test("explicit-list pivot is ONE agg pass; multi-distinct is a single Expand") {
    val orders = (0L until 40L)
      .map(i => (s"p${i % 3}", Seq("F", "O", "P")((i % 3).toInt)))
      .toDF("pri", "status")
    // explicit value list => no value-discovery job; the pivot
    // rewrites to two chained two-phase hash aggregates (count by
    // (pri, status), then PivotFirst by pri) — both partial-aggregated
    // map-side, no Expand, input scanned once
    val piv = orders.groupBy($"pri").pivot("status", Seq("F", "O", "P"))
      .agg(count(lit(1)))
    assert(hashExchanges(piv) == 2)
    assert(!piv.queryExecution.executedPlan.toString.contains("Expand"))
    // multi-distinct: one Expand branch per distinct set + the plain
    // aggs, so the input is read ONCE (no per-distinct re-scan)
    val li = (0L until 40L).map(i => (s"f${i % 2}", i % 7, i % 5, i.toDouble))
      .toDF("rf", "pk", "sk", "qty")
    val md = li.groupBy($"rf").agg(
      countDistinct($"pk"), countDistinct($"sk"), sum($"qty"))
    val plan = md.queryExecution.executedPlan.toString
    assert("Expand".r.findAllIn(plan).length == 1, "one Expand, one scan")
  }

  test("semi/anti joins never multiply rows (no inner-join+distinct shape)") {
    val cust = (0L until 20L).map(i => (i, s"seg${i % 3}")).toDF("ck", "seg")
    val urgent = (0L until 30L).map(i => i % 9).toDF("ok")
    val semi = cust.join(urgent, $"ck" === $"ok", "left_semi")
    val anti = cust.join(urgent, $"ck" === $"ok", "left_anti")
    assert(semi.queryExecution.executedPlan.toString.contains("LeftSemi"))
    assert(anti.queryExecution.executedPlan.toString.contains("LeftAnti"))
    // neither plan needs a post-join distinct/aggregate to dedup
    assert(!semi.queryExecution.executedPlan.toString.contains("HashAggregate"))
  }

  test("round-11 op shapes: semDedup equi-join, CMS partial agg, quantize/rotate map-side") {
    val vecs = (0L until 64L)
      .map(i => (i, Array.tabulate(16)(j => ((i * 7 + j) % 13).toFloat - 6f)))
      .toDF("vec_id", "embedding")
    // semDedup: the within-cluster pair work is an ordinary hash
    // EQUI-join on the cell id — never a nested loop (the all-pairs
    // shape the clustering exists to kill)
    val cents = Ann.kmeansFit(vecs, "vec_id", "embedding", k = 4, iters = 1)
    val sem = Dedup.semDedup(vecs, "vec_id", "embedding", minCos = 0.8,
      centroids = Some(cents))
    val semPlan = sem.queryExecution.executedPlan.toString
    assert(!semPlan.contains("NestedLoop"),
      s"semDedup degenerated to a nested loop:\n$semPlan")
    assert(semPlan.contains("SortMergeJoin") || semPlan.contains("ShuffledHashJoin")
      || semPlan.contains("BroadcastHashJoin"), "cell join missing")
    // CmsAgg: the sketch must partial-aggregate (map-side partial_cms
    // before the exchange) so the shuffle carries buffers, not rows
    val cms = docs.select(explode(split(col("text"), " ")).as("w"))
      .agg(graft.functions.CmsAgg.cms(col("w"), 2, 32))
    val cmsPlan = cms.queryExecution.executedPlan.toString
    assert(cmsPlan.contains("partial_graft_cms") ||
      cmsPlan.toLowerCase.contains("partial"),
      s"CMS lost partial aggregation:\n$cmsPlan")
    assert(hashExchanges(cms) <= 1)
    // int8 quantization and the OPQ rotation are pure map-side
    // projections: zero exchanges, scan-shaped at any size
    assert(hashExchanges(Emb.quantizeInt8(vecs, "embedding")) == 0)
    val rot = Array.tabulate(16, 16)((i, j) => if (i == j) 1.0 else 0.0)
    assert(hashExchanges(Ann.opqRotate(vecs, "embedding", rot, "rv")) == 0)
  }

  test("round-11 op shapes: chunk map-side, index aggs partial, NB joins hashed, outlier heap partial") {
    // retrieval chunking is pure map-side — zero exchanges at any size
    assert(hashExchanges(TextOps.chunk(docs, "doc_id", "text")) == 0)
    // inverted index: two hash aggs + stats join, all partial-aggregated,
    // no window anywhere
    val inv = TextOps.invertedIndex(docs, "doc_id", "text")
    val invPlan = inv.queryExecution.executedPlan.toString
    assert(!invPlan.contains("Window"), s"invertedIndex grew a window:\n$invPlan")
    assert(invPlan.toLowerCase.contains("partial"), "index aggs lost partial aggregation")
    // NB classifier: the per-label constants ride a broadcast CROSS
    // join by design (|labels| rows), but the (label, word) MODEL join
    // must be an equi-join — and every nested-loop in the plan must be
    // a Cross build, never an equi-join that degenerated
    val nb = TextOps.nbClassify(docs, "doc_id", "text", "text",
      col("doc_id") % 2 === 0)
    val nbPlan = nb.queryExecution.executedPlan.toString
    assert(nbPlan.contains("SortMergeJoin") || nbPlan.contains("ShuffledHashJoin")
      || nbPlan.contains("BroadcastHashJoin"), s"model equi-join missing:\n$nbPlan")
    nbPlan.linesIterator.filter(_.contains("NestedLoop")).foreach { l =>
      assert(l.contains("Cross"), s"non-cross nested loop:\n$l")
    }
    // kNN outliers: the global top-k cut partial-aggregates (the
    // exchange carries heaps, not the node list)
    val vecs = (0L until 40L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 5 + j) % 11).toFloat - 5f)))
      .toDF("vec_id", "embedding")
    val out = Ann.knnOutliers(vecs, "vec_id", "embedding", k = 2)
    val outPlan = out.queryExecution.executedPlan.toString
    assert(outPlan.contains("partial_graft_topk") ||
      outPlan.toLowerCase.contains("partial"), "outlier top-k lost partial agg")
    // bloom probe stays inside whole-stage codegen (no UDF, no
    // CodegenFallback marker for the probe expression)
    val bits = new Array[Long](64)
    graft.functions.BloomAgg.add(bits, 3, "x".getBytes("UTF-8"))
    // repartition first: a pure projection over a local Seq would be
    // constant-folded into a LocalTableScan and show no codegen at all
    val probe = docs.repartition(2).select(
      graft.functions.BloomAgg.containsC(bits, 3, col("text")).as("h"))
    probe.collect() // finalize the AQE plan so codegen stages are visible
    val probePlan = probe.queryExecution.executedPlan.toString
    // the `*(n)` operator prefix is the whole-stage-codegen marker in
    // the AQE plan rendering — the probe's Project must carry it
    val probeLine = probePlan.linesIterator
      .find(_.contains("graft_bloom_contains")).get
    assert(probeLine.contains("*("),
      s"bloom probe fell out of codegen:\n$probePlan")
  }

  test("grouped top-k: TopKAgg partial-aggregates, one exchange, agrees with the window formulation") {
    val rows = (0L until 300L).map(i => (s"g${i % 4}", i, (i * 37 % 101)))
      .toDF("g", "id", "v")
    val agg = rows.groupBy(col("g"))
      .agg(graft.functions.TopKAgg.topK(col("v"), col("id"), 3).as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("r", "e")))
      .select(col("g"), col("r"), col("e.id").as("id"), col("e.score").as("s"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk") || plan.toLowerCase.contains("partial"),
      s"TopKAgg lost partial aggregation:\n$plan")
    assert(hashExchanges(agg) == 1)
    // exact agreement with the window row_number formulation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v").desc, col("id"))
    val want = rows.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("g"), (col("rn") - 1).as("r"), col("id"), col("v").as("s"))
    assert(agg.exceptAll(want).count() == 0 && want.exceptAll(agg).count() == 0)
  }

  test("saltedJoin: shuffled hash join on (key, salt), no broadcast, result = plain join") {
    // skewed fact: one hot key holds half the rows
    val fact = (0L until 400L)
      .map(i => (if (i % 2 == 0) 7L else i % 50, i, (i % 11).toDouble))
      .toDF("k", "rid", "v")
    val dim = (0L until 50L).map(i => (i, s"n${i % 5}")).toDF("dk", "name")
    val joined = Skew.saltedJoin(fact, dim, "k", "dk", col("rid"), salt = 8)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled hash join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), "salting a broadcast join is pointless")
    assert(plan.contains("_salt"), "salt column missing from join keys")
    // identical multiset of results vs the plain join
    val got = joined.groupBy("name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = fact.join(dim, col("k") === col("dk")).groupBy("name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"salted join changed results: $got vs $want")
    // the hot key genuinely spreads: its rows land in >1 salt bucket
    val buckets = fact.filter(col("k") === 7L)
      .select(pmod(xxhash64(col("rid")), lit(8)).as("b"))
      .distinct().count()
    assert(buckets > 1, "hot key stayed in one salt bucket")
  }

  test("pageRank: supersteps read the edge/degree subtrees from the Pregel cache") {
    // the fixed-iteration chain references the und/deg subtrees once
    // per superstep; pageRank persists both (the GraphX-Pregel cached
    // graph — at scale the edge list is itself an expensive kNN
    // output). Pin InMemoryTableScan in the EXECUTED plan so a plan
    // edit can't silently drop the cache and recompute the edge list
    // per superstep (VERDICT r11 #5; the ×100 probe measured the
    // uncached recompute).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("a", "b")
    // a zero Local budget forces the distributed Pregel path (round 22:
    // small Long-keyed graphs take the driver fast path by default —
    // this test pins the scale path's cached-subtree shape)
    val pr = graft.Local.withBudget(0L)(Graph.pageRank(edges, "a", "b", iters = 3))
    pr.collect()
    val plan = pr.queryExecution.executedPlan.toString
    val cached = "InMemoryTableScan".r.findAllIn(plan).length
    // und is read by every superstep's contribution join, deg by every
    // re-rank + the final assembly: 3 iterations -> >= 6 cache reads
    assert(cached >= 6,
      s"expected >= 6 InMemoryTableScan reads across 3 supersteps, got $cached:\n" +
        plan.take(2000))
  }
}
