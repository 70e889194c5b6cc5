package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph propagation over near-duplicate / similarity edge lists —
  * the "quality flows along the graph" tool (web-graph centrality for
  * crawl prioritization, quality propagation across near-dup clusters,
  * SEO-spam demotion), Pregel-style: one hash-join + one hash-agg per
  * superstep, edge-partitioned, no driver data beyond the node count.
  */
object Graph {

  /** Fixed-iteration PageRank over an undirected edge list, computed
    * ENTIRELY in fp6 integer arithmetic so the result is bit-exact
    * under any partition/merge order and exactly replayable by any
    * engine with 64-bit integers:
    *
    *   r⁰(v)   = 10⁶ div n
    *   contrib = r(u) div deg(u)                  (integer floor)
    *   rᵗ⁺¹(v) = (0.15·10⁶ div n) + (17·Σcontrib div 20)
    *
    * (damping 17/20 = 0.85 as a rational; every op is a long add,
    * multiply, or floor-div — no float ever enters, so there is no
    * summation-order question AT ALL, stronger than the quantize-
    * after-sum trick elsewhere). Each floor loses < 1 fp6 unit, and
    * per step the aggregate leak is < 2n + 0.85·(D − n) units of 10⁶
    * (D = directed edge count: the teleport and damping floors lose
    * < 1 per node, and node u's contribution split loses ≤ deg(u) − 1
    * across its out-edges) — PipelineSpec pins the bound per
    * superstep. Irrelevant for ranking and fully deterministic;
    * production float PageRank would quantize per superstep the same
    * way to stay replayable.
    *
    * Scale shape: the Pregel-lite loop — per iteration, one equi-join
    * of the directed edge list against the rank table on the source
    * (AQE broadcasts small rank tables) and one partial-aggregatable
    * sum per destination. Iterations are FIXED (default 5): a static
    * plan chain, no convergence loop; the node count arrives as a
    * broadcast one-row frame. The edge-list/degree subtrees are cached
    * until the result's first execution ([[graft.CacheUtil.result]]);
    * PlanShapeSpec pins their InMemoryTableScan reads.
    *
    * Nodes are the edge endpoints (an isolated document simply keeps
    * no rank row — rank flows along edges by definition). In an
    * undirected graph every node with an edge has inbound mass, but
    * the final assembly still left-joins + coalesces so a directed
    * edge list with sinks would not silently drop nodes.
    */
  def pageRank(edges: DataFrame, aCol: String, bCol: String,
               iters: Int = 5): DataFrame =
      graft.CacheUtil.result { scope =>
    require(iters >= 0 && iters <= 50, "iters must be in [0, 50]")
    val undRaw = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
    // Driver fast path (round 22; the [[graft.Local]] rule): on a small
    // graph the five supersteps are ~60 stages of 150-250 ms wall with
    // < 10 ms of work each (graph_pagerank 3.7 s warm on 2k edges).
    // When the directed Long edges fit the Local budget at two longs an
    // edge, the edge list is cached and counted by the `Local.rows`
    // probe, then collects ONCE from the cache as primitive long[] per
    // partition, and the loop runs in memory. A zero budget skips the
    // probe.
    // Bit-identical: the same long add / multiply / floor-div over the
    // same multiset (integer sums commute), pinned by PipelineSpec's
    // fast-vs-distributed test. Other key types and null endpoints take
    // the distributed path; a 100 TB corpus's edge list exceeds the
    // budget by orders of magnitude.
    val longKeyed = graft.Local.budget > 0 &&
      undRaw.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)
    // over the budget the distributed branch reuses the cache and the
    // count: scale pays ONE pass for the probe + sizing
    val knownCount = if (longKeyed) graft.Local.rows(scope.cache(undRaw)) else -1L
    val parts = if (longKeyed && graft.Local.fits(2 * knownCount)) collectEdges(undRaw) else null
    if (parts != null) scope.release(undRaw)
    if (parts != null && parts.forall(_._3))
      pageRankLocal(edges.sparkSession, parts, iters,
        nodeNullable = undRaw.schema.fields.exists(_.nullable))
    // null endpoints take the distributed path too (its join/groupBy
    // null semantics are the contract), without the released cache
    else pregel(scope, undRaw, if (parts == null) knownCount else -1L, iters)
  }

  /** Per partition: (src, dst) as primitive arrays, and "no null endpoint". */
  private def collectEdges(und: DataFrame): Array[(Array[Long], Array[Long], Boolean)] = {
    val spark = und.sparkSession
    import spark.implicits._
    graft.Local.collect(und) { it =>
      val (src, dst) = (Array.newBuilder[Long], Array.newBuilder[Long])
      var ok = true
      it.foreach(r => if (r.isNullAt(0) || r.isNullAt(1)) ok = false
        else { src += r.getLong(0); dst += r.getLong(1) })
      (src.result(), dst.result(), ok)
    }
  }

  /** The distributed Pregel loop over the directed edge list `undRaw`
    * (`knownCount` = its row count when already probed, else -1).
    */
  private def pregel(scope: graft.CacheUtil.Scope, undRaw: DataFrame,
                     knownCount: Long, iters: Int): DataFrame = {
    // Truncate, then cache. The edge list is the output of an
    // expensive kNN/similarity stage whose plan every superstep would
    // embed twice (und + deg): round 14 measured 4-5 s of planning per
    // action on a 200-node graph. A reliable checkpoint (cache, eager
    // checkpoint, release the pre-image: the dupClusters pattern) cuts
    // the superstep plan to a scan and survives executor loss (point
    // `setCheckpointDir` at durable storage; local runs get a temp
    // dir). und/deg are read by EVERY superstep, and exchange reuse
    // does not cross AQE replans: without the caches the ×100 probe
    // recomputed the edge stage ~10× (531 s, SURVEY §4). Both are
    // bounded (2·|E| and n rows), as in GraphX's Pregel.
    val und = if (iters >= 1) {
      graft.CacheUtil.ensureCheckpointDir(undRaw.sparkSession)
      scope.cache(undRaw)
      // size by the edge count, not by the upstream stage's
      // partitioning; the count reads the just-built cache
      val sized = undRaw.coalesce(graft.Width.state(undRaw,
        if (knownCount >= 0) knownCount else undRaw.count()))
      val cp = sized.checkpoint(eager = true)
      scope.release(undRaw)
      scope.cache(cp)
    } else undRaw
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    if (iters >= 1) scope.cache(deg)
    val nF = broadcast(deg.agg(count(lit(1)).as("n")))
    var ranks = deg.crossJoin(nF)
      .select(col("src").as("node"), expr("1000000L div n").as("r_fp"))
    for (_ <- 0 until iters) {
      val contribs = und
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst"), expr("r_fp div deg").as("_c"))
      val sums = contribs.groupBy(col("dst")).agg(sum(col("_c")).as("_s"))
      ranks = deg.crossJoin(nF)
        .join(sums.withColumnRenamed("dst", "src"), Seq("src"), "left")
        .select(col("src").as("node"),
          (expr("150000L div n") +
            expr("(17L * coalesce(_s, 0L)) div 20")).as("r_fp"))
    }
    ranks.join(deg.withColumnRenamed("src", "node"), Seq("node"))
      .select(col("node"), col("deg"), col("r_fp"))
  }

  /** In-memory Pregel loop over the collected directed edge list —
    * exactly the distributed recurrence (r⁰ = 10⁶ div n; contrib =
    * r div deg; rᵗ⁺¹ = 150000 div n + 17·Σ div 20), all long
    * arithmetic, so the ranks are bit-identical to any distributed
    * merge order. The edges carry BOTH orientations (the caller's
    * union), so the node set is the distinct sources, every
    * destination among them, and the degree multiset matches the
    * distributed groupBy exactly, self-loops and duplicate edges
    * included.
    */
  private def pageRankLocal(spark: org.apache.spark.sql.SparkSession,
                            parts: Array[(Array[Long], Array[Long], Boolean)],
                            iters: Int, nodeNullable: Boolean): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val nE = parts.map(_._1.length).sum
    // node index: position in the sorted distinct sources
    val nodes = new Array[Long](nE)
    var i = 0
    parts.foreach { case (s, _, _) => System.arraycopy(s, 0, nodes, i, s.length); i += s.length }
    java.util.Arrays.sort(nodes)
    var n = 0
    i = 0
    while (i < nE) {
      if (n == 0 || nodes(i) != nodes(n - 1)) { nodes(n) = nodes(i); n += 1 }
      i += 1
    }
    val (srcI, dstI) = (new Array[Int](nE), new Array[Int](nE))
    i = 0
    parts.foreach { case (s, d, _) =>
      var j = 0
      while (j < s.length) {
        srcI(i) = java.util.Arrays.binarySearch(nodes, 0, n, s(j))
        dstI(i) = java.util.Arrays.binarySearch(nodes, 0, n, d(j))
        i += 1; j += 1
      }
    }
    val deg = new Array[Long](n)
    i = 0; while (i < nE) { deg(srcI(i)) += 1L; i += 1 }
    val ranks = Array.fill(n)(1000000L / n)
    var t = 0
    while (t < iters) {
      val sums = new Array[Long](n)
      i = 0
      while (i < nE) {
        sums(dstI(i)) += ranks(srcI(i)) / deg(srcI(i)); i += 1
      }
      var v = 0
      while (v < n) { ranks(v) = 150000L / n + 17L * sums(v) / 20L; v += 1 }
      t += 1
    }
    val schema = StructType(Seq(
      StructField("node", LongType, nullable = nodeNullable),
      StructField("deg", LongType, nullable = false),
      StructField("r_fp", LongType, nullable = true)))
    spark.createDataFrame(java.util.Arrays.asList(
      Array.tabulate[Row](n)(v => Row(nodes(v), deg(v), ranks(v))): _*), schema)
  }
}
