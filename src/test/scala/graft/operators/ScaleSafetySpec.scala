package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** Scale-safety internals: the partition-width rule (graft.Width) at
  * its call sites — a wide input is never narrowed and a builder runs
  * no job to size it — and the EM partial-count merge kernel
  * (Unigram.mergePartials) that backs the executor-side treeReduce.
  */
class ScaleSafetySpec extends SparkTestBase {
  import spark.implicits._

  private def exchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length

  private def dp: Int = spark.sparkContext.defaultParallelism

  private def docsOf(numPartitions: Int): DataFrame =
    spark.range(0, 400, 1, numPartitions)
      .selectExpr("id AS doc_id", "concat('w', id % 7, ' x y z ', id) AS text")

  test("Width.spread: pre-split input passes through, zero added exchange") {
    val preSplit = spark.range(0, 1000, 1,
        numPartitions = spark.sparkContext.defaultParallelism)
      .selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    val out = graft.Width.spread(preSplit, "doc_id")
    assert(exchanges(out) == exchanges(preSplit),
      "a scan already at session parallelism must not pay a repartition")
    assert(out.rdd.getNumPartitions == preSplit.rdd.getNumPartitions)
  }

  test("Width.spread: single-split input spreads to parallelism on the key") {
    val narrow = spark.range(0, 1000, 1, numPartitions = 1)
      .selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    val out = graft.Width.spread(narrow, "doc_id")
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(out.queryExecution.executedPlan.toString.contains("hashpartitioning(doc_id"),
      "the spread must be a deterministic hash repartition on the key")
    // partitioning must not change row content
    assert(out.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      narrow.as[(Long, String)].collect().sortBy(_._1).toSeq)
  }

  test("asImageMedia: a 2x-parallelism input adds no exchange, keeps width") {
    val wide = docsOf(2 * dp)
    val media = Multimodal.asImageMedia(wide, "doc_id", "text", w = 8, h = 8)
    assert(exchanges(media) == exchanges(wide),
      "an input wider than the session must not be re-exchanged")
    assert(media.rdd.getNumPartitions == 2 * dp)
  }

  test("editVerify: a pair frame wider than parallelism keeps its width") {
    val pairs = spark.range(0, 200, 1, 2 * dp)
      .selectExpr("id AS a", "(id + 1) % 200 AS b", "0 AS hamming")
    val out = Dedup.editVerify(docsOf(1), "doc_id", "text", pairs)
    val plan = out.queryExecution.executedPlan.toString
    assert(s"hashpartitioning\\(a#\\d+L?, b#\\d+L?, ${2 * dp}\\)".r.findFirstIn(plan).nonEmpty,
      s"the DP's spread must keep the pairs' ${2 * dp} partitions:\n$plan")
  }

  test("shingleFrame: building over a shuffled frame launches no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftshim.BusInternals
    // count only jobs this thread starts while building (the tag is a
    // local property, inherited by nothing else the suite runs)
    val (tag, jobs) = ("graft.test.build", new java.util.concurrent.atomic.AtomicInteger)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val shuffled = docsOf(1).repartition(dp, $"doc_id") // docs()'s spread
      spark.sparkContext.setLocalProperty(tag, "shingleFrame")
      val sh = try Dedup.shingleFrame(shuffled, "doc_id", "text")
        finally spark.sparkContext.setLocalProperty(tag, null)
      BusInternals.drain(spark.sparkContext)
      assert(jobs.get == 0, "sizing the shingle exchange must not run the upstream shuffle")
      assert(sh.count() > 0)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("shingleFrame: an input wider than parallelism keeps its width") {
    val wide = docsOf(3 * dp)
    val sh = Dedup.shingleFrame(wide, "doc_id", "text")
    assert(sh.queryExecution.executedPlan.toString.contains("hashpartitioning(doc_id#"),
      "the shingle exchange is a hash split on the id")
    assert(sh.rdd.getNumPartitions == 3 * dp)
  }

  test("mergePartials: exact BigInteger sums, merge-tree invariant") {
    import graft.dsp.Unigram.mergePartials
    def lane(p: String, v: BigInt): (String, Array[Byte]) =
      (p, v.bigInteger.toByteArray)
    def decode(a: Array[(String, Array[Byte])]): Map[String, BigInt] =
      a.map { case (p, b) => p -> BigInt(new java.math.BigInteger(b)) }.toMap
    val big = BigInt("123456789012345678901234567890")
    val parts = Seq(
      Array(lane("a", 1), lane("b", big), lane("", 7)),
      Array(lane("b", big), lane("c", 2)),
      Array(lane("a", 5), lane("", 3)),
      Array(lane("c", 0)))
    val expected = Map("a" -> BigInt(6), "b" -> big * 2, "c" -> BigInt(2),
      "" -> BigInt(10))
    // left fold and a balanced tree must agree (associativity is what
    // lets the EM E-step treeReduce on executors)
    val flat = parts.reduceLeft(mergePartials)
    val tree = mergePartials(
      mergePartials(parts(0), parts(1)), mergePartials(parts(2), parts(3)))
    assert(decode(flat) == expected)
    assert(decode(tree) == expected)
  }

  test("kmeansFit over the Local budget collects no corpus rows to the driver") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, MapPartitions}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.graftshim.BusInternals
    import org.apache.spark.sql.util.QueryExecutionListener
    val (n, k) = (64L, 4)
    val vecs = spark.range(0, n, 1, 4).selectExpr("id AS vec_id",
      "transform(sequence(0, 7), d -> CAST((id * 3 + d) % 5 AS FLOAT)) AS embedding")
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, LogicalPlan)]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.add(f -> qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        actions.add(f -> qe.optimizedPlan)
    }
    spark.listenerManager.register(l)
    try {
      graft.Local.withBudget(n - 1)(Ann.kmeansFit(vecs, "vec_id", "embedding", k, 2))
      BusInternals.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    val seen = actions.asScala.toSeq
    // the k-row init, one per-cell aggregate per iteration, the count
    def perCell(p: LogicalPlan) = p.collectFirst { case a: Aggregate => a }
      .exists(_.groupingExpressions.exists(_.toString.contains("_cell")))
    seen.foreach { case (f, p) =>
      assert(p.maxRows.exists(_ <= k) || perCell(p), s"$f collected an unbounded plan:\n$p")
      assert(p.find(_.isInstanceOf[MapPartitions]).isEmpty, s"$f ran a local collect:\n$p")
    }
    assert(seen.count { case (_, p) => perCell(p) } == 2, seen.map(_._1))
  }

  test("exact order statistics over the Local budget: bounded actions, loud non-convergence") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LocalRelation, MapPartitions}
    import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.graftshim.BusInternals
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val (b, nBins) = (64L, 8)
    def actionsOf(body: => Unit): Seq[QueryExecution] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
      val l = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
      }
      spark.listenerManager.register(l)
      try { body; BusInternals.drain(spark.sparkContext) }
      finally spark.listenerManager.unregister(l)
      seen.asScala.toSeq
    }
    object Stages extends AdaptiveSparkPlanHelper
    // output rows of the first node of `plan` (pre-order) that counts them
    def rowsOut(plan: SparkPlan): Long =
      Stages.collect(plan) { case p if p.metrics.contains("numOutputRows") => p }
        .head.metrics("numOutputRows").value
    val rnd = new scala.util.Random(5)
    val df = (0 until 3).flatMap(g => (0 until 400).map(_ => (s"g$g", rnd.nextGaussian())))
      .toDF("k", "v").repartition(4)
    val seen = actionsOf(graft.Local.withBudget(b)(
      Stats.exactQuantileHist(df, "k", "v", 0.95, nBins = nBins)))
    val kinds = seen.map { qe =>
      val p = qe.analyzed
      val keys = p.collectFirst { case a: Aggregate => a.groupingExpressions.map(_.toString) }
      // the broadcast cell table: one row per cell
      val cells = p.collectFirst {
        case j: Join if j.right.output.exists(_.name == "cell") =>
          j.right.collectFirst { case r: LocalRelation => r.data.length }.get
      }
      if (p.exists(_.isInstanceOf[MapPartitions])) {
        val values = Stages.collect(qe.executedPlan) { case m: MapPartitionsExec => rowsOut(m.child) }
        assert(values.sum <= b / 2, s"collected ${values.sum} values:\n$p")
        "collect"
      } else if (cells.isDefined) {
        assert(keys.exists(k => k.length == 2 && k(0).startsWith("cell") && k(1).startsWith("bin")),
          s"not a level aggregate:\n$p")
        val out = rowsOut(qe.executedPlan)
        assert(out <= cells.get * nBins, s"$out rows from ${cells.get} cells:\n$p")
        "level"
      } else {
        assert(keys.exists(k => k.length == 1 && k(0).startsWith("k")), s"unexpected action:\n$p")
        "base"
      }
    }
    assert(kinds.head == "base" && kinds.last == "collect" && kinds.count(_ == "collect") == 1 &&
      kinds.count(_ == "level") >= 1, kinds)
    // 1e-300 .. 1e300 in one group: one pass leaves 600 values in its lowest bucket
    val wide = (-300 to 300).map(e => ("w", math.pow(10, e))).toDF("k", "v")
    val failed = actionsOf {
      val ex = intercept[IllegalStateException](graft.Local.withBudget(b)(
        Stats.exactMedianHist(wide, "k", "v", nBins = nBins, maxPasses = 1)))
      assert(ex.getMessage.contains("600") && ex.getMessage.contains(s"$b"), ex.getMessage)
    }
    assert(failed.nonEmpty && failed.forall(!_.analyzed.exists(_.isInstanceOf[MapPartitions])))
  }
}
