package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{Ledger, ManifestTable}

/** A seeded keyed event log in a 4-partition ledger topic, streamed
  * with `maxRecordsPerTrigger` into `foreachBatch`: each micro-batch
  * reduces to the per-key latest-ts winner, merges it with
  * `ManifestTable.mergeBatch`, then runs one keyed snapshot read. Every
  * stream gets a fresh table and checkpoint.
  */
final class StreamUpsert(ctx: Ctx) extends Workload {
  import ctx._

  val users = 5000
  val partitions = 4
  val perTrigger = 500
  val records = 40000
  /** Batches of the warm-up stream in set-up, and leading batches of
    * the measured stream left out of its figures.
    */
  val warmBatches = 3
  val skipBatches = 2
  /** Batches of the measured stream behind `wall_s`: from a fresh table
    * to the commit of the last of them. The stream always runs them.
    */
  val wallBatches = skipBatches + 4

  /** Files each traced merge removed from the live snapshot. */
  private val filesRewritten = ArrayBuffer[Int]()
  /** (ts, user, value) per partition, in offset order. */
  private var log: IndexedSeq[IndexedSeq[(Long, Long, Double)]] = IndexedSeq.empty

  private val payload = StructType(Seq(
    StructField("user_id", LongType), StructField("ts", LongType),
    StructField("value", DoubleType)))
  private val tableSchema = StructType(Seq(
    StructField("user_id", LongType, nullable = false), StructField("ts", LongType),
    StructField("value", DoubleType)))

  def run(): Unit = {
    setup.put("session_s", (System.nanoTime() - startNs) / 1e9)
    val r = rng(17)
    val events = Array.tabulate(records) { i =>
      (1700000000000L + i * 10L + r.nextInt(10), r.nextInt(users).toLong, r.nextDouble())
    }
    log = (0 until partitions).map(p => events.filter(_._2 % partitions == p).toIndexedSeq)
    val base = new java.io.File(args.work, "topic")
    val reps = (0 until 3).map { i =>
      val d = new java.io.File(base, s"rep$i")
      val t = timed(writeTopic(d.getPath))._2
      if (i < 2) rmTree(d)
      t
    }
    setup.put("fixture_s", reps)
    val topic = new java.io.File(base, "rep2").getPath
    spark.streams.addListener(progressL)
    val (_, warm) = timed(stream(topic, "warm", Left(warmBatches)))
    setup.put("warm_s", warm)

    val t0 = System.nanoTime()
    val merged = stream(topic, "measured", Right((t0, wallBatches)))
    measureNs = System.nanoTime() - t0
    org.apache.spark.PerfbenchBus.drain(sc)
    layers.put("measured_query", merged._2)
    layers.put("skip_batches", skipBatches)
    layers.put("wall_batches", wallBatches)
    layers.put("stream_start_ns", merged._4)
    layers.put("files_rewritten", filesRewritten.toSeq)
    checkFinal(merged._1, merged._2, merged._3)
  }

  private def writeTopic(dir: String): Unit =
    log.zipWithIndex.foreach { case (recs, p) =>
      recs.grouped(5000).foreach { seg =>
        Ledger.append(dir, p, seg.map { case (ts, u, v) =>
          (ts, u.toString, s"""{"user_id":$u,"ts":$ts,"value":${v.toString}}""")
        })
      }
    }

  /** Runs one stream on a fresh table and checkpoint until `until`
    * says stop (a batch count, or a deadline plus a minimum batch
    * count), then stops it between batches. Returns the table, the
    * query id, the id of the last merged batch and the time the table
    * was created (ns since the run started).
    */
  private def stream(topic: String, tag: String,
                     until: Either[Int, (Long, Int)]): (String, String, Long, Long) = {
    val start = System.nanoTime() - startNs
    val dir = new java.io.File(args.work, s"stream-$tag")
    val table = new java.io.File(dir, "table").getPath
    val chk = new java.io.File(dir, "chk").getPath
    ManifestTable.create(spark,
      table, spark.createDataFrame(new java.util.ArrayList[Row](), tableSchema), "user_id", 1)
    @volatile var stopping = false
    @volatile var lastMerged = -1L
    @volatile var skipped = false
    val measured = tag == "measured"
    def apply(batch: DataFrame, id: Long): Unit =
      if (stopping) skipped = true
      else {
        // traced runs record spans on every measured batch and attach the
        // listeners to every other one
        val tr = args.trace && measured && id % 2 == 0
        runOp(if (measured) "batch" else "warm", "stream", id.toInt, tr, -1L,
            spans = Some(args.trace && measured), heap = measured) { op =>
          val winners = tracer.span("build", op)(batch.groupBy(col("user_id"))
            .agg(max(struct(col("ts"), col("value"))).as("_w"))
            .select(col("user_id"), col("_w.ts").as("ts"), col("_w.value").as("value")))
          val before = if (tracer.enabled) liveFiles(table) else Set.empty[String]
          tracer.span("merge", op) {
            require(ManifestTable.mergeBatch(spark, table, winners, "perfbench", id, buckets = 2,
              matchedUpdate = Some(ManifestTable.srcCol("ts") > col("ts")),
              notMatchedInsert = Some(lit(true))), s"batch $id skipped as a replay")
          }
          if (tracer.enabled) filesRewritten += (before -- liveFiles(table)).size
          val key = rng(id).nextInt(users).toLong
          tracer.span("read", op) {
            ManifestTable.snapshot(spark, table).where(col("user_id") === key).collect()
          }
        }
        if (!ops.last.ok) throw new IllegalStateException(s"batch $id failed: ${ops.last.error}")
        lastMerged = id
      }
    val q = spark.readStream.format("graft.sources.LedgerProvider")
      .option("maxRecordsPerTrigger", perTrigger.toString).load(topic)
      .select(from_json(col("value"), payload).as("e"))
      .select(col("e.user_id").as("user_id"), col("e.ts").as("ts"), col("e.value").as("value"))
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch(apply _).start()
    def done: Boolean = until match {
      case Left(n) => lastMerged + 1 >= n
      case Right((t0, minBatches)) =>
        (System.nanoTime() - t0) / 1e9 >= args.seconds && lastMerged + 1 >= minBatches
    }
    var idleSince = Long.MaxValue
    while (!done && q.isActive) {
      val idle = !q.status.isDataAvailable && !q.status.isTriggerActive && lastMerged >= 0
      idleSince = if (idle) math.min(idleSince, System.nanoTime()) else Long.MaxValue
      if (System.nanoTime() - idleSince > 2000000000L)
        throw new IllegalStateException(s"$tag stream ran out of records at batch $lastMerged")
      Thread.sleep(5)
    }
    stopping = true
    val stop0 = System.nanoTime()
    while (!skipped && q.isActive && System.nanoTime() - stop0 < 60000000000L) Thread.sleep(2)
    q.stop()
    q.exception.foreach(e => throw e)
    (table, q.id.toString, lastMerged, start)
  }

  private def liveFiles(table: String): Set[String] =
    ManifestTable.readSnapshot(table, ManifestTable.latestVersion(table)).files.map(_.name).toSet

  /** The final snapshot must equal the per-key latest-ts winner over
    * the records the merged batches consumed, with one manifest version
    * per merged batch.
    */
  private def checkFinal(table: String, query: String, lastMerged: Long): Unit = {
    val last = progressL.batches.filter(b => b.get("query") == query && b.get("batch") == lastMerged)
    check("stream:progress", last.nonEmpty, s"no progress record for batch $lastMerged")
    if (last.isEmpty) return
    val end = Ledger.parseOffset(String.valueOf(last.head.get("end_offset"))).offsets
    val want = scala.collection.mutable.HashMap[Long, (Long, Double)]()
    log.zipWithIndex.foreach { case (recs, p) =>
      recs.take(end.getOrElse(p, 0L).toInt).foreach { case (ts, u, v) =>
        if (want.get(u).forall(_._1 < ts)) want(u) = (ts, v)
      }
    }
    val got = ManifestTable.snapshot(spark, table).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val diff = want.count { case (u, w) => !got.get(u).contains(w) }
    check("stream:winners", got.size == want.size && diff == 0,
      s"${got.size} rows vs ${want.size} expected, $diff differ")
    val versions = ManifestTable.latestVersion(table)
    check("stream:versions", versions == lastMerged + 1,
      s"latest version $versions after ${lastMerged + 1} merged batches")
  }
}
