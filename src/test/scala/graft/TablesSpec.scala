package graft

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Pins [[Tables.load]]'s declared schemas: each of the ten tables
  * reads with exactly the schema parquet inference (plus
  * [[Tables.tsToNanos]]) gives, opening a table starts no Spark job,
  * and every physical form of `events.ts` resolves to the nanos column
  * TsNormalizeSpec expects.
  */
class TablesSpec extends SparkTestBase {

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1")

  for (dir <- sfDirs; t <- Tables.names)
    test(s"$t at ${dir.split('/').last}: declared schema equals the inferred one") {
      val inferred = Tables.tsToNanos(spark.read.parquet(s"$dir/$t.parquet")).schema
      assert(Tables.load(spark, dir, t).schema == inferred)
    }

  test("Tables.load starts no Spark job") {
    val (_, n) = jobsDuring(sfDirs.foreach(dir => Tables.names.foreach(Tables.load(spark, dir, _))))
    assert(n == 0, s"$n jobs while opening ${sfDirs.size * Tables.names.size} tables")
  }

  test("an unknown table name is rejected") {
    val e = intercept[IllegalArgumentException](
      Tables.load(spark, sfDirs.head, "lineitems"))
    assert(e.getMessage.contains("unknown table lineitems"))
  }

  // 2024-01-01T00:00:00.123456 UTC and two more, in epoch micros
  private val micros = Seq(1704067200123456L, 1704067200000000L, 1704070800999999L)

  /** A temp sf dir whose single-file events.parquet stores `ts` as `dt`. */
  private def eventsDir(dt: DataType, ts: Long => Any, conf: (String, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sf").toFile
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", dt),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rows = micros.zipWithIndex.map { case (us, i) =>
      Row(i.toLong, ts(us), 7L, "click", 1.5, "{}")
    }
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      Tables.writeSingleFile(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema), new java.io.File(dir, "events.parquet"))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    dir.getPath
  }

  private def loadedTs(dir: String): Seq[Long] = {
    val ev = Tables.load(spark, dir, "events")
    assert(ev.schema("ts").dataType == LongType)
    assert(ev.schema == Tables.tsToNanos(spark.read.parquet(s"$dir/events.parquet")).schema)
    ev.orderBy("event_id").select("ts").collect().map(_.getLong(0)).toSeq
  }

  private def ntz(us: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(us / 1000000L, (us % 1000000L).toInt * 1000, ZoneOffset.UTC)

  test("events.ts as a plain INT64 long passes through") {
    val nanos = micros.map(_ * 1000L + 789L)
    assert(loadedTs(eventsDir(LongType, us => us * 1000L + 789L)) == nanos)
  }

  test("events.ts as TIMESTAMP(MICROS) not adjusted to UTC reads as raw micros × 1000") {
    assert(loadedTs(eventsDir(TimestampNTZType, ntz)) == micros.map(_ * 1000L))
  }

  test("events.ts as an adjusted TIMESTAMP (INT96 and MICROS) reads as epoch micros × 1000") {
    def instant(us: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000))
    for (out <- Seq("INT96", "TIMESTAMP_MICROS")) {
      val dir = eventsDir(TimestampType, instant,
        "spark.sql.parquet.outputTimestampType" -> out)
      assert(loadedTs(dir) == micros.map(_ * 1000L), out)
    }
  }
}
