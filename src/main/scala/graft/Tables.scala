package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loading + shared output conventions for the driver's
  * DuckDB-oracle compare (SURVEY.md §5).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Each table's schema as parquet schema inference reads the
    * testdata files: every column nullable, arrays with nullable
    * elements. `events.ts` is resolved per file by [[eventsTsType]].
    */
  private val ddl: Map[String, String] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts %s, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  /** One of the ten [[names]] tables, read with its declared schema, so
    * opening it runs no Spark job (parquet schema inference runs one
    * per read), with `ts` normalized by [[tsToNanos]].
    */
  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    require(ddl.contains(table),
      s"Tables.load: unknown table $table (one of ${names.mkString(", ")})")
    // an events file whose ts is TIMESTAMP(NANOS) reads as a long only
    // under nanosAsLong. Runtime-settable, but the session builders set
    // it too so the driver's own session works.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$table.parquet"
    val schema =
      if (table == "events") ddl(table).format(eventsTsType(spark, path)) else ddl(table)
    tsToNanos(spark.read.schema(schema).parquet(path))
  }

  /** The Spark type inference gives `events.ts` in the parquet file at
    * `path`, from one footer read on the driver: TIMESTAMP_NTZ for
    * TIMESTAMP(MICROS/MILLIS) not adjusted to UTC, TIMESTAMP for
    * adjusted ones and INT96, BIGINT for a plain INT64 or
    * TIMESTAMP(NANOS) under nanosAsLong.
    */
  private def eventsTsType(spark: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), spark.sessionState.newHadoopConf()))
    val ts = try {
      val fields = reader.getFooter.getFileMetaData.getSchema
      fields.getType(fields.getFieldIndex("ts")).asPrimitiveType
    } finally reader.close()
    ts.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation if t.getUnit != TimeUnit.NANOS =>
        if (t.isAdjustedToUTC) "TIMESTAMP" else "TIMESTAMP_NTZ"
      case _ if ts.getPrimitiveTypeName == PrimitiveTypeName.INT96 => "TIMESTAMP"
      case _ => "BIGINT"
    }
  }

  /** events.ts has flipped physical parquet type across testdata
    * generations: TIMESTAMP(NANOS) — which Spark can only read as a
    * nanos-since-epoch long (under nanosAsLong, above) — and
    * TIMESTAMP(MICROS), which it reads natively as TimestampType.
    * Every operator and oracle computes on the long-nanos form (the
    * natural equispaced coordinate), so normalize at the read edge:
    * both generations yield the identical column. DuckDB sees a
    * timestamp either way (TIMESTAMP_NS / TIMESTAMP), so `epoch_us`
    * oracles are unaffected. Works on batch and streaming frames
    * (pure projection).
    */
  def tsToNanos(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    val tsType = df.schema.fields.find(_.name == "ts").map(_.dataType)
    tsType match {
      case Some(TimestampType) =>
        // internal representation IS epoch micros; unix_micros reads it
        // back timezone-independently.
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case Some(TimestampNTZType) =>
        // TIMESTAMP_NTZ's wall clock IS the raw stored micros (what
        // DuckDB's epoch_us reads off the same file). Rebuild epoch
        // micros from timezone-FREE field extraction — the previous
        // cast-to-TimestampType route goes through the session zone,
        // and pinning that zone session-wide as a read side effect
        // changed the semantics of unrelated timestamp expressions
        // (ADVICE r10). date/hour/minute/second extraction on NTZ
        // never consults a timezone; SECOND is DECIMAL(8,6) so the
        // micros survive exactly.
        val micros =
          expr("unix_date(CAST(ts AS DATE))").cast("long") * lit(86400000000L) +
          expr("CAST(date_part('HOUR', ts) AS LONG)") * lit(3600000000L) +
          expr("CAST(date_part('MINUTE', ts) AS LONG)") * lit(60000000L) +
          expr("CAST(date_part('SECOND', ts) * 1000000 AS LONG)")
        df.withColumn("ts", micros * lit(1000L))
      case _ => df
    }
  }

  /** Fixed-point encode a double column so Spark and DuckDB hash
    * identically: both engines evaluate the same IEEE expression.
    * `scale` trades precision for robustness to cross-engine fp noise
    * (SURVEY.md §5 rule 1).
    */
  def fp(c: Column, scale: Double): Column =
    floor(c * lit(scale) + lit(0.5)).cast("long")

  def fp2(c: Column): Column = fp(c, 100d)
  def fp4(c: Column): Column = fp(c, 1e4)
  def fp6(c: Column): Column = fp(c, 1e6)

  /** SQL-side twin of [[fp]] for oracle queries. */
  def fpSql(e: String, scale: String): String =
    s"CAST(FLOOR(($e) * $scale + 0.5) AS BIGINT)"

  /** Content fingerprint of a table path (file or directory): md5 over
    * the sorted (relative subpath, size, mtime) listing — 64 bits kept,
    * so collisions across regenerations are negligible (a 32-bit
    * String.hashCode would make them merely unlikely). Keys the /tmp
    * materialization caches (pre-grouped series, sliced streams) so a
    * regenerated source dataset is not served a stale materialization.
    * Fails fast on a missing path instead of fingerprinting nothing.
    */
  private def pathFingerprint(path: String): String = {
    val root = new java.io.File(path)
    require(root.exists, s"pathFingerprint: $path does not exist")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.toSeq.flatMap(walk)
      else Seq(f)
    val listing = walk(root).sortBy(_.getPath)
      .map(f => s"${root.toPath.relativize(f.toPath)}:${f.length}:${f.lastModified}")
      .mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(listing.getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Remove sibling materialization dirs of `current` that share its
    * `tag-` prefix but carry a different (stale) fingerprint — keeps
    * /tmp bounded to one copy per source instead of one per
    * regeneration.
    */
  private def pruneStaleSiblings(current: java.io.File, tag: String): Unit = {
    Option(current.getParentFile).flatMap(p => Option(p.listFiles)).foreach {
      siblings =>
        siblings.filter(f => f.isDirectory && f.getName.startsWith(s"$tag-") &&
            f.getName != current.getName)
          .foreach(rmTree)
        // orphaned build scratch from a crashed JVM (see materializeOnce)
        // — old enough that no live builder can still be writing it
        siblings.filter(f => f.isDirectory && f.getName.startsWith("_build-") &&
            f.lastModified < System.currentTimeMillis - 6 * 3600 * 1000L)
          .foreach(rmTree)
    }
  }

  /** The /tmp cache dir of a fixture derived from `$dir/<table>.parquet`:
    * `/tmp/<root>/<tag>-<fingerprint><suffix>`, where the tag is the sf
    * dir with every char outside [A-Za-z0-9.] mapped to `_` and the
    * suffix versions a fixture format change. Stale siblings are pruned
    * first; the caller builds into the dir (or a child) with
    * [[materializeOnce]].
    */
  def fixtureDir(root: String, dir: String, table: String,
                 suffix: String = ""): java.io.File = {
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val base = new java.io.File(
      s"/tmp/$root/$tag-${pathFingerprint(s"$dir/$table.parquet")}$suffix")
    pruneStaleSiblings(base, tag)
    base
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete(): Unit
  }

  /** Build-once /tmp materialization, safe across concurrent JVMs
    * (bench + verify racing over a regenerated dataset): the readable
    * state is "`target` exists and contains `marker`", and that state
    * only ever appears via an ATOMIC rename of a fully-built
    * process-unique scratch dir — check-then-write on the target
    * itself would let one process read a half-written dir whose
    * marker survives a concurrent `mode("overwrite")`. `build`
    * receives the scratch dir; the marker is created there AFTER
    * `build` returns, then the whole dir renames into place. A
    * concurrent builder that wins the rename makes ours fail
    * (rename(2) onto a non-empty dir), and we just discard the
    * scratch — both processes then read the winner's copy.
    */
  def materializeOnce(target: java.io.File, marker: String)
                     (build: java.io.File => Unit): Unit = {
    if (new java.io.File(target, marker).exists()) return
    val parent = target.getParentFile
    parent.mkdirs()
    val scratch = new java.io.File(parent,
      s"_build-${target.getName}-${java.util.UUID.randomUUID.toString.take(8)}")
    try {
      build(scratch)
      new java.io.File(scratch, marker).createNewFile()
      try java.nio.file.Files.move(scratch.toPath, target.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { // a concurrent builder won the rename — use its copy
        case _: java.nio.file.FileSystemException => rmTree(scratch)
      }
    } finally if (scratch.exists()) rmTree(scratch)
  }

  /** Write `df` as the ONE parquet file `target`, the testdata layout
    * DuckDB's oracle views and a plain (non-recursive) read expect:
    * write a temp dir beside it, move the part file in.
    */
  def writeSingleFile(df: DataFrame, target: java.io.File): Unit = {
    val tmp = new java.io.File(target.getParentFile, s"_tmp_${target.getName}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, target.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    rmTree(tmp)
  }
}
