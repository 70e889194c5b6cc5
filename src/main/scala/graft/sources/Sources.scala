package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers (SURVEY.md §3): the TESTDATA parquet tables and a
  * binary-file media source for multimodal columns.
  */
object Sources {

  /** One of the TESTDATA tables (region … documents, embeddings). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.Tables.load(spark, sfDir, name)

  private val mimeByExt: Map[String, String] = Map(
    "jpg" -> "image/jpeg", "jpeg" -> "image/jpeg", "png" -> "image/png",
    "gif" -> "image/gif", "wav" -> "audio/wav", "mp3" -> "audio/mpeg",
    "mp4" -> "video/mp4", "txt" -> "text/plain", "bin" -> "application/octet-stream")

  /** Media files as a multimodal frame: (media_id, content, meta) — the
    * same shape [[graft.operators.Multimodal]] consumes. Built on
    * Spark's binaryFile source, so the scan distributes across
    * executors and prunes on path/length pushdown; pass e.g.
    * `pathGlobFilter = Some("*.png")` to restrict formats.
    */
  def media(spark: SparkSession, path: String,
            pathGlobFilter: Option[String] = None): DataFrame = {
    val reader = spark.read.format("binaryFile")
    val withGlob = pathGlobFilter.fold(reader)(g => reader.option("pathGlobFilter", g))
    val ext = lower(element_at(split(col("path"), "\\."), -1))
    val mimeExpr = mimeByExt.foldLeft(lit("application/octet-stream")) {
      case (acc, (e, m)) => when(ext === e, lit(m)).otherwise(acc)
    }
    withGlob.load(path).select(
      col("path").as("media_id"),
      col("content"),
      struct(
        col("length").as("n_bytes"),
        col("modificationTime").as("modified"),
        mimeExpr.as("mime")).as("meta"))
  }

  /** JSONL document ingestion — the raw-web-dump format every training
    * pipeline actually starts from — read the SCALE-SAFE way: raw text
    * lines + `from_json` with an explicit schema (map-side, codegen'd,
    * no schema-inference scan job, no Spark JSON-source
    * _corrupt_record caching restriction). A line whose parse fails
    * yields a null struct and is accounted, not dropped silently or
    * fatally: real dumps always carry truncated/garbled lines, and
    * the ingest contract is "count and quarantine, never crash, never
    * silently lose".
    *
    * Returns (value: raw line, j: parsed struct or null) — callers
    * filter on `j.<field> IS NULL` for the corrupt set.
    */
  def jsonlDocs(spark: SparkSession, dir: String): DataFrame = {
    val root = materializeJsonl(spark, dir)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
      .add("lang", org.apache.spark.sql.types.StringType)
      .add("source", org.apache.spark.sql.types.StringType)
      .add("n_chars", org.apache.spark.sql.types.LongType)
    spark.read.text(new java.io.File(root, "data").getAbsolutePath)
      .select(col("value"), from_json(col("value"), schema).as("j"))
  }

  /** Documents re-written in a lang-PARTITIONED parquet layout
    * (`lang=en/part-*.parquet` …) and read back — the write-time
    * layout decision that turns a 100 TB full scan into a pruned one:
    * a reader filtering on the partition column touches only its
    * directories (PartitionFilters in the scan, zero data files read
    * from other partitions — plan-pinned in SourcesSpec). The same
    * pattern at scale adds a second in-file sort/bucket key
    * (`sortWithinPartitions` or bucketBy for join co-location); the
    * partition column must be low-cardinality — partitioning by a
    * high-cardinality key creates the million-small-files problem this
    * layout exists to avoid.
    */
  def partitionedDocs(spark: SparkSession, dir: String): DataFrame = {
    val root = materializePartitioned(spark, dir)
    spark.read.parquet(new java.io.File(root, "data").getAbsolutePath)
  }

  private def materializePartitioned(spark: SparkSession, dir: String): java.io.File = {
    val base = graft.Tables.fixtureDir("graft_part", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      spark.read.parquet(s"$dir/documents.parquet")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(new java.io.File(scratch, "data").getAbsolutePath)
    }
    base
  }

  /** Documents re-written as TWO parquet generations with drifted
    * schemas — generation 1 (even doc_ids) lacks `n_chars` and
    * `quality`, generation 2 carries both — read back through Spark's
    * `mergeSchema`: the union schema with NULL backfill for columns a
    * generation never wrote. This is the ingestion reality of any
    * long-lived corpus (fields appear over time; old files never get
    * rewritten), and the failure mode it guards is silent column loss
    * when the footer-sampled schema misses a late-added field.
    *
    * Scale note: mergeSchema reads every file footer — fine per
    * directory-of-generations, expensive over millions of files;
    * production pins the union schema in a catalog and reads with an
    * EXPLICIT schema instead (same null-backfill semantics, no footer
    * sweep). The backfill behavior verified here is identical.
    */
  def evolvedDocs(spark: SparkSession, dir: String): DataFrame = {
    val root = materializeEvolved(spark, dir)
    spark.read.option("mergeSchema", "true")
      .parquet(new java.io.File(root, "data").getAbsolutePath)
  }

  private def materializeEvolved(spark: SparkSession, dir: String): java.io.File = {
    val base = graft.Tables.fixtureDir("graft_evolve", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val data = new java.io.File(scratch, "data")
      data.mkdirs()
      // one FILE per generation in the same directory (a plain read
      // does not recurse into non-partition subdirs)
      def writeSingle(df: DataFrame, name: String): Unit =
        graft.Tables.writeSingleFile(df, new java.io.File(data, s"$name.parquet"))
      writeSingle(d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("lang"), lit(1).as("gen")), "g1")
      writeSingle(d.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("text"), col("lang"), lit(2).as("gen"),
          col("n_chars"),
          ((col("doc_id") % 100).cast("double") / 100.0).as("quality")), "g2")
    }
    base
  }

  /** One-time fingerprint-keyed JSONL materialization of the documents
    * table (4 shards), with every 83rd doc's line deterministically
    * TRUNCATED (last 2 chars dropped — always a parse error, since a
    * JSON object line can't survive losing its closing brace) so the
    * corrupt-record path is genuinely exercised and exactly
    * replayable from the parquet side (doc_id % 83 = 0).
    */
  /** CSV document ingestion — the other raw-dump format real pipelines
    * start from — read the SCALE-SAFE way: raw text lines + `from_csv`
    * with an explicit schema (map-side, codegen'd; no inference scan,
    * no multiline mode — a 100 TB read must stay line-splittable).
    * The fixture injects the hazards a CSV contract actually has to
    * survive: every row carries a `title` field with embedded commas
    * AND doubled quotes (RFC 4180 quoting, escape = `"`), and rows
    * where doc_id % 89 == 0 are REPLACED by an unparseable stub —
    * those yield a null-doc_id struct and are counted/quarantined,
    * never dropped silently, never fatal (the jsonlDocs contract).
    *
    * Returns (value: raw line, c: parsed struct or null fields) —
    * callers filter `c.doc_id IS NULL` for the corrupt set.
    */
  def csvDocs(spark: SparkSession, dir: String): DataFrame = {
    val root = materializeCsv(spark, dir)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("lang", org.apache.spark.sql.types.StringType)
      .add("source", org.apache.spark.sql.types.StringType)
      .add("n_chars", org.apache.spark.sql.types.LongType)
      .add("title", org.apache.spark.sql.types.StringType)
      .add("text", org.apache.spark.sql.types.StringType)
    spark.read.text(new java.io.File(root, "data").getAbsolutePath)
      .select(col("value"),
        from_csv(col("value"), schema,
          Map("escape" -> "\"", "quote" -> "\"")).as("c"))
  }

  /** The deterministic synthetic title every csv row carries: embedded
    * comma + doubled-quote content derived from doc_id, so the quoting
    * round trip is verifiable by any engine. */
  def csvTitleExpr: org.apache.spark.sql.Column =
    concat(lit("T,\""), (col("doc_id") % 97).cast("string"), lit("\",v"))

  private def materializeCsv(spark: SparkSession, dir: String): java.io.File = {
    val base = graft.Tables.fixtureDir("graft_csv", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      // hand-built RFC 4180 lines (quote the string fields, double any
      // inner quotes) — full control over the bytes so the corruption
      // rule and the quoting hazards are deterministic and replayable
      def q(c: org.apache.spark.sql.Column) =
        concat(lit("\""), regexp_replace(c, "\"", "\"\""), lit("\""))
      val line = concat_ws(",",
        col("doc_id").cast("string"), col("lang"), col("source"),
        col("n_chars").cast("string"), q(csvTitleExpr), q(col("text")))
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("_line", line)
        .select(when(col("doc_id") % 89 === 0,
            concat(lit("CORRUPT STUB "), col("doc_id").cast("string")))
          .otherwise(col("_line")).as("value"))
        .repartition(4)
        .write.mode("overwrite")
        .text(new java.io.File(scratch, "data").getAbsolutePath)
    }
    base
  }

  /** Documents in ORC — the other columnar lake format (Hive-era lakes
    * are full of it); Spark's built-in orc source gives the same
    * column pruning + predicate pushdown contract as parquet, and
    * SourcesSpec pins PushedFilters on the scan so a regression to a
    * full read is loud. The fixture is a one-time ORC re-write of the
    * documents table.
    */
  def orcDocs(spark: SparkSession, dir: String): DataFrame = {
    val root = materializeOrc(spark, dir)
    spark.read.orc(new java.io.File(root, "data").getAbsolutePath)
  }

  private def materializeOrc(spark: SparkSession, dir: String): java.io.File = {
    val base = graft.Tables.fixtureDir("graft_orc", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      spark.read.parquet(s"$dir/documents.parquet")
        .repartition(4)
        .write.mode("overwrite")
        .orc(new java.io.File(scratch, "data").getAbsolutePath)
    }
    base
  }

  /** Small-files compaction — THE lake-maintenance operation at scale
    * (streaming sinks and per-batch writers fragment a table into
    * thousands of KB-sized files; every subsequent scan then pays a
    * task + open + footer-read per file). The fixture writes documents
    * as a 64-way fragmented layout once; `compact` rewrites any
    * parquet directory to `targetFiles` size-balanced files with a
    * round-robin `repartition(n)` (no keys — compaction must not
    * skew on data values) and swaps it in atomically via the
    * write-to-scratch + rename pattern. Returns the compacted frame;
    * file counts are exposed for the gate/spec.
    */
  def compactedDocs(spark: SparkSession, dir: String,
                    targetFiles: Int = 4): (DataFrame, Int, Int) = {
    val frag = materializeFragmented(spark, dir)
    def parquetCount(d: java.io.File): Int =
      Option(new java.io.File(d, "data").listFiles())
        .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    val before = parquetCount(frag)
    val base = graft.Tables.fixtureDir("graft_compact", dir, "documents",
      s"-$targetFiles")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      spark.read.parquet(new java.io.File(frag, "data").getAbsolutePath)
        .repartition(targetFiles)
        .write.mode("overwrite")
        .parquet(new java.io.File(scratch, "data").getAbsolutePath)
    }
    val after = parquetCount(base)
    (spark.read.parquet(new java.io.File(base, "data").getAbsolutePath),
      before, after)
  }

  private def materializeFragmented(spark: SparkSession, dir: String): java.io.File = {
    val base = graft.Tables.fixtureDir("graft_frag", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      spark.read.parquet(s"$dir/documents.parquet")
        .repartition(64)
        .write.mode("overwrite")
        .parquet(new java.io.File(scratch, "data").getAbsolutePath)
    }
    base
  }

  private def materializeJsonl(spark: SparkSession, dir: String): java.io.File = {
    val base = graft.Tables.fixtureDir("graft_jsonl", dir, "documents")
    graft.Tables.materializeOnce(base, "_READY") { scratch =>
      val line = to_json(struct(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")))
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("_line", line)
        .select(when(col("doc_id") % 83 === 0,
            expr("substring(_line, 1, length(_line) - 2)"))
          .otherwise(col("_line")).as("value"))
        .repartition(4)
        .write.mode("overwrite")
        .text(new java.io.File(scratch, "data").getAbsolutePath)
    }
    base
  }
}
