package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: Verify <sfDir> <outDir> [query,query,...]")
      sys.exit(2)
    }
    // optional 3rd arg: comma-separated query-name filter (gates one
    // query end to end without the full dump)
    val Array(sfDir, outDir) = args.take(2)
    // Guard against the pre-round-11 arg order (<outDir> <sfDir>): an
    // old invocation would silently write query output INTO the
    // dataset directory. The sf dir must look like a testdata dir.
    if (!new java.io.File(sfDir, "events.parquet").exists()) {
      System.err.println(
        s"arg order check: $sfDir has no events.parquet — expected " +
          "<sfDir> <outDir> [query,...] (sfDir first)")
      sys.exit(2)
    }
    val only: Option[Set[String]] = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // an unknown or empty filter is a typo, not a 0/0 run
    only.foreach { names =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      if (names.isEmpty || unknown.nonEmpty) {
        System.err.println(
          s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}; valid: " +
            SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
        sys.exit(2)
      }
    }
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed ::= name
        // remove any output from a PREVIOUS run: a reused outDir would
        // otherwise hand the comparator stale parquet and the gate
        // would silently PASS a query that no longer runs
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) {
          dir.listFiles().foreach(_.delete())
          dir.delete()
        }
      }
    }
    // LOUD summary on stdout: per-query failures are swallowed above
    // by design (one bad query must not zero the round), which is
    // exactly how round 9 silently lost 52 events-family queries from
    // the gate — the comparator only sees outputs that exist, so "all
    // pass" can coexist with half the suite missing. This line makes a
    // shrink visible in the driver log and to any human reading it.
    val total = SparkEntry.queries.count { case (name, _) =>
      only.forall(_.contains(name)) }
    println(s"[verify] wrote ${total - failed.length}/$total query outputs" +
      (if (failed.nonEmpty) s"; FAILED: ${failed.sorted.mkString(", ")}" else ""))
    writeOracleJson(outDir)
    spark.stop()
  }

  /** Dump SparkEntry.oracleSql as outDir/oracle_sql.json.
    *
    * JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def writeOracleJson(outDir: String): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
