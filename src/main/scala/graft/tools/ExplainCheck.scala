package graft.tools

/** Plan inspector: `tools/run.sh graft.tools.ExplainCheck [sfDir] [query ...]`
  * — prints the formatted physical plan for named SparkEntry queries
  * (all relational + one per family by default) over `sfDir` (default
  * sf0.001) so shuffle count, pushdown, and codegen spans can be
  * reviewed (SURVEY.md §6).
  */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession()
    graft.functions.Functions.install(spark)
    val (dir, qs) =
      if (args.headOption.exists(new java.io.File(_).isDirectory)) (args.head, args.tail.toSeq)
      else ("/root/testdata/sf0.001", args.toSeq)
    val names =
      if (qs.nonEmpty) qs
      else Seq("q1_agg", "q2_join", "q4_asof", "q5_interval",
        "sig_rfft", "sig_rfft_pregrouped", "sig_sosfilt",
        "dedup_minhash_lsh", "ann_topk_bruteforce", "text_pack")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
      spark.catalog.clearCache() // an earlier build's caches must not leak into this plan
    }
    spark.stop()
  }
}
