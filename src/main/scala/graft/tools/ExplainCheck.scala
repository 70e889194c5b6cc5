package graft.tools

/** Plan inspector: `tools/run.sh graft.tools.ExplainCheck [query ...]` —
  * prints the formatted physical plan for named SparkEntry queries (all
  * relational + one per family by default) so shuffle count, pushdown,
  * and codegen spans can be reviewed (SURVEY.md §6).
  */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession()
    graft.functions.Functions.install(spark)
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q2_join", "q4_asof", "q5_interval",
        "sig_rfft", "sig_rfft_pregrouped", "sig_sosfilt",
        "dedup_minhash_lsh", "ann_topk_bruteforce", "text_pack")
    val dir = "/root/testdata/sf0.001"
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
