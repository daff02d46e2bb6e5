package graft

/** Plan-audit main: prints `explain("formatted")` for selected registry
  * queries so pushdown / pruning / join strategy / codegen spans can be
  * inspected (the "iterate until it's the plan you'd want" loop).
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  * With no names, audits a representative set.
  */
object Explain {
  val DefaultAudit = Seq("q1_pricing_summary", "q2_filter_project",
    "q3_top_unshipped_orders", "q5_revenue_by_nation", "q9_top3_orders_per_customer",
    "q21_topk_orders", "q34_asof_join", "q35_range_join",
    "q37_range_frame_window", "q45_correlated_subquery",
    "llm_ann_bruteforce", "llm_exact_dedup",
    "llm_minhash_neardup", "llm_vocab_topk", "llm_embedding_neardup",
    "llm_paragraph_dedup", "llm_semantic_dedup")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultAudit
    val spark = core.Sessions.local(4, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val qs = SparkEntry.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      qs.get(n) match {
        case Some(fn) =>
          try fn(spark, sfDir).explain("formatted")
          catch { case e: Throwable =>
            println(s"[explain] failed: ${e.getMessage}")
          }
        case None => println(s"[explain] unknown query '$n'")
      }
    }
    spark.stop()
  }
}
