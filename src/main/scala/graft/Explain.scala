package graft

/** Plan-shape inspection: prints the formatted physical plan of selected
  * queries (default: a scale-critical subset) so pushdown, pruning,
  * broadcast choices, and codegen spans can be reviewed per round. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.GraftSession.localHive(
      graft.core.GraftSession.builder("local[8]", 8)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q_filter", "q_join_inner", "q_join_bucketed", "q_join_star",
        "q_join_asof", "q_join_range", "q_agg",
        "q_sort_limit", "q_fts_bm25", "q_fts_sql", "q_fts_sql_indexed",
        "q_fts_sql_bm25", "q_fts_sql_analyzer", "q_fts_multicol",
        "q_dedup_minhash", "q_sim_cosine", "q_pipeline_pack", "q_funnel")
    names.foreach { n =>
      println(s"\n================ $n ================")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
