package graft

/** Plan inspection tool: `runMain graft.Explain [query ...]` prints the
  * formatted physical plan of each named query (default: a scan-heavy, a
  * join-heavy and an agg-heavy headline) so pushdown (`PushedFilters`),
  * pruned `ReadSchema`, broadcast joins and WholeStageCodegen spans can be
  * eyeballed per round.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.fromEnv("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q1_scan_filter_project", "q3_join_revenue_by_region", "q6_agg_pricing_summary")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
