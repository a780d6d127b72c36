package graft

/** Plan-inspection main: prints the formatted physical plan of the named
  * queries (or a default set of representative ones) against a sf dir —
  * the loop used to confirm filter/projection pushdown, broadcast choices,
  * and whole-stage-codegen coverage while iterating.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_pricing_summary", "q7_join_revenue", "q23_topk_per_group",
        "q50_ann_bruteforce", "q70_incremental_topk")
    val spark = GraftSession.fromEnv()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
