package graft.tools

/** Prints formatted physical plans for representative queries so scale
  * properties are auditable: PushedFilters reaching the parquet scan, pruned
  * ReadSchema, BroadcastHashJoin on dims, WholeStageCodegen coverage, no
  * accidental CartesianProduct.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir] [queryName...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q01_pricing_summary", "q03_region_rollup", "q14_top_nations",
        "q19_incremental_slice", "q37_minhash_pairs", "q40_ann_topk")
    val spark = graft.core.LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_RUN=1: execute each query (noop sink) first and print
    // the AQE FINAL plan — ReusedExchange/ReusedSubquery and runtime join
    // selections only appear after execution, so a static explain alone
    // can misread a shared-subtree plan as a double scan.
    val execute = sys.env.contains("SPARK_GRAFT_RUN")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      // drain the df's OWN plan (a write would execute a different
      // QueryExecution) so its AdaptiveSparkPlanExec reaches final state
      if (execute) df.queryExecution.executedPlan.execute().foreach(_ => ())
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
