package graft

/** Dev tool: run each named query and dump its executed (post-AQE) plan
  * plus exchange/reuse/codegen/join and pushed-filter counts — the feedback
  * loop for the "is this the plan I'd want at 100 TB" check. Usage:
  *   sbt "runMain graft.Explain <sfDir> <query> [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) sys.error("usage: Explain <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val spark = Harness.session()
    args.drop(1).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.count() // materialize so AQE finalizes the plan
      val plan = df.queryExecution.executedPlan.toString
      println(s"== $name\n$plan")
      def n(re: String) = re.r.findAllIn(plan).length
      println(s"== plan stats: Exchange=${n("Exchange (hash|range|single)")} " +
        s"ReusedExchange=${n("ReusedExchange")} " +
        s"BroadcastExchange=${n("BroadcastExchange")} " +
        s"WholeStageCodegen=${n("WholeStageCodegen")} " +
        s"SortMergeJoin=${n("SortMergeJoin")} BroadcastHashJoin=${n("BroadcastHashJoin")} " +
        s"PushedFilters=${n("PushedFilters: \\[[^\\]]")}")
    }
    spark.stop()
  }
}
