package graft

/** Plan-inspection tool: prints the formatted physical plan for one or all
  * declared queries. Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  * Greppable markers worth checking per SURVEY.md §4: `PushedFilters`,
  * `ReadSchema` (column pruning), `BroadcastHashJoin`, `WholeStageCodegen`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder("local[4]", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
    }
    spark.stop()
  }
}
