package graft

/** Post-execution plan audit: runs each named query to completion and
  * prints the FINAL (AQE-resolved) physical plan plus its parquet-scan
  * count — what actually executed, where `Explain` shows only the
  * initial plan. Used to verify runtime properties the initial plan
  * hides: exchange/broadcast reuse, AQE join demotions, skew splits
  * (e.g. the q11 double-scan diagnosis — two identical aggregate
  * subtrees that AQE did NOT dedupe).
  *
  * Usage: runMain graft.ExplainExecuted <sfDir> <query> [query ...]
  */
object ExplainExecuted {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      println("usage: runMain graft.ExplainExecuted <sfDir> <query> [query ...]")
      return
    }
    val sfDir = args.head
    val spark = GraftEngine.toolSession()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- args.tail) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      println(s"========== $n ==========")
      println(plan)
      println(s"[scan-count] $n = " +
        plan.linesIterator.count(_.contains("Scan parquet")))
    }
    spark.stop()
  }
}
