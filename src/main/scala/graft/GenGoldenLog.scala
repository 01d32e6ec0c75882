package graft
object GenGoldenLog {
  def main(args: Array[String]): Unit = {
    val spark = GraftEngine.toolSession()
    spark.sparkContext.setLogLevel("ERROR")
    val input = graft.engine.MrPipeline.lines(spark,
      Seq("src/test/resources/crawler_logs.txt"))
    val rows = graft.engine.MrPipeline.run(spark, input, graft.engine.jobs.LogAnalyzerJob)
      .collect().map(r => (r.getInt(0), r.getString(1)))
    // report order within a reducer is meaningful; keep (rid, emission order)
    val byRid = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val out = byRid.flatMap { case (rid, rs) => rs.map { case (_, l) => s"$rid\t$l" } }
    java.nio.file.Files.write(
      java.nio.file.Paths.get("src/test/resources/loganalyzer_golden.txt"),
      out.mkString("\n").getBytes("UTF-8"))
    println(s"golden written: ${out.length} lines")
    spark.stop()
  }
}
