package graft
object GenGolden {
  def main(args: Array[String]): Unit = {
    val spark = GraftEngine.toolSession()
    spark.sparkContext.setLogLevel("ERROR")
    val input = graft.engine.MrPipeline.lines(spark,
      Seq("src/test/resources/wordcount_fixture.txt"))
    val rows = graft.engine.MrPipeline.run(spark, input, graft.engine.jobs.WordCountJob)
      .collect().map(r => s"${r.getInt(0)}\t${r.getString(1)}").sorted
    java.nio.file.Files.write(
      java.nio.file.Paths.get("src/test/resources/wordcount_golden.txt"),
      rows.mkString("\n").getBytes("UTF-8"))
    println(s"golden written: ${rows.length} lines")
    spark.stop()
  }
}
