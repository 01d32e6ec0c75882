package graft

/** t1 smoke surface: runs `SparkEntry.entry` exactly like the driver and
  * prints the row count (must be > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftEngine.toolSession()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n")
    spark.stop()
  }
}
