package graft

/** Plan-inspection surface: prints `explain("formatted")` for the named
  * queries (or all). Used to audit pushdown / broadcast / codegen spans.
  *
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // raw build rows included (r17): the optimization audit dumps
    // before/after plans for *_raw rows too
    val inventory = SparkEntry.queries ++ RawBuilds.map
    val names = if (args.length > 1) args.tail.toSeq
      else inventory.keys.toSeq.sorted
    val spark = GraftEngine.toolSession()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      inventory(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
