package graft

import java.nio.file.Files

import graft.engine.jobs.WordCountJob

class GraftEngineSpec extends SparkSpec {

  test("store → mapReduce → results, reference REPL flow end-to-end") {
    val wh = Files.createTempDirectory("graft_engine_wh").toString
    val g = GraftEngine(spark, wh)

    val local = Files.createTempFile("graft", ".txt")
    Files.writeString(local, "apple banana apple\nbanana apple cherry\n")
    g.store(local.toString, "fruit.txt")
    assert(g.list() == Seq("fruit.txt"))

    val out = g.mapReduce(WordCountJob, Seq("fruit.txt"))
      .collect().map(_.getString(1)).sorted.toSeq
    assert(out == Seq(
      "apple        ::    3",
      "banana       ::    2",
      "cherry       ::    1"))

    // default file selection = all stored TXT files
    assert(g.mapReduce(WordCountJob).count() == 3)
    // unknown file rejected (cn/mr_actions.go:69-85)
    intercept[IllegalArgumentException] {
      g.mapReduce(WordCountJob, Seq("nope.txt"))
    }
  }

  test("mapReduce selects input like JobRunner: TXT only, names de-duplicated") {
    import spark.implicits._
    val g = GraftEngine(spark, Files.createTempDirectory("graft_engine_sel").toString)
    try {
      val txt = Files.createTempFile("graft", ".txt")
      Files.writeString(txt, "apple banana apple\n")
      g.store(txt.toString, "a.txt")
      val bin = Files.createTempFile("graft", ".bin")
      Files.write(bin, Array[Byte](0, 1, 2, 3) ++ "binword\n".getBytes("UTF-8"))
      g.store(bin.toString, "b.bin")
      g.catalog.storeTable(Seq("tableword").toDF("w"), "t")
      def words(files: Seq[String]) =
        g.mapReduce(WordCountJob, files).collect().map(_.getString(1)).sorted.toSeq
      val want = Seq("apple        ::    2", "banana       ::    1")
      assert(words(Nil) == want)
      assert(words(Seq("a.txt", "a.txt")) == words(Seq("a.txt")))
      assert(words(Seq("a.txt", "b.bin", "t")) == want)
    } finally g.catalog.close()
  }

  test("observed metrics ride the job: progress surface (M9) without extra actions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The reference streams mapper/reducer progress counters to the
    // client (cn/mr_actions.go:293-343). Spark's equivalent telemetry
    // hook is Dataset.observe: metrics accumulate DURING the single
    // pass, costing no second scan. Metrics must be read from the SAME
    // QueryExecution the action ran (collect() here — a .count() would
    // build a fresh one and observe nothing).
    val li = graft.Tables.t(spark, sf(), "lineitem")
    val observed = li
      .observe("scan_metrics",
        count(lit(1)).as("rows_scanned"),
        sum($"l_quantity").as("qty_mass"))
      .filter($"l_quantity" > 45)
      .select($"l_orderkey")
    val kept = observed.collect().length
    val m = observed.queryExecution.observedMetrics("scan_metrics")
    assert(m.getAs[Long]("rows_scanned") == li.count(),
      "metric must count PRE-filter rows from the same pass")
    assert(kept < m.getAs[Long]("rows_scanned"))
    assert(m.getAs[Double]("qty_mass") > 0.0)
  }

  test("query registry lookup") {
    val g = GraftEngine(spark, Files.createTempDirectory("graft_wh2").toString)
    assert(g.queryNames.contains("q1_pricing_summary"))
    assert(g.query("wc_topk", sf()).count() > 0)
  }
}
