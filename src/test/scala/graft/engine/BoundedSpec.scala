package graft.engine

import org.apache.spark.sql.functions.{col, lit, raise_error, when}

import graft.SparkSpec

/** The driver-fold boundedness fuse (r16 verdict ask #6): the three
  * bounded collects (markov edges, removal-effect variant edges, pca
  * co-moment cells) must FAIL LOUDLY when a frame exceeds its
  * documented structural cap instead of silently growing a driver
  * loop. */
class BoundedSpec extends SparkSpec {

  test("a within-cap frame collects unchanged") {
    import spark.implicits._
    val df = (1L to 10L).toDF("x")
    val rows = Bounded.collect(df, cap = 10, what = "ten rows")
    assert(rows.length == 10)
    assert(rows.map(_.getLong(0)).sorted.sameElements(1L to 10L))
  }

  test("a synthetic over-cap frame throws with the cap in the message") {
    import spark.implicits._
    val df = (1L to 4097L).toDF("x") // one past the 64*64 markov cap
    val e = intercept[IllegalArgumentException] {
      Bounded.collect(df, cap = 64 * 64, what = "synthetic alphabet blowup")
    }
    assert(e.getMessage.contains("4097"))
    assert(e.getMessage.contains("4096"))
    assert(e.getMessage.contains("synthetic alphabet blowup"))
  }

  test("an over-cap frame fails without evaluating rows past cap+1") {
    // one partition, so rows are produced in order; every row past
    // cap+1 raises when evaluated, and a full collect would reach them
    val cap = 10
    val df = spark.range(1, 10001, 1, 1).select(
      when(col("id") > cap + 1, raise_error(lit("evaluated past cap+1")))
        .otherwise(col("id")).as("x"))
    val e = intercept[IllegalArgumentException] {
      Bounded.collect(df, cap, what = "lazily failing frame")
    }
    assert(e.getMessage.contains(s"<=$cap"))
    assert(e.getMessage.contains("lazily failing frame"))
  }
}
