package graft.engine

import graft.SparkSpec
import graft.engine.TypedAggregators._

class TypedAggregatorsSpec extends SparkSpec {

  test("ParseSum: typed per-key agg == reference parse-sum semantics") {
    import spark.implicits._
    val kvs = Seq(("a", "1"), ("a", "junk"), ("a", "2"), ("b", "5"),
      ("c", "-3"), ("c", "")).toDS()
    val got = kvs.groupByKey(_._1).mapValues(_._2)
      .agg(ParseSum.toColumn.name("sum"))
      .collect().toMap
    // map-side combine happens: partial+final through Catalyst
    assert(got == Map("a" -> 3L, "b" -> 5L, "c" -> -3L))
  }

  test("TopK: deterministic ties, matches orderBy/limit on small vocab") {
    import spark.implicits._
    val words = Seq("b", "a", "a", "c", "b", "a", "d", "c").map((_, 1L))
    val ds = words.toDS()
    val Array(top) = ds.groupByKey(_ => 0)
      .agg(TopK(3).toColumn.name("top"))
      .collect().map(_._2)
    assert(top == Seq("a" -> 3L, "b" -> 2L, "c" -> 2L))
  }
}
