package graft.engine

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed `Aggregator[IN, BUF, OUT]` surface (SURVEY.md §2.4 "UDF/UDAF"):
  * the Spark-native replacement for the reference's `F_reduce` when the
  * reduce is a commutative per-key aggregation (which both example
  * plugins are). Unlike `mapPartitions`, these get Catalyst's partial
  * aggregation (map-side combine) for free.
  */
object TypedAggregators {

  /** Per-key long sum with the reference's skip-on-parse-error semantics
    * (`word_count.go:35-38`): unparsable values contribute nothing. */
  object ParseSum extends Aggregator[String, Long, Long] {
    override def zero: Long = 0L
    override def reduce(acc: Long, v: String): Long =
      acc + v.trim.toLongOption.getOrElse(0L)
    override def merge(a: Long, b: Long): Long = a + b
    override def finish(acc: Long): Long = acc
    override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Bounded-state top-k by count with pinned (count DESC, key ASC) ties
    * — the L9 operator as a typed aggregate whose buffer never exceeds
    * 4k entries. With the candidate cap the result is the standard
    * space-bounded approximation (exact whenever the true top-k fit the
    * retained candidate set, e.g. any distribution with ≤4k distinct keys
    * per partial buffer); the exact-at-any-scale form stays
    * `orderBy(...).limit(k)` as used by the declared queries. */
  case class TopK(k: Int) extends Aggregator[(String, Long), Map[String, Long], Seq[(String, Long)]] {
    override def zero: Map[String, Long] = Map.empty
    override def reduce(acc: Map[String, Long], kv: (String, Long)): Map[String, Long] =
      prune(acc + (kv._1 -> (acc.getOrElse(kv._1, 0L) + kv._2)))
    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      prune(b.foldLeft(a) { case (m, (key, v)) =>
        m + (key -> (m.getOrElse(key, 0L) + v))
      })
    override def finish(acc: Map[String, Long]): Seq[(String, Long)] =
      acc.toSeq.sortBy { case (key, v) => (-v, key) }.take(k)
    private def prune(m: Map[String, Long]): Map[String, Long] =
      if (m.size <= 4 * k) m
      else m.toSeq.sortBy { case (key, v) => (-v, key) }.take(4 * k).toMap
    override def bufferEncoder: Encoder[Map[String, Long]] =
      Encoders.kryo[Map[String, Long]]
    override def outputEncoder: Encoder[Seq[(String, Long)]] =
      Encoders.kryo[Seq[(String, Long)]]
  }
}
