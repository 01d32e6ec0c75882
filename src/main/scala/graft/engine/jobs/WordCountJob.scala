package graft.engine.jobs

import java.util.Locale

import scala.collection.mutable

import graft.engine.MrJob

/** Faithful re-expression of the reference's word_count plugin
  * (`/root/reference/example_plugins/word_count/word_count.go`).
  *
  * Map (`word_count.go:12-22`): lowercase, whitespace-tokenize
  * (`strings.Fields` — no empty tokens), strip `[^a-zA-Z0-9]+` (the
  * result MAY be empty and is still emitted), emit (token, "1").
  *
  * Reduce (`word_count.go:26-41`): per-key integer sum over the whole
  * sorted partition, unparsable values skipped; output formatted
  * `%-12s :: %4d`. The reference emits in Go-map order (nondeterministic);
  * our contract pins ascending key order (SURVEY.md §7.4).
  */
object WordCountJob extends MrJob {
  val R = 26

  /** One pass over the lower-cased line: Java regex `\s` (space and
    * U+0009-U+000D) separates tokens, and a token keeps only its
    * `[a-zA-Z0-9]` chars — the same pairs as `split("\\s+")` followed by
    * a per-token `[^a-zA-Z0-9]+` strip. Lower-casing comes first, so e.g.
    * the Kelvin sign U+212A counts as `k`. */
  override def fMap(file: String, lineNo: Long, line: String): Iterator[(String, String)] = {
    val s = line.toLowerCase(Locale.ROOT)
    val out = mutable.ArrayBuffer.empty[(String, String)]
    val tok = new java.lang.StringBuilder
    var open = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || (c >= '\t' && c <= '\r')) {
        if (open) { out += ((tok.toString, "1")); tok.setLength(0); open = false }
      } else {
        open = true
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9'))
          tok.append(c)
      }
      i += 1
    }
    if (open) out += ((tok.toString, "1"))
    out.iterator
  }

  override def fReduce(partition: Iterator[(String, String)]): Iterator[String] =
    sumByKey(partition).map { case (k, v) => "%-12s :: %4d".format(k, v) }

  /** Adjacent-run accumulation over the sorted partition: per-key sum with
    * skip-on-parse-error semantics (`word_count.go:35-38`). Streaming —
    * O(1) state — because the shuffle delivers keys sorted. */
  def sumByKey(sortedKvs: Iterator[(String, String)]): Iterator[(String, Long)] =
    new Iterator[(String, Long)] {
      private val it = sortedKvs.buffered
      override def hasNext: Boolean = it.hasNext
      override def next(): (String, Long) = {
        val key = it.head._1
        var acc = 0L
        while (it.hasNext && it.head._1 == key) {
          val v = it.next()._2
          try acc += v.trim.toLong catch { case _: NumberFormatException => }
        }
        (key, acc)
      }
    }
}
