package graft.engine

/** One map-input record: a text line tagged with its origin file and
  * 0-based line number — the reference's map input contract
  * (`/root/reference/sn/mr_actions.go:211-231`: scanner tags each line
  * with chunk name + running line number). */
case class MrLine(file: String, lineNo: Long, line: String)

/** The reference's user-job (plugin) contract, re-expressed as a Scala
  * trait (`/root/reference/cn/mr_actions.go:146-168`: exported symbols
  * `R`, `F_map`, `F_reduce`; signatures at `sn/mr_actions.go:140,355`).
  *
  * Spark closure serialization replaces the reference's whole
  * compile-and-ship-`.so` machinery (`cn/mr_actions.go:93-136`).
  */
trait MrJob extends Serializable {

  /** Reducer count — number of shuffle partitions
    * (`word_count.go:10`, `log_analyzer.go:9`). */
  def R: Int

  /** Map: one input line → 0..n string KV pairs
    * (`sn/mr_actions.go:140`). */
  def fMap(file: String, lineNo: Long, line: String): Iterator[(String, String)]

  /** Reduce: called ONCE per reducer, empty reducers included, with the
    * entire sorted partition — per-key grouping is the job's
    * responsibility (`sn/mr_actions.go:393-397`; SURVEY.md §7.4).
    *
    * Keys and values cross the shuffle as UTF-8, and a partition arrives
    * sorted by key, then value, in UTF-8 byte (code-point) order — the
    * order Go compares strings in. It differs from Java's UTF-16
    * `compareTo` only between supplementary characters and
    * U+E000-U+FFFF. An unpaired surrogate arrives as `?`, exactly as
    * [[FirstBytePartitioner]] reads it. */
  def fReduce(partition: Iterator[(String, String)]): Iterator[String]
}
