package graft.engine.jobs

import scala.collection.mutable

import graft.engine.MrJob

/** Faithful re-expression of the reference's log_analyzer plugin
  * (`/root/reference/example_plugins/log_analyzer/log_analyzer.go`).
  *
  * Map (`log_analyzer.go:11-56`): whitespace-split; <4 tokens dropped;
  * crawler = tokens(2), url = tokens(3); strip http(s) scheme; split
  * domain/path at the first '/' (only if its index > 0); non-digit-leading
  * hosts with >1 dot lose their first label; digit-leading hosts lose a
  * `:port` suffix (last ':' with index > 0); paths truncate at the first
  * '#'/'?' (only if index > 0). Emits key = "crawler domain [path]",
  * value = "1".
  *
  * Reduce (`log_analyzer.go:58-136`): three hash-agg counts from one pass
  * (crawler / domain / domain+path), exact distinct counts, top-10
  * domains + top-5 crawlers by count. Reference tie order is Go map
  * iteration (nondeterministic); our contract pins (count DESC, key ASC)
  * per SURVEY.md §7.4.
  */
object LogAnalyzerJob extends MrJob {
  val R = 10

  /** L2-L6 normalization; returns (crawler, domain, path) — path empty
    * when the URL had none. */
  def normalize(tokens: Array[String]): Option[(String, String, String)] = {
    if (tokens.length < 4) return None
    val crawler = tokens(2)
    var domain = tokens(3) match {
      case u if u.startsWith("http://")  => u.substring(7)
      case u if u.startsWith("https://") => u.substring(8)
      case u                             => u
    }
    var url = ""
    val slash = domain.indexOf('/')
    if (slash > 0) {
      url = domain.substring(slash + 1)
      domain = domain.substring(0, slash)
    }
    if (domain.isEmpty) return Some((crawler, domain, url))
    if (domain.charAt(0) < '0' || domain.charAt(0) > '9') {
      if (domain.count(_ == '.') > 1)
        domain = domain.substring(domain.indexOf('.') + 1)
    } else {
      val colon = domain.lastIndexOf(':')
      if (colon > 0) domain = domain.substring(0, colon)
    }
    if (url.nonEmpty) {
      val cut = url.indexWhere(c => c == '#' || c == '?')
      if (cut > 0) url = url.substring(0, cut)
    }
    Some((crawler, domain, url))
  }

  /** `s.split("\\s+").filter(_.nonEmpty)` without a regex: splits on
    * exactly Java's `\s` set (space, \t, \n, \x0B, \f, \r) — not
    * `Character.isWhitespace`, which also takes U+001C..U+001F and the
    * Unicode space, line and paragraph separators (U+2028, …). */
  private[engine] def splitWs(s: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var start = -1
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || (c >= '\t' && c <= '\r')) {
        if (start >= 0) { out += s.substring(start, i); start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) out += s.substring(start)
    out.toArray
  }

  override def fMap(file: String, lineNo: Long, line: String): Iterator[(String, String)] =
    normalize(splitWs(line)) match {
      case Some((crawler, domain, url)) if url.nonEmpty =>
        Iterator((s"$crawler $domain $url", "1"))
      case Some((crawler, domain, _)) =>
        Iterator((s"$crawler $domain", "1"))
      case None => Iterator.empty
    }

  override def fReduce(partition: Iterator[(String, String)]): Iterator[String] = {
    val crawlerMap = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val domainMap  = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val urlMap     = mutable.Map.empty[String, Long].withDefaultValue(0L)

    partition.foreach { case (key, value) =>
      // unparsable values skipped, log_analyzer.go:69-72
      value.trim.toLongOption.foreach { v =>
        val ks = splitWs(key)
        if (ks.length >= 2) {
          crawlerMap(ks(0)) += v
          domainMap(ks(1)) += v
          if (ks.length > 2) urlMap(ks(1) + ks(2)) += v
        }
      }
    }

    val out = mutable.ArrayBuffer.empty[String]
    out += s"* Unique URLs:    ${urlMap.size + domainMap.size}"
    out += s"* Unique Domains: ${domainMap.size}"

    def topK(m: mutable.Map[String, Long], k: Int): Seq[String] =
      m.toSeq.sortBy { case (key, v) => (-v, key) }.take(k).map(_._1)

    val topDms = topK(domainMap, 10)
    val topCrs = topK(crawlerMap, 5)
    if (topDms.nonEmpty) {
      out += s"* Top ${topDms.size} Websites:"
      topDms.foreach(dm => out += s"    - $dm")
    }
    if (topCrs.nonEmpty) {
      out += s"* Top ${topCrs.size} Crawlers:"
      topCrs.foreach(cr => out += s"    - $cr")
    }
    out.iterator
  }
}
