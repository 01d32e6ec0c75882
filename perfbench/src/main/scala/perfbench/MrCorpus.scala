package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import graft.engine.jobs.{LogAnalyzerJob, WordCountJob}

/** A seeded text corpus with its own tallies: the generator records every
  * word and every (crawler, normalized domain, path) triple it writes, so
  * job outputs are checked against what was generated, not against
  * another run of the same code. */
final class Corpus(seed: Long, val textFiles: Int, val logFiles: Int, val bytesPerFile: Int) {
  private val rng = new scala.util.Random(seed)

  /** Zipf(s = 1) sampler over ranks 0 until n. */
  private final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def word(len: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < len) { sb += ('a' + rng.nextInt(26)).toChar; i += 1 }
    sb.result()
  }

  private val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 20000) seen += word(2 + rng.nextInt(9)) + (if (rng.nextInt(8) == 0) rng.nextInt(100).toString else "")
    seen.toArray
  }
  private val crawlers: Array[String] = {
    val known = Seq("Googlebot/2.1", "bingbot/2.0", "YandexBot/3.0", "Baiduspider",
      "DuckDuckBot/1.1", "Slurp", "facebookexternalhit/1.1", "ia_archiver",
      "AhrefsBot/7.0", "SemrushBot/7", "MJ12bot", "DotBot/1.2", "PetalBot",
      "Applebot/0.1", "Sogou", "Exabot", "CCBot/2.0", "GPTBot/1.0", "rogerbot",
      "SeznamBot/4.0", "Qwantify", "ZoominfoBot", "Mediapartners-Google",
      "Twitterbot/1.0", "LinkedInBot/1.0", "Pinterestbot", "archive.org_bot",
      "Screaming-Frog", "UptimeRobot/2.0", "NetcraftSurveyAgent")
    known.toArray ++ Array.tabulate(30)(i => s"${word(1 + rng.nextInt(3))}crawler-$i")
  }
  private val domains: Array[String] = {
    val tlds = Array("com", "org", "net", "io", "dev")
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 3000) seen += s"${word(3 + rng.nextInt(8))}.${tlds(rng.nextInt(tlds.length))}"
    seen.toArray ++ Array.tabulate(200)(i => s"10.${i / 100}.${i % 100}.${1 + i % 7}")
  }
  private val paths: Array[String] = Array.tabulate(6000) { i =>
    if (i % 3 == 0) s"${word(4)}$i" else s"${word(3 + rng.nextInt(5))}/${word(2 + rng.nextInt(6))}-$i"
  }
  private val zWord = new Zipf(vocab.length)
  private val zCrawler = new Zipf(crawlers.length)
  private val zDomain = new Zipf(domains.length)
  private val zPath = new Zipf(paths.length)

  /** Per text file: word -> occurrences, as map() will see them (lower
    * case, non-alphanumerics stripped; a punctuation-only token is the
    * empty word). */
  val wordTally: Array[mutable.HashMap[String, Long]] = Array.fill(textFiles)(mutable.HashMap.empty)
  /** Per log file: (crawler, normalized domain, path or "") -> lines. */
  val logTally: Array[mutable.HashMap[(String, String, String), Long]] = Array.fill(logFiles)(mutable.HashMap.empty)

  def textName(i: Int) = f"text-$i%03d.txt"
  def logName(i: Int) = f"crawl-$i%03d.log"

  /** Write every file under `dir`; returns the local paths by name. */
  def write(dir: File): Seq[(String, File)] = {
    dir.mkdirs()
    val text = (0 until textFiles).map { i =>
      val f = new File(dir, textName(i))
      writeFile(f)(textLine(wordTally(i)))
      textName(i) -> f
    }
    val logs = (0 until logFiles).map { i =>
      val f = new File(dir, logName(i))
      writeFile(f)(logLine(logTally(i)))
      logName(i) -> f
    }
    text ++ logs
  }

  private def writeFile(f: File)(line: () => String): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try {
      var written = 0L
      while (written < bytesPerFile) {
        val l = line()
        w.write(l)
        w.write('\n')
        written += l.length + 1
      }
    } finally w.close()
  }

  private def textLine(tally: mutable.HashMap[String, Long]): () => String = () => {
    val n = 6 + rng.nextInt(12)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb += (if (rng.nextInt(20) == 0) '\t' else ' ')
      if (rng.nextInt(200) == 0) {
        sb ++= "--" // strips to the empty word, which word_count still counts
        tally("") = tally.getOrElse("", 0L) + 1
      } else {
        val w = vocab(zWord.draw())
        val shown = rng.nextInt(10) match {
          case 0 => w.capitalize
          case 1 => w + ","
          case 2 => "\"" + w.toUpperCase + "\"."
          case _ => w
        }
        sb ++= shown
        tally(w) = tally.getOrElse(w, 0L) + 1
      }
      i += 1
    }
    sb.result()
  }

  private def logLine(tally: mutable.HashMap[(String, String, String), Long]): () => String = () => {
    val crawler = crawlers(zCrawler.draw())
    val domain = domains(zDomain.draw())
    val isIp = domain.charAt(0).isDigit
    val host =
      if (isIp) (if (rng.nextBoolean()) s"$domain:${8000 + rng.nextInt(100)}" else domain)
      else rng.nextInt(3) match {
        case 0 => "www." + domain
        case 1 => s"m${rng.nextInt(9)}.$domain"
        case _ => domain
      }
    val scheme = rng.nextInt(3) match { case 0 => "http://"; case 1 => "https://"; case _ => "" }
    val (shown, path) = rng.nextInt(6) match {
      case 0 => ("", "")
      case 1 => ("/", "")
      case k =>
        val p = paths(zPath.draw())
        val tail = k match { case 2 => s"?q=${rng.nextInt(50)}"; case 3 => s"#s${rng.nextInt(5)}"; case _ => "" }
        ("/" + p + tail, p)
    }
    val key = (crawler, domain, path)
    tally(key) = tally.getOrElse(key, 0L) + 1
    s"10.${rng.nextInt(256)}.${rng.nextInt(256)}.${rng.nextInt(256)} - $crawler $scheme$host$shown ${200 + 100 * rng.nextInt(4)} ${rng.nextInt(90000)}"
  }
}

object Corpus {
  /** The reference's reducer choice: the key's first byte, ASCII upper
    * case folded, modulo R; an empty key counts as a newline byte. */
  def reducer(key: String, r: Int): Int = {
    val b = if (key.isEmpty) 10 else {
      val x = key.getBytes(StandardCharsets.UTF_8)(0) & 0xff
      if (x >= 'A' && x <= 'Z') x + 32 else x
    }
    b % r
  }

  /** word_count's output rows as `key -> count`, from `key :: count` lines. */
  def parseCounts(lines: Seq[String]): Seq[(String, Long)] = lines.map { l =>
    val i = l.lastIndexOf(" :: ")
    require(i >= 0, s"not a word_count line: $l")
    l.substring(0, i).trim -> l.substring(i + 4).trim.toLong
  }

  /** log_analyzer's expected lines of each of the `r` reducers, from
    * tallied triples. */
  def expectedLog(triples: Map[(String, String, String), Long], r: Int): Seq[Seq[String]] = {
    val byReducer = triples.groupBy { case ((c, _, _), _) => reducer(c, r) }
    (0 until r).map(rid => reducerLines(byReducer.getOrElse(rid, Map.empty)))
  }

  private def reducerLines(mine: Map[(String, String, String), Long]): Seq[String] = {
    def sum[K](f: ((String, String, String)) => K) =
      mine.groupMapReduce(e => f(e._1))(_._2)(_ + _)
    val byCrawler = sum(_._1)
    val byDomain = sum(_._2)
    val urls = mine.keys.filter(_._3.nonEmpty).map(t => t._2 + t._3).toSet
    def top(m: Map[String, Long], k: Int) = m.toSeq.sortBy { case (key, v) => (-v, key) }.take(k).map(_._1)
    val dms = top(byDomain, 10)
    val crs = top(byCrawler, 5)
    Seq(s"* Unique URLs:    ${urls.size + byDomain.size}", s"* Unique Domains: ${byDomain.size}") ++
      (if (dms.isEmpty) Nil else s"* Top ${dms.size} Websites:" +: dms.map("    - " + _)) ++
      (if (crs.isEmpty) Nil else s"* Top ${crs.size} Crawlers:" +: crs.map("    - " + _))
  }
}

/** `mr_corpus`: the paper's own flow. Set-up writes the corpus and stores
  * it through `GraftEngine.store`; the timed phase runs a seeded sequence
  * of word_count and log_analyzer jobs over file subsets through
  * `GraftEngine.mapReduce`, and checks every collected output. */
final class MrCorpus extends Workload {
  val name = "mr_corpus"
  val TextFiles = 24
  val LogFiles = 24
  val BytesPerFile = 1 << 19
  val TextPerJob = 16
  val LogPerJob = 16

  private var corpus: Corpus = _
  private var local: Seq[(String, File)] = Nil
  private var engine: graft.GraftEngine = _
  private var storedBytes = 0L
  private var jobMb = 0.0

  /** Write the corpus; store it into a warm-up warehouse, run one small
    * job of each kind there, so the timed phase does not pay for first-run
    * code generation (as `graft.Bench` does with its warm pass), and delete
    * it again; then store it into the warehouse the timed phase reads. */
  def prepare(ctx: Ctx): Unit = {
    corpus = new Corpus(ctx.seed, TextFiles, LogFiles, BytesPerFile)
    local = corpus.write(ctx.dir("corpus"))
    storedBytes = local.map(_._2.length).sum
    val t = ctx.tracer
    def storeAll(name: String): graft.GraftEngine = {
      val e = graft.GraftEngine(ctx.spark, ctx.dir(name).getPath)
      local.foreach { case (n, f) => t.span("catalog.store")(e.store(f.getPath, n)) }
      val listed = t.span("catalog.list")(e.list()).toSet
      require(local.forall(l => listed(l._1)), "stored files missing from list()")
      e
    }
    val warm = storeAll("warehouse-warm")
    Seq(corpus.textName(0) -> WordCountJob, corpus.logName(0) -> LogAnalyzerJob).foreach { case (n, job) =>
      warm.mapReduce(job, Seq(n)).collect()
    }
    local.foreach { case (n, _) => require(t.span("catalog.delete")(warm.delete(n)), s"delete $n") }
    warm.catalog.close()
    engine = storeAll("warehouse")
  }

  /** Job count grows with the run length, half of each kind: about one
    * job per 2.5 seconds on a 4-core host. */
  def jobs(seconds: Int): Int = math.max(2, 2 * math.round(seconds / 5.0).toInt)

  def timed(ctx: Ctx): Unit = {
    val rng = ctx.rng
    val kinds = rng.shuffle(Seq.fill(jobs(ctx.seconds) / 2)(true) ++ Seq.fill(jobs(ctx.seconds) / 2)(false))
    kinds.foreach { wc =>
      val picks = rng.shuffle((0 until (if (wc) TextFiles else LogFiles)).toList)
        .take(if (wc) TextPerJob else LogPerJob).sorted
      val names = picks.map(i => if (wc) corpus.textName(i) else corpus.logName(i))
      jobMb += names.map(n => local.find(_._1 == n).get._2.length).sum / (1024.0 * 1024.0)
      ctx.op(if (wc) "word_count" else "log_analyzer") {
        ctx.tracer.span("mr.job")(ctx.collect(
          engine.mapReduce(if (wc) WordCountJob else LogAnalyzerJob, names)))
      }.foreach { rows =>
        if (wc) checkWordCount(ctx, picks, rows.map(r => r.getString(1)).toSeq)
        else checkLog(ctx, picks, rows.map(r => (r.getInt(0), r.getString(1))).toSeq)
      }
    }
  }

  private def checkWordCount(ctx: Ctx, picks: Seq[Int], lines: Seq[String]): Unit = {
    val want = mutable.HashMap.empty[String, Long]
    picks.foreach(i => corpus.wordTally(i).foreach { case (w, c) => want(w) = want.getOrElse(w, 0L) + c })
    val got = Corpus.parseCounts(lines)
    ctx.check(got.size == want.size && got.toMap == want,
      s"word_count: ${got.size} keys vs ${want.size} generated, first difference " +
        got.find { case (w, c) => !want.get(w).contains(c) })
  }

  private def checkLog(ctx: Ctx, picks: Seq[Int], rows: Seq[(Int, String)]): Unit = {
    val triples = picks.flatMap(i => corpus.logTally(i).toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    val got = rows.groupMap(_._1)(_._2)
    Corpus.expectedLog(triples, LogAnalyzerJob.R).zipWithIndex.foreach { case (want, rid) =>
      val mine = got.getOrElse(rid, Nil)
      ctx.check(mine == want, s"log_analyzer reducer $rid: got $mine, expected $want")
    }
  }

  override def report(ctx: Ctx, wallS: Double): Seq[Metric] = Seq(
    Metric("mr_mb_s", jobMb / wallS, "MB/s", ctx.tracer.ops.size),
    kindP50(ctx, "word_count"), kindP50(ctx, "log_analyzer"),
    Metric("corpus_mb", storedBytes / (1024.0 * 1024.0), "MB"))

  private def kindP50(ctx: Ctx, kind: String) =
    Main.pct(kind + "_p50_s", ctx.tracer.ops.filter(_.kind == kind).map(_.seconds).toSeq, 0.5)

  override def layers(ctx: Ctx, prof: Profile): Seq[Metric] = {
    val mb = storedBytes / (1024.0 * 1024.0)
    val stores = prof.spansNamed("catalog.store")
    val storeS = stores.map(_.duration).sum / 1e9
    // the stages of each job's collect: shuffle-map stages, then the
    // reduce stage (construction-time jobs are left out)
    val perJob = prof.ops.map { o =>
      val st = prof.opStages.filter(s => s.op == o.id && prof.within(s.span, "action.collect")).sortBy(_.id)
      val reduce = st.lastOption
      val reduceRuns = reduce.toSeq.flatMap(s => prof.tasksByStage.getOrElse(s.id, Nil)).map(_.runMs.toDouble)
      val skew = Stats.median(reduceRuns).map(m => if (m.value > 0) reduceRuns.max / m.value else 1.0).getOrElse(1.0)
      val records = st.flatMap(s => prof.tasksByStage.getOrElse(s.id, Nil)).map(_.shWriteRecords).sum
      (st.dropRight(1).map(s => s.complete - s.submit).sum / 1e3,
        reduce.map(s => (s.complete - s.submit) / 1e3).getOrElse(0.0), records.toDouble, skew)
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Seq(
      Metric("catalog.store_s", if (stores.isEmpty) 0.0 else storeS / stores.size, "s", stores.size),
      Metric("catalog.store_mb_s", if (storeS > 0) mb * stores.size / local.size / storeS else 0.0, "MB/s", stores.size),
      Metric("catalog.list_s", prof.meanSeconds("catalog.list"), "s", prof.spansNamed("catalog.list").size),
      Metric("catalog.delete_s", prof.meanSeconds("catalog.delete"), "s", prof.spansNamed("catalog.delete").size),
      Metric("mr.job_s", prof.meanSeconds("mr.job"), "s", perJob.size),
      Metric("mr.map_stage_s", mean(perJob.map(_._1)), "s", perJob.size),
      Metric("mr.reduce_stage_s", mean(perJob.map(_._2)), "s", perJob.size),
      Metric("mr.shuffle_records", mean(perJob.map(_._3)), "count", perJob.size),
      Metric("mr.reduce_skew", Stats.median(perJob.map(_._4)).map(_.value).getOrElse(0.0), "ratio", perJob.size))
  }
}
