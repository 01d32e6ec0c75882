package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The declared inventory as the benchmark samples it. */
object Inventory {
  type Builder = (SparkSession, String) => DataFrame

  /** Family prefixes, checked in order; raw builds form their own family. */
  val prefixes = Seq("log_", "text_", "doc_", "dedup_", "sim_", "sketch_",
    "mm_", "wc_", "mr_")

  /** Declared queries plus the priced raw builds, minus the persisted-index
    * lifecycle rows (the ann_lifecycle workload drives that store). */
  lazy val pool: Map[String, Builder] =
    (graft.SparkEntry.queries ++ graft.RawBuilds.map)
      .filterNot { case (n, _) => n.startsWith("sim_index_") }

  def isRaw(name: String): Boolean = graft.RawBuilds.map.contains(name)

  def family(name: String): String =
    if (isRaw(name)) "raw"
    else prefixes.find(name.startsWith).getOrElse(
      if (name.startsWith("q")) "q" else "other")

  /** `name<TAB>...` lines of a committed data file, comments skipped. */
  def table(file: File): Seq[Array[String]] =
    if (!file.isFile) Nil
    else new String(JFiles.readAllBytes(file.toPath), StandardCharsets.UTF_8)
      .split('\n').iterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).toSeq

  /** The seeded sample of `count` calibrated queries: the pool, ordered by
    * family and then calibrated cost, is cut into `count` equal runs, and
    * one query is drawn from each. So every family gets its share of the
    * sample (to within one query) and each family's cost range is spanned.
    * A draw is redrawn until its calibrated total is within 2 % of the
    * expected total and its median within 5 % of the median stratum mean,
    * so runs with different seeds do comparable work. The run order is then shuffled. Only queries with a committed
    * digest are drawn, so the set stays fixed until the data file is
    * regenerated. */
  def sample(rng: scala.util.Random, costs: Map[String, Double], count: Int): Seq[String] = {
    val ordered = pool.keys.filter(costs.contains).toSeq.sortBy(n => (family(n), costs(n), n))
    val strata = (0 until count).map(i =>
      ordered.slice(i * ordered.size / count, (i + 1) * ordered.size / count))
    val means = strata.map(s => s.map(costs).sum / s.size)
    val total = means.sum
    val median = Stats.median(means).get.value
    def balanced(d: Seq[String]) = {
      val c = d.map(costs)
      math.abs(c.sum - total) <= 0.02 * total &&
        math.abs(Stats.median(c).get.value - median) <= 0.05 * median
    }
    val picked = Iterator.continually(strata.map(s => s(rng.nextInt(s.size)))).take(100000)
      .find(balanced).getOrElse(sys.error("no cost-balanced sample"))
    rng.shuffle(picked)
  }
}

/** `query_mix`: a stratified sample of the declared inventory, each query
  * built through `GraftEngine.query` (raw builds through `RawBuilds`),
  * collected and compared with its committed digest. */
final class QueryMix(dataDir: File) extends Workload {
  val name = "query_mix"
  /** Timed queries per run: one per two seconds of `--seconds`. */
  def queries(seconds: Int): Int = math.round(seconds / 2.0).toInt
  private var sample: Seq[String] = Nil
  private var expected: Map[String, String] = Map.empty
  private var engine: graft.GraftEngine = _

  /** Draw the sample, then make the warm pass on the smallest scale
    * factor, as `graft.Bench` does, so the timed pass measures query
    * execution, not first-run code generation and class loading. */
  def prepare(ctx: Ctx): Unit = {
    val calibrated = Inventory.table(new File(dataDir, "queries.tsv"))
      .collect { case Array(n, secs, _, digest, _*) => (n, secs.toDouble, digest) }
    val costs = calibrated.map(c => c._1 -> c._2).toMap
    expected = calibrated.map(c => c._1 -> c._3).toMap
    sample = Inventory.sample(ctx.rng, costs, queries(ctx.seconds))
    engine = graft.GraftEngine(ctx.spark, ctx.dir("warehouse").getPath)
    val warm = new File(new File(ctx.sfDir).getParentFile, "sf0.001").getPath
    sample.foreach { n =>
      try build(n, warm).collect()
      catch { case e: Throwable => System.err.println(s"[perfbench] warm $n: ${e.getMessage}") }
    }
  }

  private def build(n: String, dir: String): DataFrame =
    if (Inventory.isRaw(n)) graft.RawBuilds.map(n)(engine.spark, dir)
    else engine.query(n, dir)

  def timed(ctx: Ctx): Unit = sample.foreach { n =>
    ctx.op("query")(ctx.collect(build(n, ctx.sfDir))).foreach { rows =>
      val got = Digest.of(rows.toSeq, ordered = !Inventory.isRaw(n))
      ctx.check(expected.get(n).contains(got),
        s"$n: digest $got, expected ${expected.getOrElse(n, "<none committed>")}")
    }
  }
}
