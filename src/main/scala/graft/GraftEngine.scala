package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Catalog, MrJob, MrPipeline}

/** The user-facing entry point — everything a user of the reference
  * system does, on Spark:
  *
  *   - `store/retrieve/list/delete/info` — the DFS client surface
  *     (reference REPL commands, SURVEY.md §2.1), via [[Catalog]];
  *   - `mapReduce(job, files)` — submit an `MrJob` over stored text
  *     files (the `mr <job> [files…]` command, SURVEY.md §3.1); jobs are
  *     plain Scala objects instead of server-compiled Go plugins;
  *   - `query(name, sfDir)` — the declared analytic query inventory.
  *
  * {{{
  * val g = GraftEngine(spark, warehouse = "/data/warehouse")
  * g.store("/tmp/logs.txt", "logs.txt")
  * val report = g.mapReduce(graft.engine.jobs.LogAnalyzerJob, Seq("logs.txt"))
  * val top = g.query("wc_topk", "/root/testdata/sf0.01")
  * }}}
  */
class GraftEngine(val spark: SparkSession, warehouse: String) {

  val catalog = new Catalog(spark, warehouse)

  def store(local: String, name: String): Unit = catalog.store(local, name)
  def retrieve(name: String, localOut: String): Unit = catalog.retrieve(name, localOut)
  def list(): Seq[String] = catalog.list()
  def delete(name: String): Boolean = catalog.delete(name)
  def info(): Map[String, Long] = catalog.info()

  /** Run an MrJob over stored text files, selected by
    * [[Catalog.mapInputs]] (all stored TXT files when `files` is empty —
    * the reference's default file selection, `cn/mr_actions.go:61-85`).
    * Returns (reducerId, outputLine) rows. */
  def mapReduce(job: MrJob, files: Seq[String] = Seq.empty): DataFrame =
    MrPipeline.run(spark, MrPipeline.lines(spark, catalog.mapInputs(files)), job)

  /** A declared query by name (see SparkEntry.queries / README). */
  def query(name: String, sfDir: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  def queryNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
}

object GraftEngine {
  def apply(spark: SparkSession, warehouse: String): GraftEngine =
    new GraftEngine(spark, warehouse)

  /** The tool mains' session (Bench, Verify, Smoke, JobCount, Explain,
    * ExplainExecuted): `local[N]` with N shuffle partitions, N read from
    * SPARK_GRAFT_CPUS (default 4), so every tool measures under Bench's
    * settings. */
  def toolSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    session(s"local[$cpus]", cpus)
  }

  /** Session factory with the graft extensions + recommended local conf. */
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
