package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import graft.engine.Artifact

/** Layer profile of the Bench rows. After Bench's warm pass on sf0.001,
  * each row runs at the scale factors next to SPARK_GRAFT_SF_DIR
  * (sf0.001, sf0.01, sf0.1): one untimed and one measured rep of Bench's
  * action, `count()`, as `groupBy().count()` to keep its QueryExecution.
  * Each rep runs under its own job group; one listener files every job,
  * stage and task under its group. `profile_detail.json` holds per row
  * and scale factor `wall_s`, perfbench's metric names and the builds,
  * hits and build seconds of each [[engine.Artifact]] the reps touched;
  * per row, the fit `wall_s ≈ a + b·sf`. Stdout gets each row's executed
  * plan at the largest scale factor, final and initial.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.Profile [row ...]
  * (no rows = every Bench row; named rows write profile_detail_partial.json)
  */
object Profile {
  type Builder = (SparkSession, String) => DataFrame
  type Figures = ListMap[String, Double]

  /** A measured rep: its figures, and per artifact the two reps touched,
    * that artifact's builds, hits and build seconds. */
  final case class Rep(metrics: Figures, artifacts: ListMap[String, Figures], plan: String)

  /** A row's reps by scale-factor dir name; a rep that threw holds its
    * error message. */
  final case class RowProfile(name: String, reps: Seq[(String, Either[String, Rep])]) {
    /** Least-squares `wall_s ≈ a + b·sf` over the reps that ran, and the
      * two largest scale factors' `wall_s` ratio. */
    def fit: Figures = {
      val pts = reps.collect { case (d, Right(r)) => (d, d.stripPrefix("sf").toDouble, r.metrics("wall_s")) }
      if (pts.size < 2) ListMap.empty
      else {
        val (mx, my) = (pts.map(_._2).sum / pts.size, pts.map(_._3).sum / pts.size)
        val b = pts.map { case (_, x, y) => (x - mx) * (y - my) }.sum /
          pts.map { case (_, x, _) => (x - mx) * (x - mx) }.sum
        val Seq(lo, hi) = pts.takeRight(2)
        ListMap("a_s" -> (my - b * mx), "b_s_per_sf" -> b, s"ratio_${hi._1}_${lo._1}" -> hi._3 / lo._3)
      }
    }
  }

  /** Sums perfbench's scheduler, executor, io and shuffle figures per job
    * group, and keeps each group's job ids. */
  final class GroupListener extends SparkListener {
    private val sums = mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
    private val jobs = mutable.Map.empty[String, Vector[Int]].withDefaultValue(Vector.empty)
    private val stageGroup = mutable.Map.empty[Int, String]
    private val mb = 1024.0 * 1024.0

    private def groupOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

    private def add(group: String, figures: (String, Double)*): Unit =
      synchronized(figures.foreach { case (k, v) => sums((group, k)) += v })

    def jobIds(group: String): Vector[Int] = synchronized(jobs(group))

    def figures(group: String): Figures = synchronized(ListMap(Seq("scheduler.stages",
      "scheduler.tasks", "scheduler.task_deserialize_s", "executor.run_s", "executor.cpu_s",
      "io.input_mb", "shuffle.write_mb", "shuffle.read_mb").map(k => k -> sums((group, k))): _*)
      .updated("scheduler.jobs", jobs(group).size.toDouble))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = groupOf(e.properties)
      jobs(g) = jobs(g) :+ e.jobId
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized(stageGroup(e.stageInfo.stageId) = groupOf(e.properties))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(stageGroup.get(e.stageInfo.stageId)).foreach(add(_, "scheduler.stages" -> 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      synchronized(stageGroup.get(e.stageId)).foreach { g =>
        add(g, "scheduler.tasks" -> 1)
        Option(e.taskMetrics).foreach(m => add(g,
          "scheduler.task_deserialize_s" -> m.executorDeserializeTime / 1e3,
          "executor.run_s" -> m.executorRunTime / 1e3,
          "executor.cpu_s" -> m.executorCpuTime / 1e9,
          "io.input_mb" -> m.inputMetrics.bytesRead / mb,
          "shuffle.write_mb" -> m.shuffleWriteMetrics.bytesWritten / mb,
          "shuffle.read_mb" -> m.shuffleReadMetrics.totalBytesRead / mb))
      }
  }

  /** Scans, exchanges and reused exchanges of a physical plan, through
    * adaptive query stages and subqueries; a reused exchange is counted
    * once and not entered. */
  def shape(plan: SparkPlan): Figures = {
    def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => Iterator(s) ++ nodes(s.plan)
      case r: ReusedExchangeExec => Iterator(r)
      case _ => Iterator(p) ++ p.children.iterator.flatMap(nodes) ++ p.subqueries.iterator.flatMap(nodes)
    }
    val all = nodes(plan).toSeq
    ListMap("catalyst.scans" -> all.count(n => n.children.isEmpty && n.nodeName.contains("Scan")).toDouble,
      "catalyst.exchanges" -> all.count(_.isInstanceOf[Exchange]).toDouble,
      "catalyst.reused_exchanges" -> all.count(_.isInstanceOf[ReusedExchangeExec]).toDouble)
  }

  private def artifactCounts: Map[String, Figures] = Artifact.all.map(a => a.name -> ListMap(
    "builds" -> a.memo.builds.get.toDouble, "hits" -> a.memo.hits.get.toDouble,
    "build_s" -> a.memo.buildNanos.get / 1e9)).toMap

  /** Profile `rows` at each of `dirs` (named `sf<factor>`) on a session
    * that `listener` listens to. */
  def run(spark: SparkSession, listener: GroupListener,
      rows: Seq[(String, Builder)], dirs: Seq[String]): Seq[RowProfile] = {
    val sc = spark.sparkContext
    def rep(fn: Builder, dir: String, group: String): Rep = {
      sc.setJobGroup(group, group)
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        val counted = df.groupBy().count()
        counted.collect()
        val t2 = System.nanoTime()
        val qe = counted.queryExecution
        val phase = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
        org.apache.spark.GraftListenerBus.drain(sc, 60000L)
        Rep(ListMap("wall_s" -> (t2 - t0) / 1e9, "queries.construct_s" -> (t1 - t0) / 1e9,
          "catalyst.optimize_s" -> phase.getOrElse(QueryPlanningTracker.OPTIMIZATION, 0.0),
          "catalyst.plan_s" -> phase.getOrElse(QueryPlanningTracker.PLANNING, 0.0)) ++
          shape(qe.executedPlan) ++ listener.figures(group), ListMap.empty, qe.explainString(FormattedMode))
      } finally sc.clearJobGroup()
    }
    rows.map { case (name, fn) =>
      System.gc() // the previous row's garbage is not billed to this one
      RowProfile(name, dirs.map { dir =>
        val sf = new java.io.File(dir).getName
        val before = artifactCounts
        val res = try { rep(fn, dir, s"profile:$name:$sf:untimed"); Right(rep(fn, dir, s"profile:$name:$sf")) }
          catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
        val touched = artifactCounts.toSeq.sortBy(_._1).collect {
          case (a, c) if c != before(a) => a -> c.map { case (k, v) => k -> (v - before(a)(k)) }
        }
        sf -> res.map(_.copy(artifacts = ListMap(touched: _*)))
      })
    }
  }

  /** `{row: {sf: {figures…, "artifacts": {…}} | {"error": …}, "fit": {…}}}`,
    * one row per line, figures to 6 decimals. */
  def toJson(profiles: Seq[RowProfile]): String = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    def round(f: Figures) = f.map { case (k, v) => k -> math.rint(v * 1e6) / 1e6 }
    profiles.map { p =>
      mapper.writeValueAsString(p.name) + ":" + mapper.writeValueAsString(ListMap(p.reps.map {
        case (sf, res) => sf -> res.fold(e => ListMap("error" -> e),
          r => round(r.metrics) ++ ListMap("artifacts" -> r.artifacts.map { case (a, f) => a -> round(f) }))
      }: _*) ++ ListMap("fit" -> round(p.fit)))
    }.mkString("{\n", ",\n", "\n}\n")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val inventory = SparkEntry.queries ++ RawBuilds.map
    val rows = (if (args.isEmpty) inventory.keys.toSeq.sorted else args.toSeq).map(n => n -> inventory(n))
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(new java.io.File(new java.io.File(sfDir).getParentFile, _))
      .filter(_.isDirectory).map(_.getPath)
    require(dirs.nonEmpty, s"no sf0.001, sf0.01 or sf0.1 next to $sfDir")

    val spark = GraftEngine.toolSession()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    rows.foreach { case (_, fn) => try fn(spark, dirs.head).count() catch { case _: Throwable => } }
    val profiles = run(spark, listener, rows, dirs)
    profiles.foreach { p =>
      println(s"\n========== ${p.name} ==========")
      println(p.reps.last._2.fold("FAILED: " + _, _.plan))
    }
    val out = if (args.isEmpty) "profile_detail.json" else "profile_detail_partial.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), toJson(profiles))
    System.err.println(s"[profile] ${rows.size} rows at ${dirs.size} scale factors written to $out")
    spark.stop()
  }
}
