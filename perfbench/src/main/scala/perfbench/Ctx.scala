package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Everything one run shares: the session, the seeded inputs' root, the
  * tracer and the tally of output checks. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val work: File, val sfDir: String, val tracer: Tracer) {

  val rng = new scala.util.Random(seed)

  /** Operation ids whose output failed a check, with the reason. */
  val failures = ArrayBuffer.empty[(Int, String)]
  /** Physical-plan counts of every collected DataFrame (traced runs). */
  val shapes = ArrayBuffer.empty[PlanShape.Shape]

  def fail(op: Int, why: String): Unit = {
    failures += ((op, why))
    System.err.println(s"[perfbench] check failed (op $op): $why")
  }

  /** Run one client operation; a throw counts it as failed. */
  def op[T](kind: String)(body: => T): Option[T] =
    try Some(tracer.op(kind)(body))
    catch { case e: Throwable => fail(tracer.ops.size, s"$kind threw: $e"); None }

  /** Check the output of the operation that ran last. Checks run outside
    * the operation's timing. */
  def check(cond: Boolean, why: => String): Unit =
    if (!cond) fail(tracer.ops.size, why)

  /** Build a DataFrame and collect it, with the layer split a traced run
    * needs: construction (including any eager jobs the builder runs),
    * then Catalyst optimization and physical planning forced on the
    * same Dataset, then the action. */
  def collect(build: => DataFrame): Array[Row] = {
    val df = tracer.span("queries.construct")(build)
    if (tracer.traced) {
      tracer.span("catalyst.optimize")(df.queryExecution.optimizedPlan)
      tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
    }
    val rows = tracer.span("action.collect")(df.collect())
    if (tracer.traced) shapes += PlanShape.of(df)
    rows
  }

  /** A directory under this run's work directory, created empty. */
  def dir(name: String): File = {
    val d = new File(work, name)
    Fs.deleteTree(d)
    d.mkdirs()
    d
  }
}

object Fs {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** A workload: a set-up step, whose time counts into `setup_s`, and a
  * timed phase of closed-loop operations whose amount of work is a
  * function of the seed and `--seconds` only. */
trait Workload {
  def name: String
  def prepare(ctx: Ctx): Unit
  def timed(ctx: Ctx): Unit
  /** Workload-specific end-to-end figures, computed after the run. */
  def report(ctx: Ctx, wallS: Double): Seq[Metric] = Nil
  /** Workload-specific per-layer figures (traced runs). */
  def layers(ctx: Ctx, prof: Profile): Seq[Metric] = Nil
}

final case class Metric(name: String, value: Double, unit: String, n: Int = 0)
