package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import Stats.Span

/** One operation as the client saw it: its kind, id and wall interval
  * (nanoTime). Recorded in every run; latencies come from here. */
final case class OpRec(id: Int, kind: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Records operations, and in a traced run one span per call into a
  * layer. Spans carry the id of the operation they belong to; Spark jobs
  * carry the same ids through thread-local job properties, so the
  * listener can attribute every job, stage and task to a span. The
  * client is one thread, so a plain stack tracks the span nesting. */
final class Tracer(val traced: Boolean, sc: SparkContext) {
  val ops = ArrayBuffer.empty[OpRec]
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextSpan = 1
  private var curOp = 0
  // span clocks are nanoTime; listener times are epoch millis
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def epochMs(nano: Long): Double = baseMs + (nano - baseNano) / 1e6

  val probe: Option[Probe] =
    if (traced) { val p = new Probe; sc.addSparkListener(p); Some(p) } else None

  /** Time one client operation, also when it throws. */
  def op[T](kind: String)(body: => T): T = {
    val id = ops.size + 1
    curOp = id
    val t0 = System.nanoTime()
    try span("op." + kind)(body)
    finally {
      ops += OpRec(id, kind, t0, System.nanoTime())
      curOp = 0
    }
  }

  /** Record one call into a layer (traced runs only). */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      sc.setLocalProperty(Tracer.OpKey, curOp.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, curOp, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
        if (stack.isEmpty) sc.setLocalProperty(Tracer.OpKey, null)
      }
    }

  /** Stop listening; every event posted so far is delivered first. */
  def finish(): Unit = probe.foreach { p =>
    org.apache.spark.PerfbenchBus.drain(sc, 60000L)
    sc.removeSparkListener(p)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"
}

final case class JobRec(id: Int, op: Int, span: Int, start: Long, end: Long)
final case class StageRec(id: Int, op: Int, span: Int, numTasks: Int,
    submit: Long, complete: Long)
final case class TaskRec(stage: Int, launch: Long, runMs: Long,
    cpuNs: Long, deserMs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
    shWriteBytes: Long, shWriteRecords: Long, shReadBytes: Long,
    fetchWaitMs: Long, spillBytes: Long)

/** The listener the benchmark owns. It only copies event fields into
  * buffers; all arithmetic happens after the run. */
final class Probe extends SparkListener {
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Int, Int, Long)]
  private val stageTag = scala.collection.mutable.Map.empty[Int, (Int, Int)]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]

  private def tag(p: java.util.Properties, key: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(key))).flatMap(_.toIntOption).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (tag(e.properties, Tracer.OpKey), tag(e.properties, Tracer.SpanKey), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (op, span, t0) =>
      jobs += JobRec(e.jobId, op, span, t0, e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageTag(e.stageInfo.stageId) =
      (tag(e.properties, Tracer.OpKey), tag(e.properties, Tracer.SpanKey))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val (op, span) = stageTag.getOrElse(i.stageId, (0, 0))
    stages += StageRec(i.stageId, op, span, i.numTasks, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime, m.executorRunTime, m.executorCpuTime,
      m.executorDeserializeTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled)
  }
}

/** Counts on a physical plan, descending through adaptive query stages
  * and subqueries; a reused exchange is counted once and not entered. */
object PlanShape {
  final case class Shape(scans: Int, exchanges: Int, reusedExchanges: Int)

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => Iterator(s) ++ nodes(s.plan)
    case r: ReusedExchangeExec => Iterator(r)
    case _ =>
      Iterator(p) ++ p.children.iterator.flatMap(nodes) ++
        p.subqueries.iterator.flatMap(nodes)
  }

  def of(df: DataFrame): Shape = {
    val all = nodes(df.queryExecution.executedPlan).toSeq
    Shape(
      scans = all.count(n => n.children.isEmpty && n.nodeName.contains("Scan")),
      exchanges = all.count(_.isInstanceOf[Exchange]),
      reusedExchanges = all.count(_.isInstanceOf[ReusedExchangeExec]))
  }
}
