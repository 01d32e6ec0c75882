package perfbench

import Stats.Span

/** The per-layer split of a traced run, computed after the listener has
  * drained. Unless a name says otherwise, a figure is a per-operation
  * figure: its sum over the timed phase divided by the operations run. */
final class Profile(ctx: Ctx, val driverGcS: Double, val heapPeakMb: Double) {
  private val t = ctx.tracer
  private val probe = t.probe.getOrElse(sys.error("profile needs a traced run"))
  val ops: Seq[OpRec] = t.ops.toSeq
  val nOps: Int = math.max(1, ops.size)
  val spans: Seq[Span] = t.spans.toSeq
  private val spanById = spans.map(s => s.id -> s).toMap
  val jobs: Seq[JobRec] = probe.jobs.toSeq
  val stages: Seq[StageRec] = probe.stages.toSeq
  val tasks: Seq[TaskRec] = probe.tasks.toSeq

  val opJobs: Seq[JobRec] = jobs.filter(_.op > 0)
  val opStages: Seq[StageRec] = stages.filter(_.op > 0)
  private val opStageIds = opStages.map(_.id).toSet
  val opTasks: Seq[TaskRec] = tasks.filter(x => opStageIds(x.stage))
  val tasksByStage: Map[Int, Seq[TaskRec]] = tasks.groupBy(_.stage)

  /** Is span `id` named `name` or nested (at any depth) inside such a span? */
  def within(id: Int, name: String): Boolean =
    Iterator.iterate(spanById.get(id))(_.flatMap(s => spanById.get(s.parent)))
      .takeWhile(_.isDefined).exists(_.exists(_.name == name))

  def perOp(x: Double): Double = x / nOps
  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name)
  def meanSeconds(name: String): Double = {
    val s = spansNamed(name)
    if (s.isEmpty) 0.0 else s.map(_.duration).sum / 1e9 / s.size
  }

  /** Job intervals of one op, in epoch millis. */
  private def jobIntervals(op: Int): Seq[(Long, Long)] =
    opJobs.filter(_.op == op).map(j => (j.start, j.end))

  private def opEpoch(o: OpRec): (Long, Long) =
    (math.floor(t.epochMs(o.start)).toLong, math.ceil(t.epochMs(o.end)).toLong)

  /** Wall time of the ops that no Spark job covered, summed (seconds). */
  val outsideJobsS: Double = ops.map { o =>
    val (s, e) = opEpoch(o)
    (e - s - Stats.coveredWithin(s, e, jobIntervals(o.id))) / 1e3
  }.sum

  val jobCoveredS: Double = ops.map { o =>
    val (s, e) = opEpoch(o)
    Stats.coveredWithin(s, e, jobIntervals(o.id)) / 1e3
  }.sum

  val opWallS: Double = ops.map(_.seconds).sum
  val constructS: Double = spansNamed("queries.construct").filter(_.op > 0).map(_.duration).sum / 1e9
  val constructJobs: Int = opJobs.count(j => within(j.span, "queries.construct"))
  val runS: Double = opTasks.map(_.runMs).sum / 1e3

  /** First task launch minus stage submission, summed over stages. */
  val launchDelayS: Double = opStages.flatMap { s =>
    tasksByStage.get(s.id).filter(_.nonEmpty).map(ts => math.max(0L, ts.map(_.launch).min - s.submit))
  }.sum / 1e3

  private val mb = 1024.0 * 1024.0

  def generic: Seq[Metric] = {
    val shapes = ctx.shapes
    def shapeMean(f: PlanShape.Shape => Int) =
      if (shapes.isEmpty) 0.0 else shapes.map(f).sum.toDouble / shapes.size
    val stageTasks = opStages.map(_.numTasks.toDouble)
    Seq(
      Metric("ops", ops.size, "count"),
      Metric("queries.construct_s", perOp(constructS), "s", ops.size),
      Metric("queries.construct_jobs", perOp(constructJobs), "count", ops.size),
      Metric("queries.construct_share", if (opWallS > 0) constructS / opWallS else 0.0, "ratio", ops.size),
      Metric("catalyst.optimize_s", perOp(spansNamed("catalyst.optimize").map(_.duration).sum / 1e9), "s", ops.size),
      Metric("catalyst.plan_s", perOp(spansNamed("catalyst.plan").map(_.duration).sum / 1e9), "s", ops.size),
      Metric("catalyst.scans", shapeMean(_.scans), "count", shapes.size),
      Metric("catalyst.exchanges", shapeMean(_.exchanges), "count", shapes.size),
      Metric("catalyst.reused_exchanges", shapeMean(_.reusedExchanges), "count", shapes.size),
      Metric("scheduler.jobs", perOp(opJobs.size), "count", ops.size),
      Metric("scheduler.stages", perOp(opStages.size), "count", ops.size),
      Metric("scheduler.tasks", perOp(opTasks.size), "count", ops.size),
      Metric("scheduler.median_stage_tasks", Stats.median(stageTasks).map(_.value).getOrElse(0.0), "count", stageTasks.size),
      Metric("scheduler.single_task_stage_ratio",
        if (opStages.isEmpty) 0.0 else opStages.count(_.numTasks == 1).toDouble / opStages.size, "ratio", opStages.size),
      Metric("scheduler.task_deserialize_s", perOp(opTasks.map(_.deserMs).sum / 1e3), "s", ops.size),
      Metric("scheduler.launch_delay_s", perOp(launchDelayS), "s", ops.size),
      Metric("scheduler.driver_outside_jobs_s", perOp(outsideJobsS), "s", ops.size),
      Metric("executor.run_s", perOp(runS), "s", ops.size),
      Metric("executor.cpu_s", perOp(opTasks.map(_.cpuNs).sum / 1e9), "s", ops.size),
      Metric("executor.gc_s", perOp(opTasks.map(_.gcMs).sum / 1e3), "s", ops.size),
      Metric("executor.parallelism", if (jobCoveredS > 0) runS / jobCoveredS else 0.0, "ratio", ops.size),
      Metric("io.input_mb", perOp(opTasks.map(_.inBytes).sum / mb), "MB", ops.size),
      Metric("io.input_records", perOp(opTasks.map(_.inRecords).sum.toDouble), "count", ops.size),
      Metric("shuffle.write_mb", perOp(opTasks.map(_.shWriteBytes).sum / mb), "MB", ops.size),
      Metric("shuffle.read_mb", perOp(opTasks.map(_.shReadBytes).sum / mb), "MB", ops.size),
      Metric("shuffle.fetch_wait_s", perOp(opTasks.map(_.fetchWaitMs).sum / 1e3), "s", ops.size),
      Metric("shuffle.spill_mb", perOp(opTasks.map(_.spillBytes).sum / mb), "MB", ops.size),
      Metric("driver.gc_s", perOp(driverGcS), "s", ops.size),
      Metric("driver.heap_peak_mb", heapPeakMb, "MB"))
  }

  /** Per span name: calls, total seconds and self seconds (the duration
    * not covered by nested spans). */
  def spanTable: Seq[(String, Int, Double, Double)] = {
    val self = Stats.selfTimes(spans)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      (n, ss.size, ss.map(_.duration).sum / 1e9, ss.map(s => self(s.id)).sum / 1e9)
    }
  }
}
