package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** M8 — job admission and input selection over the catalog
  * (SURVEY.md §2.2 M8; `/root/reference/cn/mr_actions.go:54-85, 222`):
  *
  *  - a job name can run at most once CONCURRENTLY: a duplicate
  *    submission is rejected while the first is still executing, and the
  *    name frees on completion — success or failure (`jobs_map` guard at
  *    `:56-60`, `defer delete` at `:63`);
  *  - input selection is [[Catalog.mapInputs]], shared with
  *    `GraftEngine.mapReduce`: an explicit list is validated BEFORE any
  *    work starts, and binary entries never feed the map phase
  *    (`:72-85, 222`).
  *
  * The run is synchronous like the reference's `Map_reduce`: the result
  * is fully materialized (checkpoint-backed) before the method returns
  * and the job name is released — so "running" has the same meaning in
  * both systems. Scheduling/locality inside the run is Spark's (M7
  * delegated).
  */
class JobRunner(spark: SparkSession, catalog: Catalog) {

  private val running =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** @return the job's (reducerId, outputLine) rows, materialized.
    * @throws IllegalStateException    duplicate running job name
    * @throws IllegalArgumentException missing input files / no TXT input */
  def run(jobName: String, job: MrJob,
      fileNames: Seq[String] = Nil): DataFrame = {
    if (!running.add(jobName))
      throw new IllegalStateException(
        s"there's already a job named $jobName running") // :56-60
    try {
      MrPipeline
        .run(spark, MrPipeline.lines(spark, catalog.mapInputs(fileNames)), job)
        .localCheckpoint() // eager: the job completes inside the call
    } finally running.remove(jobName) // defer delete (:63)
  }
}
