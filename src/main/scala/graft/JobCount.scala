package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Scheduler-overhead audit (r17): runs each named query to completion
  * and prints how many Spark JOBS, STAGES and TASKS it launched plus
  * wall seconds. At sf0.1 every row is fixed-overhead-bound (VERDICT
  * r16 scaling block), so jobs x stages IS the cost model — this tool
  * is the measurement for the "make heavy rows scheduler-light" item.
  *
  * Usage: runMain graft.JobCount <sfDir> <query> [query ...]
  * (names may also be *_raw rows from RawBuilds)
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      println("usage: runMain graft.JobCount <sfDir> <query> [query ...]")
      return
    }
    val sfDir = args.head
    val spark = GraftEngine.toolSession()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    val inventory = SparkEntry.queries ++ RawBuilds.map
    for (n <- args.tail) {
      val fn = inventory(n)
      // warm pass so codegen/memo state matches the bench's steady state
      fn(spark, sfDir).count()
      Thread.sleep(300) // let listener events drain
      jobs.set(0); stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"[jobcount] $n jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} sec=$sec%.3f")
    }
    spark.stop()
  }
}
