package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** `graft.Bench`'s session settings (local[N], N shuffle partitions,
  * UTC, graft extensions, UI off) with N = min(4, cores), plus Spark's
  * local and warehouse directories kept under the run's work directory. */
object Session {
  def cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))

  def start(work: File): SparkSession = {
    val local = new File(work, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
