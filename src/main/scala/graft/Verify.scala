package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // extra args = run only these queries (local iteration; the driver
    // always passes exactly two)
    val only = args.drop(2).toSet
    val spark = GraftEngine.toolSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws must be VISIBLE, not silently absent from the
    // correctness artifact (round 6 lost 11 queries that way): collect
    // failures, dump them as verify_errors.json in BOTH outDir and the
    // cwd (the repo), and print a loud per-run summary.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    try Files.writeString(Paths.get("verify_errors.json"), errJson)
    catch { case _: Throwable => }
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} QUERIES FAILED (coverage regressed): " +
          failures.keys.mkString(","))
    spark.stop()
    // Exit-code contract matches Bench (ADVICE r7): automation gating on
    // rc must not read a coverage-regressed run as green. The artifacts
    // above are already written, so nothing is lost by the hard exit.
    if (failures.nonEmpty) sys.exit(1)
  }
}
