package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles}

/** Produces the query_mix data file: after a warm pass on sf0.001 over
  * every tenth pooled query, each pooled query runs once on the
  * benchmark's scale factor in a session of its own, so its time includes
  * the shared builds it reads (a run of query_mix samples few queries,
  * and each pays for its own builds). Order is by name, or (`--reverse`)
  * the reverse, so two passes show any digest that depends on order.
  * For each query it writes `<name>\t<seconds>\t<rows>\t<digest>` to
  * `<out>/calibration.tsv`, and the collected rows as parquet under
  * `<out>/<name>` together with `oracle_sql.json`, the layout
  * `tools/check.py` reads, so each committed digest can be traced to
  * rows that DuckDB agrees with.
  *
  * Usage: Calibrate <sfDir> <outDir> [--reverse]
  */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = new File(args(1))
    out.mkdirs()
    val base = Session.start(new File(sys.props.getOrElse("perfbench.work", "target/work")))
    val names = Inventory.pool.keys.toSeq.sorted
    val order = if (args.contains("--reverse")) names.reverse else names
    val warm = new File(new File(sfDir).getParentFile, "sf0.001").getPath
    order.grouped(10).map(_.head).foreach { n =>
      try Inventory.pool(n)(base, warm).collect()
      catch { case _: Throwable => }
    }
    val lines = order.map { n =>
      val t0 = System.nanoTime()
      val spark = base.newSession()
      try {
        val df = Inventory.pool(n)(spark, sfDir)
        val rows = df.collect()
        val secs = (System.nanoTime() - t0) / 1e9
        val digest = Digest.of(rows.toSeq, ordered = !Inventory.isRaw(n))
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(new File(out, n).getPath)
        System.err.println(f"[calibrate] $n%-40s $secs%.3f s")
        s"$n\t$secs\t${rows.length}\t$digest"
      } catch { case e: Throwable =>
        System.err.println(s"[calibrate] $n FAILED: $e")
        s"$n\t-1\t-1\tFAILED"
      }
    }
    JFiles.write(new File(out, "calibration.tsv").toPath,
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val oracle = graft.SparkEntry.oracleSql
    import org.json4s.jackson.Serialization
    JFiles.write(new File(out, "oracle_sql.json").toPath,
      Serialization.write(oracle)(org.json4s.DefaultFormats).getBytes(StandardCharsets.UTF_8))
    base.stop()
  }
}
