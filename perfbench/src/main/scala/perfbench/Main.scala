package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

/** One benchmark run:
  *
  * {{{
  * Main --workload <mr_corpus|query_mix|ann_lifecycle> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --data <dir> --sf <dir>
  * }}}
  *
  * `--work` is `<target>/work/<run>`, removed after the run; a traced run
  * writes its spans to `<target>/traces/<workload>-<seed>.json`.
  *
  * Prints a `{"report": ...}` line with every end-to-end figure (and, when
  * traced, every per-layer figure) by name, unit and sample count, then as
  * the last line the result object: `correct`, `attempted`, `failed` and
  * all those figures as `metrics`; run.py keeps the ones BENCHMARK.json
  * names.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val work = new File(need("work"))
    val data = new File(need("data"))
    val sfDir = need("sf")
    require(new File(sfDir, "lineitem.parquet").isFile, s"no scale-factor tables under $sfDir")
    val wl: Workload = need("workload") match {
      case "mr_corpus" => new MrCorpus
      case "query_mix" => new QueryMix(data)
      case "ann_lifecycle" => new AnnLifecycle
      case other => sys.error(s"unknown workload $other")
    }
    work.mkdirs()

    val spark = Session.start(work)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(traced, spark.sparkContext)
    val ctx = new Ctx(spark, seed, seconds, work, sfDir, tracer)

    val prepareS = timeS(wl.prepare(ctx))
    val setupS = sessionS + prepareS
    System.err.println(f"[perfbench] setup: session $sessionS%.2f s, prepare $prepareS%.2f s")

    System.gc()
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val wallS = timeS(wl.timed(ctx))
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val driverGcS = (gcMs - gc0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    tracer.finish()

    val lat = tracer.ops.map(_.seconds).toSeq
    val failedOps = ctx.failures.map(_._1).distinct.size
    val attempted = tracer.ops.size
    val e2e = Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("wall_s", wallS, "s"),
      Metric("cpu_s", cpuS, "s"),
      pct("op_p50_s", lat, 0.5)) ++
      p90("op_p90_s", lat) ++
      wl.report(ctx, wallS) ++
      Seq(Metric("fail_ratio", if (attempted == 0) 0.0 else failedOps.toDouble / attempted, "ratio", attempted))
    val layers =
      if (!traced) Nil
      else {
        val prof = new Profile(ctx, driverGcS, heapPeakMb)
        val all = prof.generic ++ wl.layers(ctx, prof)
        val traceFile = new File(work.getParentFile.getParentFile, s"traces/${wl.name}-$seed.json")
        writeTrace(traceFile, wl.name, seed, e2e, all, prof)
        all
      }

    val reported = e2e ++ layers
    println("{\"report\":{\"workload\":" + Json.str(wl.name) + ",\"seed\":" + seed +
      ",\"cores\":" + Session.cores + ",\"traced\":" + traced +
      ",\"metrics\":" + Json.arr(reported.map(Json.metric)) + "}}")
    val metrics = reported.map { m =>
      Json.str(m.name) + ":{\"value\":" + Json.num(m.value) + ",\"unit\":" + Json.str(m.unit) + "}"
    }
    spark.stop()
    println("{\"correct\":" + (failedOps == 0 && attempted > 0) + ",\"attempted\":" + attempted +
      ",\"failed\":" + failedOps + ",\"metrics\":{" + metrics.mkString(",") + "}}")
  }

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def pct(name: String, xs: Seq[Double], p: Double): Metric =
    Stats.percentile(xs, p).map(q => Metric(name, q.value, "s", q.n)).getOrElse(Metric(name, 0.0, "s", 0))

  /** The 90th percentile, only over at least 100 samples, so that ten lie
    * beyond it. */
  def p90(name: String, xs: Seq[Double]): Seq[Metric] =
    if (xs.size >= 100) Seq(pct(name, xs, 0.9)) else Nil

  private def writeTrace(f: File, workload: String, seed: Long,
      e2e: Seq[Metric], layers: Seq[Metric], prof: Profile): Unit = {
    val spanRows = prof.spanTable.map { case (n, calls, total, self) =>
      "{\"span\":" + Json.str(n) + ",\"calls\":" + calls + ",\"total_s\":" + Json.num(total) +
        ",\"self_s\":" + Json.num(self) + "}"
    }
    val spans = prof.spans.map { s =>
      "[" + s.id + "," + s.parent + "," + Json.str(s.name) + "," + s.op + "," +
        Json.num(prof.ops.headOption.map(o => (s.start - o.start) / 1e9).getOrElse(0.0)) + "," +
        Json.num(s.duration / 1e9) + "]"
    }
    val body = "{\"workload\":" + Json.str(workload) + ",\"seed\":" + seed +
      ",\"cores\":" + Session.cores +
      ",\"end_to_end\":" + Json.arr(e2e.map(Json.metric)) +
      ",\"per_layer\":" + Json.arr(layers.map(Json.metric)) +
      ",\"span_summary\":" + Json.arr(spanRows) +
      ",\"spans_columns\":[\"id\",\"parent\",\"name\",\"op\",\"start_s\",\"duration_s\"]" +
      ",\"spans\":" + Json.arr(spans) + "}\n"
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, body.getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def metric(m: Metric): String =
    "{\"name\":" + str(m.name) + ",\"value\":" + num(m.value) + ",\"unit\":" + str(m.unit) +
      ",\"n\":" + m.n + "}"
}
