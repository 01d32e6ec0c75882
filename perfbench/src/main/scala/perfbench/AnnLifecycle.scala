package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.engine.AnnIndexStore

/** `ann_lifecycle`: writes beside reads on one persisted index. Set-up
  * saves the index from the scale factor's embeddings; the timed phase
  * runs seeded waves of one `append` and several `searchTopKStored`
  * serves, and every few waves a `forget`, `compact`, `vacuum` and
  * `stats`. Checks: the manifest count always equals saved + appended -
  * forgotten, every appended vector serves itself at rank 1, and no
  * forgotten id is ever served again. */
final class AnnLifecycle extends Workload {
  val name = "ann_lifecycle"
  val Batch = 8
  val ServesPerWave = 2
  val WavesPerMaintain = 3
  val ForgetPerMaintain = 4
  val K = 5

  private var dir: String = _
  private var dim = 0
  /** Live vectors by id, and the forgotten ones (still used as queries). */
  private val live = mutable.LinkedHashMap.empty[Long, Array[Double]]
  private val forgotten = mutable.LinkedHashMap.empty[Long, Array[Double]]
  private var expectedN = 0L
  private val maintainS = mutable.ArrayBuffer.empty[Double]
  private val liveFiles = mutable.ArrayBuffer.empty[Double]

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false)))
  private val querySchema = StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("q", ArrayType(DoubleType, containsNull = false), nullable = false)))

  private def frame(ctx: Ctx, schema: StructType, rows: Seq[(Long, Array[Double])]): DataFrame =
    ctx.spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v.toSeq) }: _*), schema)

  /** Save the index, then run one lifecycle on it with throw-away vectors
    * (appended, served, forgotten, compacted away), so the timed phase
    * does not pay for first-run code generation, as `graft.Bench` does
    * with its warm pass. */
  def prepare(ctx: Ctx): Unit = {
    dir = ctx.dir("ann-index").getPath
    val m = ctx.tracer.span("ann.save")(AnnIndexStore.save(ctx.spark, ctx.sfDir, dir))
    dim = m.dim
    val g = new scala.util.Random(0)
    val warm = (0 until Batch).map(i => (9000000L + i, Array.fill(dim)(g.nextGaussian())))
    AnnIndexStore.append(ctx.spark, dir, frame(ctx, vecSchema, warm))
    AnnIndexStore.searchTopKStored(ctx.spark, dir, frame(ctx, querySchema, warm), K).collect()
    AnnIndexStore.forget(ctx.spark, dir, warm.map(_._1))
    AnnIndexStore.compact(ctx.spark, dir)
    AnnIndexStore.vacuum(ctx.spark, dir)
    AnnIndexStore.stats(ctx.spark, dir).collect()
    expectedN = AnnIndexStore.manifest(ctx.spark, dir).n_vectors
    require(expectedN == m.n_vectors, s"warm lifecycle left ${expectedN} vectors, saved ${m.n_vectors}")
    AnnIndexStore.load(ctx.spark, dir).select("vec_id", "v").collect()
      .foreach(r => live(r.getLong(0)) = r.getSeq[Double](1).toArray)
    require(live.size == expectedN, s"index holds $expectedN vectors, read back ${live.size}")
  }

  /** Waves grow with the run length: three waves and one maintenance
    * cycle per 16 seconds, about 17 s on a 4-core host. */
  def waves(seconds: Int): Int = WavesPerMaintain * math.max(1, math.round(seconds / 16.0).toInt)

  def timed(ctx: Ctx): Unit = {
    val rng = ctx.rng
    val t = ctx.tracer
    var nextId = 1000000L
    def op[T](kind: String)(body: => T): Option[T] = {
      val r = ctx.op(kind)(body)
      val n = AnnIndexStore.manifest(ctx.spark, dir).n_vectors
      ctx.check(n == expectedN, s"after $kind the manifest holds $n vectors, expected $expectedN")
      if (t.traced) liveFiles += AnnIndexStore.liveFiles(ctx.spark, dir).size
      r
    }
    (1 to waves(ctx.seconds)).foreach { wave =>
      val batch = (0 until Batch).map { _ =>
        nextId += 1
        (nextId, Array.fill(dim)(rng.nextGaussian()))
      }
      val input = frame(ctx, vecSchema, batch)
      expectedN += Batch
      op("append") { t.span("ann.append")(AnnIndexStore.append(ctx.spark, dir, input)) }
      batch.foreach { case (id, v) => live(id) = v }
      batch.grouped(Batch / ServesPerWave).foreach { mine =>
        val gone = rng.shuffle(forgotten.toSeq).take(2)
        val others = Seq.fill(2)(live.toSeq(rng.nextInt(live.size)))
        val panel = frame(ctx, querySchema, (mine ++ gone ++ others).distinctBy(_._1))
        op("serve") {
          t.span("ann.serve")(ctx.collect(AnnIndexStore.searchTopKStored(ctx.spark, dir, panel, K)))
        }.foreach { rows =>
          val top = rows.filter(_.getLong(1) == 1L).map(r => r.getLong(0) -> r.getLong(2)).toMap
          mine.foreach { case (id, _) =>
            ctx.check(top.get(id).contains(id), s"appended $id served ${top.get(id)} at rank 1")
          }
          val leaked = rows.map(_.getLong(2)).filter(forgotten.contains)
          ctx.check(leaked.isEmpty, s"forgotten ids served: ${leaked.distinct.mkString(",")}")
        }
      }
      if (wave % WavesPerMaintain == 0) {
        val victims = rng.shuffle(live.keys.toSeq).take(ForgetPerMaintain)
        expectedN -= victims.size
        val t0 = System.nanoTime()
        op("forget") { t.span("ann.forget")(AnnIndexStore.forget(ctx.spark, dir, victims)) }
        victims.foreach(id => forgotten(id) = live.remove(id).get)
        op("compact") { t.span("ann.compact")(AnnIndexStore.compact(ctx.spark, dir)) }
        op("vacuum") { t.span("ann.vacuum")(AnnIndexStore.vacuum(ctx.spark, dir)) }
        maintainS += (System.nanoTime() - t0) / 1e9
        op("stats")(t.span("ann.stats")(ctx.collect(AnnIndexStore.stats(ctx.spark, dir)))).foreach { s =>
          ctx.check(s.head.getAs[Long]("n_vectors") == expectedN,
            s"stats counts ${s.head.getAs[Long]("n_vectors")} vectors, expected $expectedN")
        }
      }
    }
  }

  private def latencies(ctx: Ctx, kind: String) = ctx.tracer.ops.filter(_.kind == kind).map(_.seconds).toSeq

  override def report(ctx: Ctx, wallS: Double): Seq[Metric] = {
    val serve = latencies(ctx, "serve")
    Seq(Main.pct("serve_p50_s", serve, 0.5)) ++ Main.p90("serve_p90_s", serve) ++
      Seq(Main.pct("append_p50_s", latencies(ctx, "append"), 0.5),
      Main.pct("maintain_p50_s", maintainS.toSeq, 0.5))
  }

  override def layers(ctx: Ctx, prof: Profile): Seq[Metric] = {
    def m(span: String) = Metric(span + "_s", prof.meanSeconds(span), "s", prof.spansNamed(span).size)
    Seq(m("ann.save"), m("ann.append"), m("ann.serve"), m("ann.forget"), m("ann.compact"),
      m("ann.vacuum"), m("ann.stats"),
      Metric("ann.live_files", Stats.median(liveFiles.toSeq).map(_.value).getOrElse(0.0), "count", liveFiles.size),
      Metric("ann.jobs_per_op", prof.perOp(prof.opJobs.size), "count", prof.ops.size))
  }
}
