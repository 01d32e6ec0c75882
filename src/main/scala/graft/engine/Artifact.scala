package graft.engine

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small BOUNDED memo over (session, key), generic over its value —
  * the same discipline as Tables' session cache: insertion-order
  * eviction after [[Memo.MaxEntries]]. `release` runs on the evicted
  * value at eviction time, and on a racing loser's value: a first
  * compute may run twice, the first value stored wins, and no lock is
  * held across the compute (a Spark job runs there). Data dirs are
  * immutable for an entry's useful life (TESTDATA.md), so entries
  * never go stale. Over all keys, the memo counts its computes (racing
  * losers too), hits and compute time, which `graft.Profile` reports. */
final class Memo[V <: AnyRef](release: V => Unit) {
  val builds = new AtomicLong
  val hits = new AtomicLong
  val buildNanos = new AtomicLong

  private val m = new java.util.LinkedHashMap[(SparkSession, String), V](
      16, 0.75f, false) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(SparkSession, String), V]): Boolean = {
      val evict = this.size() > Memo.MaxEntries
      if (evict) release(e.getValue)
      evict
    }
  }

  def get(s: SparkSession, key: String)(compute: => V): V = {
    val k = (s, key)
    val hit = m.synchronized(m.get(k))
    if (hit != null) { hits.incrementAndGet(); hit }
    else {
      val t0 = System.nanoTime()
      val v = compute // outside the lock
      buildNanos.addAndGet(System.nanoTime() - t0)
      builds.incrementAndGet()
      m.synchronized {
        val again = m.get(k)
        if (again != null) { release(v); again }
        else { m.put(k, v); v }
      }
    }
  }

  def size: Int = m.synchronized(m.size)
}

object Memo {
  val MaxEntries = 8
}

/** One shared build, declared once: `Artifact(name)(build)`. The
  * artifact owns the bounded memo of the built frame per (session,
  * dir), its storage and its release; `build` itself, un-memoized, is
  * the `<name>_raw` row RawBuilds derives for Bench, so every shared
  * frame is priced by construction and a declared query that reads
  * the memo never hides the build cost behind a cache read.
  *
  * Storage: the built frame is `localCheckpoint()`ed once, unless it
  * materializes itself ([[Artifact.AsBuilt]]). Eviction and a racing
  * loser release the checkpoint's exact persisted RDD at once rather
  * than waiting for GC and the ContextCleaner — with two dozen
  * artifacts × 8 entries in a long-lived session, lazy release would
  * accrete pinned blocks. A [[Artifact.Durable]] artifact on a session
  * with `spark.graft.indexWarehouse` set is instead written once
  * through [[Catalog.storeTable]] and read back, so every consumer's
  * lineage is rooted at a parquet scan: at 100 TB an executor loss
  * replays a file read instead of the build (DedupDurableSpec,
  * SimilarityDurableSpec).
  */
final class Artifact private[graft] (val name: String,
    storage: Artifact.Storage,
    val build: (SparkSession, String) => DataFrame) {

  private[graft] val memo = new Memo[(DataFrame, Option[RDD[_]])](
    // Dataset.unpersist would be a no-op on a localCheckpoint frame
    // (see Frames.checkpointRdd)
    _._2.foreach(_.unpersist(blocking = false)))

  def apply(s: SparkSession, d: String): DataFrame = {
    val (key, make) = (storage, s.conf.getOption(Artifact.Warehouse)) match {
      case (Artifact.Durable(prefix), Some(wh)) =>
        (s"$d|durable=$wh", () => Artifact.stored(s, d, wh, prefix, build))
      case (Artifact.AsBuilt, _) => (d, () => build(s, d))
      case _ => (d, () => build(s, d).localCheckpoint())
    }
    memo.get(s, key) { val v = make(); (v, Frames.checkpointRdd(v)) }._1
  }
}

object Artifact {
  sealed trait Storage
  /** `localCheckpoint()` the built frame (the default). */
  case object Checkpoint extends Storage
  /** The build materializes itself; store the frame as returned. */
  case object AsBuilt extends Storage
  /** Like [[Checkpoint]], except on a session with
    * `spark.graft.indexWarehouse` set: then the write-once warehouse
    * table `<prefix>_<md5(dir)>`. */
  final case class Durable(prefix: String) extends Storage

  private val Warehouse = "spark.graft.indexWarehouse"

  private val declared =
    scala.collection.mutable.LinkedHashMap.empty[String, Artifact]

  /** Declare a shared build, as a `val` of a query family: starting
    * the family (RawBuilds starts them all) registers it. Declaring
    * runs no Spark work. */
  def apply(name: String, storage: Storage = Checkpoint)(
      build: (SparkSession, String) => DataFrame): Artifact = {
    val a = new Artifact(name, storage, build)
    declared.synchronized {
      require(!declared.contains(name), s"artifact $name declared twice")
      declared(name) = a
    }
    a
  }

  /** Every artifact declared so far, in declaration order. */
  def all: Seq[Artifact] = declared.synchronized(declared.values.toList)

  /** Build once into the warehouse `wh` and read the WRITTEN table. The
    * table name is keyed by the data dir's digest. Losing the publish
    * race to a concurrent builder is fine — the winner's table is the
    * same content, so read it; only that race's signal ("file exists:
    * …") is swallowed, any other failure of the build or write
    * propagates. */
  private def stored(s: SparkSession, d: String, wh: String, prefix: String,
      build: (SparkSession, String) => DataFrame): DataFrame = {
    val name = prefix + "_" + java.security.MessageDigest
      .getInstance("MD5").digest(d.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    val cat = new Catalog(s, wh)
    try {
      if (!cat.exists(name))
        try cat.storeTable(build(s, d), name)
        catch {
          case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.startsWith("file exists") =>
        }
      cat.readTable(name)
    } finally cat.close()
  }
}

/** Frame-level storage helpers shared by Artifact and Components. */
object Frames {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The exact persisted RDD behind a localCheckpoint'd frame, extracted
    * from its LogicalRDD plan. `Dataset.unpersist` is a no-op on such a
    * frame (no CacheManager entry — the storage belongs to the RDD), so
    * releasing the blocks deterministically requires this handle.
    * Returns None for frames that are not checkpoint-backed (nothing
    * persisted → nothing to release). */
  def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case other =>
        // A localCheckpoint frame analyzes to a LogicalRDD on Spark 4.1;
        // a non-checkpointed frame analyzes to its ordinary plan and
        // carries no persisted blocks — only warn when the frame claims
        // checkpoint storage we failed to extract.
        if (df.storageLevel.useMemory || df.storageLevel.useDisk)
          log.warn(
            "checkpoint RDD extraction failed — analyzed plan is " +
              s"${other.getClass.getName}, not LogicalRDD; the persisted " +
              "blocks will not be released until the ContextCleaner runs")
        None
    }
}
