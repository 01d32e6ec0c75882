package graft.engine

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persistable ANN index contract: save → load → search is
  * bit-identical to searching the freshly built assignment (via both
  * the fresh-frame and stored-quantizer serve paths); the on-disk
  * layout prunes probes to their cells at the scan; every corruption
  * class (no manifest, version skew, truncated data) fails loudly at
  * load, never at query time; append assigns with the STORED quantizer
  * and keeps recall; forget makes ids unreachable and flags a stale
  * codebook; stats carries the rebuild trigger. */
class AnnIndexStoreSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    AnnIndexStore.save(spark, sf(), d)
    d
  }

  private def queries3 = {
    import spark.implicits._
    graft.Tables.t(spark, sf(), "embeddings")
      .select($"vec_id".as("q_id"),
        $"embedding".cast("array<double>").as("q"))
      .filter($"q_id" % 97 === 0)
  }

  /** Exact cosine top-k ground truth, replayed in plain Scala. */
  private def bruteTopK(vecs: Map[Long, Array[Double]], q: Array[Double],
      k: Int): Seq[Long] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0d; var na = 0d; var nb = 0d
      a.indices.foreach { i =>
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      math.round(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e4) / 1e4
    }
    vecs.toSeq.map { case (id, v) => (-cos(q, v), id) }.sorted
      .take(k).map(_._2)
  }

  /** Runs `body` and returns the job description of every Spark job
    * that started meanwhile (null when a job had none). A marker job
    * run afterwards proves the listener has seen every earlier start. */
  private def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val marker = new java.util.concurrent.CountDownLatch(1)
    val tag = "jobs-during-marker"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        if (d.contains(tag)) marker.countDown() else descs.add(d)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("spark.job.description", prev)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      (out, descs.asScala.toSeq.map(_.orNull))
    } finally sc.removeSparkListener(listener)
  }

  test("manifest records the real geometry") {
    val m = AnnIndexStore.manifest(spark, dir)
    assert(m.version == AnnIndexStore.Version)
    assert(m.dim == 64 && m.n_vectors > 0 && m.k >= 8)
    assert(m.n_vectors == graft.Tables.t(spark, sf(), "embeddings").count())
    assert(m.kk == math.max(8L,
      math.ceil(math.sqrt(m.n_vectors.toDouble)).toLong))
    assert(m.kk2 == math.ceil(math.sqrt(m.kk.toDouble)).toLong)
    assert(!m.codebook_stale)
  }

  test("save -> load -> search equals searching the fresh build, on both serve paths") {
    import spark.implicits._
    val loaded = AnnIndexStore.load(spark, dir, verify = true)
    val fresh = graft.queries.Similarity.ivfCells(spark, sf())
    // the artifact IS the assignment
    assert(loaded.select($"vec_id", $"cell").collect().map(_.toSeq).toSet ==
      fresh.select($"vec_id", $"cell").collect().map(_.toSeq).toSet)
    def norm(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    val a = norm(AnnIndexStore.searchTopK(spark, loaded, queries3, k = 5))
    val b = norm(AnnIndexStore.searchTopK(spark, fresh, queries3, k = 5))
    val c = norm(AnnIndexStore.searchTopKStored(spark, dir, queries3, k = 5))
    assert(a.nonEmpty && a == b, "loaded-index search != fresh-index search")
    assert(a == c, "stored-quantizer search != fresh-quantizer search " +
      "on a never-appended index")
    // rank 1 of a corpus vector must score a rounded cosine of 1.0 —
    // itself, or a 4dp-tied twin with a smaller id
    val self = AnnIndexStore.searchTopKStored(spark, dir, queries3, k = 1)
      .select($"q_id", $"sim").collect()
    assert(self.nonEmpty && self.forall(_.getDouble(1) == 1.0),
      "a corpus vector's top-1 must score rounded cosine 1.0")
  }

  test("probing filters prune partitions at the scan") {
    import spark.implicits._
    val cell0 = AnnIndexStore.load(spark, dir)
      .select(min($"cell")).collect()(0).getLong(0)
    val plan = spark.read.parquet(s"$dir/cells")
      .filter($"cell" === cell0)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") &&
      plan.contains("cell"), s"no partition pruning in:\n$plan")
  }

  test("corruption classes fail loudly at load") {
    // not an index dir
    val empty = java.nio.file.Files.createTempDirectory("graft_noidx")
    val e1 = intercept[IllegalStateException] {
      AnnIndexStore.load(spark, empty.toString)
    }
    assert(e1.getMessage.contains("manifest"))
    // version skew
    val skew = java.nio.file.Files.createTempDirectory("graft_skew").toString
    AnnIndexStore.save(spark, sf(), skew)
    val mp = java.nio.file.Paths.get(skew, "manifest.json")
    // tampering out-of-band invalidates the Hadoop LocalFS checksum
    // sidecar — remove it so the read exercises OUR validation, not CRC
    val crc = java.nio.file.Paths.get(skew, ".manifest.json.crc")
    java.nio.file.Files.writeString(mp,
      java.nio.file.Files.readString(mp)
        .replace("\"version\":" + AnnIndexStore.Version, "\"version\":99"))
    java.nio.file.Files.deleteIfExists(crc)
    val e2 = intercept[IllegalStateException] {
      AnnIndexStore.load(spark, skew)
    }
    assert(e2.getMessage.contains("v99"))
    // a GENUINE v1 manifest (no kk/kk2 fields): must report the
    // version skew, not "unreadable" — the version check runs on the
    // raw AST before the full extraction (review r13: extract-first
    // misdiagnosed old layouts as corruption)
    java.nio.file.Files.writeString(mp,
      """{"version":1,"n_vectors":10,"dim":4,"k":3,"source":"/x"}""")
    java.nio.file.Files.deleteIfExists(crc)
    val eV1 = intercept[IllegalStateException] {
      AnnIndexStore.load(spark, skew)
    }
    assert(eV1.getMessage.contains("layout v1"), eV1.getMessage)
    // garbage manifest bytes
    java.nio.file.Files.writeString(mp, "not json {{{")
    java.nio.file.Files.deleteIfExists(crc)
    val e4 = intercept[IllegalStateException] {
      AnnIndexStore.load(spark, skew)
    }
    assert(e4.getMessage.contains("unreadable"))
    // truncated cells dir: drop one cell partition — the footer
    // integrity pass names the manifest mismatch (a missing file
    // counts 0 rows), and the default load fails fast at snapshot
    // resolution (v3 reads the PINNED file list, so a physically
    // missing file surfaces at load, not at query time)
    val trunc = java.nio.file.Files.createTempDirectory("graft_trunc").toString
    AnnIndexStore.save(spark, sf(), trunc)
    val parts = new java.io.File(s"$trunc/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(parts.head)
    val e3 = intercept[IllegalStateException] {
      AnnIndexStore.load(spark, trunc, verify = true)
    }
    assert(e3.getMessage.contains("manifest says"))
    // the default (pinned) load fails loudly too — never lazily
    intercept[Exception] { AnnIndexStore.load(spark, trunc).count() }
    // a manifest pointing at a MISSING snapshot (torn commit) is loud
    val tornDir = java.nio.file.Files.createTempDirectory("graft_torn").toString
    val mT = AnnIndexStore.save(spark, sf(), tornDir)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(tornDir, s"snapshot_${mT.snapshot_id}.json"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(tornDir, s".snapshot_${mT.snapshot_id}.json.crc"))
    val e5 = intercept[IllegalStateException] {
      AnnIndexStore.load(spark, tornDir)
    }
    assert(e5.getMessage.contains("snapshot"))
  }

  test("manifest JSON survives a hostile source path") {
    import spark.implicits._
    // characters that corrupted the v1 hand-rolled writer/regex parser
    val hostile = java.nio.file.Files
      .createTempDirectory("graft_a,\"b}c").toString
    graft.Tables.t(spark, sf(), "embeddings")
      .write.parquet(s"$hostile/embeddings.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft_hostidx").toString
    val saved = AnnIndexStore.save(spark, hostile, out)
    val read = AnnIndexStore.manifest(spark, out)
    assert(read == saved && read.source == hostile)
  }

  test("append assigns with the stored quantizer; appended ids are served") {
    import spark.implicits._
    // base index over vec_id < 400; append the remaining 100
    val base = java.nio.file.Files.createTempDirectory("graft_base").toString
    graft.Tables.t(spark, sf(), "embeddings").filter($"vec_id" < 400)
      .write.parquet(s"$base/embeddings.parquet")
    val idxDir = java.nio.file.Files.createTempDirectory("graft_appidx").toString
    val m0 = AnnIndexStore.save(spark, base, idxDir)
    assert(m0.n_vectors == 400)
    val delta = graft.Tables.t(spark, sf(), "embeddings")
      .filter($"vec_id" >= 400)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val m1 = AnnIndexStore.append(spark, idxDir, delta)
    assert(m1.n_vectors == 500 && m1.kk == m0.kk && m1.k == m0.k,
      s"append must bump n only, got $m1")
    // every appended vector probes its own assigned cell: querying an
    // appended vector returns ITSELF at rank 1, rounded cosine 1.0
    val qs = delta.select($"vec_id".as("q_id"), $"v".as("q"))
    val top1 = AnnIndexStore.searchTopKStored(spark, idxDir, qs, k = 1)
      .select($"q_id", $"vec_id", $"sim").collect()
    assert(top1.length == 100)
    assert(top1.forall(_.getDouble(2) == 1.0),
      "an appended vector's top-1 must score rounded cosine 1.0")
    // recall parity vs a FRESH build over the union: the no-re-train
    // append may not beat a retrained quantizer, but must stay close
    val vecs = graft.Tables.t(spark, sf(), "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val fullDir = java.nio.file.Files.createTempDirectory("graft_full").toString
    AnnIndexStore.save(spark, sf(), fullDir)
    def recall(dir: String): Double = {
      val got = AnnIndexStore.searchTopKStored(spark, dir, queries3, 10)
        .select($"q_id", $"vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      val per = got.map { case (q, ids) =>
        val truth = bruteTopK(vecs, vecs(q), 10).toSet
        (ids & truth).size.toDouble / truth.size
      }
      per.sum / per.size
    }
    val rAppend = recall(idxDir)
    val rFresh = recall(fullDir)
    assert(rAppend >= rFresh - 0.1,
      s"append recall $rAppend fell >0.1 below fresh-build recall $rFresh")
  }

  test("forget makes ids unreachable, rewrites only their cells, and flags a stale codebook") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_forget").toString
    val m0 = AnnIndexStore.save(spark, sf(), d)
    // pick two NON-centroid ids and remember which cells they live in
    val victims = Seq(450L, 451L)
    assert(victims.forall(_ >= m0.kk))
    val before = AnnIndexStore.load(spark, d)
    val victimCells = before.filter($"vec_id".isin(victims: _*))
      .select($"cell").distinct().as[Long].collect().toSet
    val untouchedCell = before.select($"cell").distinct().as[Long]
      .collect().filterNot(victimCells).head
    val filesBefore = new java.io.File(s"$d/cells/cell=$untouchedCell")
      .listFiles().map(_.getName).toSet
    val m1 = AnnIndexStore.forget(spark, d, victims)
    assert(m1.n_vectors == m0.n_vectors - 2 && !m1.codebook_stale)
    // leak audit: the ids are gone from the persisted cells entirely
    assert(AnnIndexStore.load(spark, d, verify = true)
      .filter($"vec_id".isin(victims: _*)).count() == 0)
    // ...and unreachable via search, even querying their own vectors
    val qs = graft.Tables.t(spark, sf(), "embeddings")
      .filter($"vec_id".isin(victims: _*))
      .select($"vec_id".as("q_id"),
        $"embedding".cast("array<double>").as("q"))
    val served = AnnIndexStore.searchTopKStored(spark, d, qs, 10)
      .select($"vec_id").as[Long].collect()
    assert(served.nonEmpty && !served.exists(victims.contains),
      "a forgotten id surfaced in search results")
    // partition-scoped rewrite: an untouched cell's files are untouched
    val filesAfter = new java.io.File(s"$d/cells/cell=$untouchedCell")
      .listFiles().map(_.getName).toSet
    assert(filesAfter == filesBefore,
      "forget rewrote a cell that held no forgotten id")
    // stats: healthy index, no rebuild yet
    val s0 = AnnIndexStore.stats(spark, d).collect()(0)
    assert(!s0.getAs[Boolean]("rebuild_recommended"))
    // forgetting a codebook id flags the rebuild trigger
    val m2 = AnnIndexStore.forget(spark, d, Seq(3L))
    assert(m2.codebook_stale)
    assert(AnnIndexStore.load(spark, d)
      .filter($"vec_id" === 3L).count() == 0)
    val s1 = AnnIndexStore.stats(spark, d).collect()(0)
    assert(s1.getAs[Boolean]("codebook_stale") &&
      s1.getAs[Boolean]("rebuild_recommended"))
  }

  test("stats reads the cell-occupancy shape") {
    val s0 = AnnIndexStore.stats(spark, dir).collect()(0)
    val m = AnnIndexStore.manifest(spark, dir)
    assert(s0.getAs[Long]("n_cells") == m.k)
    assert(s0.getAs[Long]("n_vectors") == m.n_vectors)
    assert(s0.getAs[Double]("imbalance") >= 1.0)
    // fresh save writes one file per cell — the compaction-clean layout
    assert(s0.getAs[Long]("frag_files") == 1L)
    assert(!s0.getAs[Boolean]("compact_recommended"))
  }

  test("compact defragments appended cells; search is bit-equal before/after") {
    import spark.implicits._
    val d2 = java.nio.file.Files
      .createTempDirectory("graft_annidx_cpt").toString
    val emb = graft.Tables.t(spark, sf(), "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    // base = 1/3 of vectors; two append waves fragment the cells
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft_annidx_b2").toString
    emb.filter($"vec_id" % 3 === 0)
      .select($"vec_id", $"v".as("embedding"))
      .write.mode("overwrite").parquet(s"$baseDir/embeddings.parquet")
    AnnIndexStore.save(spark, baseDir, d2)
    AnnIndexStore.append(spark, d2, emb.filter($"vec_id" % 3 === 1))
    val mPre = AnnIndexStore.append(spark, d2, emb.filter($"vec_id" % 3 === 2))

    val fcPre = AnnIndexStore.cellFileCounts(spark, d2)
    assert(fcPre.values.max >= 3,
      s"two append waves must fragment some cell: $fcPre")
    val stPre = AnnIndexStore.stats(spark, d2).collect()(0)
    assert(stPre.getAs[Long]("frag_files") >= 3L)
    assert(stPre.getAs[Boolean]("compact_recommended"))

    def norm(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("q_id", "rank")
        .collect().map(_.mkString("|")).toSeq
    val before = norm(
      AnnIndexStore.searchTopKStored(spark, d2, queries3, k = 3))

    val compacted = AnnIndexStore.compact(spark, d2)
    assert(compacted.nonEmpty)
    val fcPost = AnnIndexStore.cellFileCounts(spark, d2)
    compacted.foreach { c =>
      assert(fcPost(c) == 1, s"cell $c still holds ${fcPost(c)} files")
    }
    assert(fcPost.values.sum < fcPre.values.sum, "total file count drops")

    // bit-equal serving and an unchanged manifest row count
    val after = norm(
      AnnIndexStore.searchTopKStored(spark, d2, queries3, k = 3))
    assert(after == before, "compaction must not change search results")
    assert(AnnIndexStore.manifest(spark, d2).n_vectors == mPre.n_vectors)

    val stPost = AnnIndexStore.stats(spark, d2).collect()(0)
    assert(stPost.getAs[Long]("frag_files") == 1L)
    assert(!stPost.getAs[Boolean]("compact_recommended"))

    // idempotent: a clean index has nothing to compact
    assert(AnnIndexStore.compact(spark, d2).isEmpty)
  }

  test("crashed-write leftovers (_temporary) are invisible to the metadata walks") {
    import spark.implicits._
    val d3 = java.nio.file.Files
      .createTempDirectory("graft_annidx_tmpres").toString
    AnnIndexStore.save(spark, sf(), d3)
    val m = AnnIndexStore.manifest(spark, d3)
    val countsClean = AnnIndexStore.cellFileCounts(spark, d3)
    val someCell = countsClean.keys.min

    // simulate a killed append: task files under _temporary that
    // Spark's read path ignores but a naive recursive listing counts
    val junkDir = new java.io.File(
      s"$d3/cells/_temporary/0/attempt_x/cell=$someCell")
    assert(junkDir.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(junkDir.getPath, "part-junk.parquet"),
      Array[Byte](1, 2, 3))

    // counts, verify-load, and stats must all see ONLY committed data
    assert(AnnIndexStore.cellFileCounts(spark, d3) == countsClean)
    AnnIndexStore.load(spark, d3, verify = true) // footer count still == manifest
    val st = AnnIndexStore.stats(spark, d3).collect()(0)
    assert(st.getAs[Long]("frag_files") == 1L)
    assert(!st.getAs[Boolean]("compact_recommended"))

    // compact must not select phantom victims nor corrupt the index
    assert(AnnIndexStore.compact(spark, d3).isEmpty)
    assert(AnnIndexStore.manifest(spark, d3).n_vectors == m.n_vectors)

    // an ORPHAN parquet file inside a real cell dir (a crashed
    // compact's landed-but-uncommitted output) is equally invisible:
    // it is on disk but in no snapshot, so counts/stats/verify ignore
    // it and vacuum reclaims it
    val orphan = java.nio.file.Paths.get(
      s"$d3/cells/cell=$someCell/part-orphan.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](9, 9, 9))
    assert(AnnIndexStore.cellFileCounts(spark, d3) == countsClean)
    AnnIndexStore.load(spark, d3, verify = true)
    assert(AnnIndexStore.compact(spark, d3).isEmpty)
    assert(AnnIndexStore.vacuum(spark, d3) == 1L)
    assert(!java.nio.file.Files.exists(orphan))
  }

  test("a reader pinned before compact serves bit-equal across it; vacuum reclaims") {
    import spark.implicits._
    val d4 = java.nio.file.Files
      .createTempDirectory("graft_annidx_pin").toString
    val emb = graft.Tables.t(spark, sf(), "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft_annidx_pinb").toString
    emb.filter($"vec_id" % 3 === 0)
      .select($"vec_id", $"v".as("embedding"))
      .write.mode("overwrite").parquet(s"$baseDir/embeddings.parquet")
    AnnIndexStore.save(spark, baseDir, d4)
    AnnIndexStore.append(spark, d4, emb.filter($"vec_id" % 3 === 1))
    val mPre = AnnIndexStore.append(spark, d4, emb.filter($"vec_id" % 3 === 2))

    // PIN a reader (an in-flight job) on the pre-compact snapshot,
    // and remember its answer
    val pinned = AnnIndexStore.load(spark, d4)
    def norm(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    val pinnedBefore = norm(pinned)
    val servedBefore = norm(
      AnnIndexStore.searchTopKStored(spark, d4, queries3, k = 3))

    // compact commits a new snapshot UNDER the pinned reader
    assert(AnnIndexStore.compact(spark, d4).nonEmpty)

    // the pinned frame re-executes against its fixed file list and is
    // bit-equal — no torn read, no FileNotFound (old files persist
    // until vacuum); new readers see the compacted snapshot, equal too
    assert(norm(pinned) == pinnedBefore,
      "a pre-compact reader must keep serving its snapshot")
    assert(norm(AnnIndexStore.load(spark, d4)) == pinnedBefore,
      "compaction must not change the live rows")
    assert(norm(AnnIndexStore.searchTopKStored(spark, d4, queries3, k = 3))
      == servedBefore)
    assert(AnnIndexStore.manifest(spark, d4).n_vectors == mPre.n_vectors)

    // disk holds live + replaced files until vacuum; after it, disk
    // is exactly the live set and the old snapshot JSONs are gone
    val live = AnnIndexStore.liveFiles(spark, d4).toSet
    def onDisk(): Set[String] = {
      val out = scala.collection.mutable.Set.empty[String]
      def walk(f: java.io.File, rel: String): Unit =
        if (f.isDirectory) f.listFiles().foreach(c =>
          walk(c, s"$rel/${c.getName}"))
        else if (f.getName.endsWith(".parquet") &&
            !f.getName.startsWith(".") && !f.getName.startsWith("_"))
          out += rel.stripPrefix("/")
      walk(new java.io.File(s"$d4/cells"), "cells")
      out.toSet
    }
    assert(live.subsetOf(onDisk()) && onDisk().size > live.size)
    assert(AnnIndexStore.vacuum(spark, d4) > 0L)
    assert(onDisk() == live, "vacuum must leave exactly the live set")
    assert(new java.io.File(d4).listFiles()
      .count(_.getName.startsWith("snapshot_")) == 1)
    // vacuumed index still serves identically
    assert(norm(AnnIndexStore.searchTopKStored(spark, d4, queries3, k = 3))
      == servedBefore)
    // vacuum is idempotent
    assert(AnnIndexStore.vacuum(spark, d4) == 0L)
  }

  test("snapshot time travel: every pre-vacuum generation re-reads exactly") {
    import spark.implicits._
    val d5 = java.nio.file.Files
      .createTempDirectory("graft_annidx_tt").toString
    val emb = graft.Tables.t(spark, sf(), "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft_annidx_ttb").toString
    emb.filter($"vec_id" % 3 === 0)
      .select($"vec_id", $"v".as("embedding"))
      .write.mode("overwrite").parquet(s"$baseDir/embeddings.parquet")
    val m0 = AnnIndexStore.save(spark, baseDir, d5)
    val m1 = AnnIndexStore.append(spark, d5, emb.filter($"vec_id" % 3 === 1))
    val m2 = AnnIndexStore.append(spark, d5, emb.filter($"vec_id" % 3 === 2))
    assert(AnnIndexStore.snapshots(spark, d5) == Seq(1L, 2L, 3L))
    // each generation re-reads its own row set
    assert(AnnIndexStore.loadSnapshot(spark, d5, 1L).count() == m0.n_vectors)
    assert(AnnIndexStore.loadSnapshot(spark, d5, 2L).count() == m1.n_vectors)
    assert(AnnIndexStore.loadSnapshot(spark, d5, 3L).count() == m2.n_vectors)
    // a compact adds generation 4 with identical rows; 3 still reads
    assert(AnnIndexStore.compact(spark, d5).nonEmpty)
    assert(AnnIndexStore.snapshots(spark, d5) == Seq(1L, 2L, 3L, 4L))
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select($"vec_id", $"cell").collect().map(_.mkString("|")).toSet
    assert(rows(AnnIndexStore.loadSnapshot(spark, d5, 3L)) ==
      rows(AnnIndexStore.loadSnapshot(spark, d5, 4L)))
    // vacuum is the retention boundary: old generations fail LOUDLY
    AnnIndexStore.vacuum(spark, d5)
    assert(AnnIndexStore.snapshots(spark, d5) == Seq(4L))
    val e = intercept[IllegalStateException] {
      AnnIndexStore.loadSnapshot(spark, d5, 2L)
    }
    assert(e.getMessage.contains("vacuumed"))
    // the current generation still reads
    assert(AnnIndexStore.loadSnapshot(spark, d5, 4L).count() == m2.n_vectors)
  }

  test("vacuum retention: retained generations stay bit-equal, expired ones fail loudly") {
    import spark.implicits._
    val emb = graft.Tables.t(spark, sf(), "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft_annidx_ret").toString
    emb.filter($"vec_id" % 3 === 0)
      .select($"vec_id", $"v".as("embedding"))
      .write.mode("overwrite").parquet(s"$baseDir/embeddings.parquet")
    val d8 = java.nio.file.Files
      .createTempDirectory("graft_annidx_ret_idx").toString
    AnnIndexStore.save(spark, baseDir, d8)
    AnnIndexStore.append(spark, d8, emb.filter($"vec_id" % 3 === 1))
    AnnIndexStore.append(spark, d8, emb.filter($"vec_id" % 3 === 2))
    assert(AnnIndexStore.compact(spark, d8).nonEmpty)
    assert(AnnIndexStore.snapshots(spark, d8) == Seq(1L, 2L, 3L, 4L))
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select($"vec_id", $"cell").collect().map(_.mkString("|")).toSet
    val gen3Before = rows(AnnIndexStore.loadSnapshot(spark, d8, 3L))
    // keep = 2: generations 3 and 4 survive; 1 and 2 expire. Gen 3
    // references the pre-compact delta files that gen 4 replaced —
    // retention must keep those bytes even though the CURRENT snapshot
    // no longer lists them
    val reclaimed = AnnIndexStore.vacuum(spark, d8, keepSnapshots = 2)
    assert(AnnIndexStore.snapshots(spark, d8) == Seq(3L, 4L))
    assert(rows(AnnIndexStore.loadSnapshot(spark, d8, 3L)) == gen3Before,
      "a retained generation must re-read bit-equal across vacuum")
    val e = intercept[IllegalStateException] {
      AnnIndexStore.loadSnapshot(spark, d8, 2L)
    }
    assert(e.getMessage.contains("snapshot 2"), e.getMessage)
    // tightening the horizon reclaims gen 3's replaced deltas
    val reclaimed2 = AnnIndexStore.vacuum(spark, d8)
    assert(reclaimed2 > 0L,
      "gen-3-only files must be reclaimed once the horizon passes it")
    assert(AnnIndexStore.snapshots(spark, d8) == Seq(4L))
    // the compact at gen 4 replaced delta files still referenced by
    // gen 3, so the FIRST vacuum must have reclaimed nothing
    assert(reclaimed == 0L,
      "files referenced by a retained snapshot must never be reclaimed")
    intercept[IllegalArgumentException] {
      AnnIndexStore.vacuum(spark, d8, keepSnapshots = 0)
    }
    // the current generation always reads
    assert(AnnIndexStore.load(spark, d8, verify = true).count() ==
      AnnIndexStore.manifest(spark, d8).n_vectors)
  }

  test("a racing writer fails loudly at the snapshot commit point") {
    import spark.implicits._
    val d6 = java.nio.file.Files
      .createTempDirectory("graft_annidx_race").toString
    AnnIndexStore.save(spark, sf(), d6)
    val m = AnnIndexStore.manifest(spark, d6)
    // simulate the race's loser: the "other" writer already committed
    // snapshot N+1 while we were landing files
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(d6, s"snapshot_${m.snapshot_id + 1}.json"),
      """{"id":2,"files":[]}""")
    val wave = graft.Tables.t(spark, sf(), "embeddings")
      .select(($"vec_id" + 1000000L).as("vec_id"),
        $"embedding".as("v")).limit(5)
    val e = intercept[IllegalStateException] {
      AnnIndexStore.append(spark, d6, wave)
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // the loser never bumped the manifest — the committed state is intact
    assert(AnnIndexStore.manifest(spark, d6).snapshot_id == m.snapshot_id)
    // and its landed files are invisible orphans, reclaimed by vacuum
    assert(AnnIndexStore.load(spark, d6, verify = true).count() ==
      m.n_vectors)
  }

  test("mutating a physically truncated index fails instead of masking it") {
    import spark.implicits._
    val d7 = java.nio.file.Files
      .createTempDirectory("graft_annidx_trunc").toString
    AnnIndexStore.save(spark, sf(), d7)
    val m = AnnIndexStore.manifest(spark, d7)
    // physically truncate: remove one committed cell file out-of-band
    val victim = AnnIndexStore.liveFiles(spark, d7).head
    java.nio.file.Files.delete(java.nio.file.Paths.get(d7, victim))
    val p = java.nio.file.Paths.get(d7, victim)
    java.nio.file.Files.deleteIfExists(
      p.getParent.resolve("." + p.getFileName.toString + ".crc"))
    val wave = graft.Tables.t(spark, sf(), "embeddings")
      .select(($"vec_id" + 2000000L).as("vec_id"),
        $"embedding".as("v")).limit(5)
    // ADVICE r15: a lenient 0-rows fallback here wrote a FRESH manifest
    // matching the truncated total, so verify passed forever after —
    // the mutation must refuse instead
    val e = intercept[IllegalStateException] {
      AnnIndexStore.append(spark, d7, wave)
    }
    assert(e.getMessage.contains("truncated"), e.getMessage)
    // no manifest was committed, so the READ-side verify still reports
    // the truncation (the lenient path is reserved for exactly this)
    assert(AnnIndexStore.manifest(spark, d7).snapshot_id == m.snapshot_id)
    val e2 = intercept[IllegalStateException] {
      AnnIndexStore.load(spark, d7, verify = true)
    }
    assert(e2.getMessage.contains("manifest says"), e2.getMessage)
  }

  test("a pinned read builds from the snapshot alone: no Spark job, same rows, cell pruning") {
    import spark.implicits._
    val d = java.nio.file.Files
      .createTempDirectory("graft_annidx_meta").toString
    AnnIndexStore.save(spark, sf(), d)
    // append waves until the snapshot crosses Spark's parallel-listing
    // threshold (32 paths), where a path-list read would list in a job
    val emb = graft.Tables.t(spark, sf(), "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    var wave = 1L
    while (AnnIndexStore.liveFiles(spark, d).size <= 32 && wave <= 8) {
      AnnIndexStore.append(spark, d, emb.filter($"vec_id" % 50 === wave)
        .select(($"vec_id" + wave * 1000000L).as("vec_id"), $"v"))
      wave += 1
    }
    val files = AnnIndexStore.liveFiles(spark, d)
    assert(files.size > 32, s"only ${files.size} live files")
    val m = AnnIndexStore.manifest(spark, d)

    // count the jobs that start while the frames are built; a marker
    // job after them proves the listener has seen every earlier start
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val tag = "pinned-read-marker"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.job.description") == tag)) marker.countDown()
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val (loaded, pinned, q) =
      try {
        val built = (AnnIndexStore.load(spark, d),
          AnnIndexStore.loadSnapshot(spark, d, m.snapshot_id),
          AnnIndexStore.quantizer(spark, d))
        spark.sparkContext.setJobDescription(tag)
        spark.sparkContext.parallelize(Seq(1), 1).count()
        assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
        built
      } finally {
        spark.sparkContext.setJobDescription(null)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(jobs.get == 0,
      s"building load/loadSnapshot/quantizer ran ${jobs.get} Spark jobs")

    // the same rows and schema as a path-list read of the same files
    val byPaths = spark.read.option("basePath", s"$d/cells")
      .parquet(files.map(f => s"$d/$f"): _*)
      .withColumn("cell", $"cell".cast("long"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    val want = rows(byPaths)
    assert(loaded.schema == byPaths.schema && pinned.schema == byPaths.schema)
    assert(rows(loaded) == want && rows(pinned) == want)
    assert(loaded.count() == m.n_vectors)
    assert(q.schema == spark.read.parquet(s"$d/quantizer").schema)

    // a filter on cell scans exactly that cell's snapshot files
    val c = files.groupBy(f => f.split('/')(1)).maxBy(_._2.size)._1
      .stripPrefix("cell=").toLong
    val cellFiles = files.count(_.startsWith(s"cells/cell=$c/"))
    assert(cellFiles > 1, s"cell $c holds $cellFiles files")
    val probe = AnnIndexStore.load(spark, d).filter($"cell" === c)
    assert(rows(probe) == rows(byPaths.filter($"cell" === c)))
    val helper = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    val scans = helper.collect(probe.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1 &&
      scans.head.metrics("numFiles").value == cellFiles,
      s"cell $c: scanned ${scans.map(_.metrics("numFiles").value)} " +
        s"files, the snapshot holds $cellFiles")

    // the codebook frames searchTopKStored and append probe with fold
    // on the driver: building them, or the whole serve, starts no job
    val panel = queries3
    val (_, codebookJobs) =
      jobsDuring(AnnIndexStore.storedCodebook(spark, d, m))
    assert(codebookJobs.isEmpty,
      s"building the codebook frames ran ${codebookJobs.size} Spark jobs")
    val (serve, serveJobs) =
      jobsDuring(AnnIndexStore.searchTopKStored(spark, d, panel, k = 5))
    assert(serveJobs.isEmpty,
      s"building a stored serve ran ${serveJobs.size} Spark jobs")
    // and running it scans the cells and the panel, never the codebook
    assert(serve.collect().nonEmpty)
    val scanned = helper.collect(serve.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scanned.exists(_.contains("/cells/")) &&
      !scanned.exists(_.contains("/quantizer")), scanned)
  }

  test("the driver-read codebook equals the stored one and folds like SQL") {
    import spark.implicits._
    val m = AnnIndexStore.manifest(spark, dir)
    val rows = AnnIndexStore.codebookRows(spark, dir, m.kk)
    val q = AnnIndexStore.quantizer(spark, dir)
    assert(rows.nonEmpty && rows.size <= m.kk)
    assert(rows.sortBy(_.getLong(0)) == q.collect().toSeq.sortBy(_.getLong(0)))
    // the local frames equal the SQL collect_list fold over the codebook
    val sqlSupers = q.filter($"scell" === $"cent_id")
      .select($"cent_id".as("s_id"), $"c")
      .agg(expr("array_sort(collect_list(named_struct(" +
        "'s_id', s_id, 'c', c)))").as("supers"))
    val sqlGroups = q.groupBy($"scell")
      .agg(expr("array_sort(collect_list(named_struct(" +
        "'cent_id', cent_id, 'c', c)))").as("garr"))
    val (supers, groups) = AnnIndexStore.codebookFrames(spark, rows)
    assert(supers.schema == sqlSupers.schema)
    assert(groups.schema == sqlGroups.schema)
    assert(supers.collect().toSeq == sqlSupers.collect().toSeq)
    assert(groups.collect().toSeq.sortBy(_.getLong(0)) ==
      sqlGroups.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("a codebook holding more than kk rows fails before its rows are read") {
    val m = AnnIndexStore.manifest(spark, dir)
    val n = AnnIndexStore.codebookRows(spark, dir, m.kk).size.toLong
    val d = java.nio.file.Files.createTempDirectory("graft_annidx_cb")
    val qd = java.nio.file.Files.createDirectory(d.resolve("quantizer"))
    val parts = new java.io.File(s"$dir/quantizer").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.length == 1, parts.mkString(", "))
    // zero every byte between the leading magic and the footer, with no
    // .crc beside the copy: the footer stays readable, the pages do not
    val bytes = java.nio.file.Files.readAllBytes(parts.head.toPath)
    val footerLen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.fill(bytes, 4, bytes.length - 8 - footerLen, 0.toByte)
    java.nio.file.Files.write(qd.resolve(parts.head.getName), bytes)
    // within the cap the rows are read, and the zeroed pages fail
    val read = intercept[Exception] {
      AnnIndexStore.codebookRows(spark, d.toString, n)
    }
    assert(!read.getMessage.contains("refusing"), read.getMessage)
    // one row over the cap fails on the footer count alone
    val e = intercept[IllegalStateException] {
      AnnIndexStore.codebookRows(spark, d.toString, n - 1)
    }
    assert(e.getMessage.contains(s"holds $n rows"), e.getMessage)
  }

  test("an ANN operation's jobs carry its description; the caller's is restored") {
    import spark.implicits._
    val d = java.nio.file.Files
      .createTempDirectory("graft_annidx_desc").toString
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val (_, saveJobs) = jobsDuring(AnnIndexStore.save(spark, sf(), d))
      assert(saveJobs.forall(_ == s"ann.save $d"), saveJobs)
      val wave = graft.Tables.t(spark, sf(), "embeddings")
        .select(($"vec_id" + 3000000L).as("vec_id"),
          $"embedding".as("v")).limit(5)
      val (_, appendJobs) = jobsDuring(AnnIndexStore.append(spark, d, wave))
      assert(appendJobs.nonEmpty &&
        appendJobs.forall(_ == s"ann.append $d"), appendJobs)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      // a returned frame's actions run under the caller's description
      val (_, serveJobs) = jobsDuring(
        AnnIndexStore.searchTopKStored(spark, d, queries3, k = 1).collect())
      assert(serveJobs.nonEmpty && serveJobs.forall(_ == "caller"), serveJobs)
    } finally sc.setJobDescription(null)
  }
}
