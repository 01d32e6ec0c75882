package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistable ANN index artifacts — the missing production step
  * between "build an index in-session" (the FrameMemo surface the
  * declared sim_* queries ride) and "serve queries tomorrow": a
  * 100 TB deployment builds the IVF assignment ONCE, writes it as a
  * table, and every later job — other sessions, other clusters —
  * loads and probes it without re-folding the corpus.
  *
  * Layout on disk (v3, `save`):
  *  - `<dir>/cells/` — the two-level IVF assignment
  *    (vec_id, v, cell2, cell) PARTITIONED BY cell: a probe that
  *    filters on its candidate cells prunes to those partitions at
  *    the SCAN (the on-disk analog of the coarse-quantizer bound;
  *    AnnIndexStoreSpec pins `PartitionFilters` in the plan);
  *  - `<dir>/quantizer/` — the codebook as its OWN artifact
  *    (cent_id, c, scell): the serving quantizer no longer has to be
  *    re-derived from corpus rows, so [[append]] can assign new
  *    vectors with the exact build-time quantizer (no re-train) and
  *    [[forget]] can remove any corpus row without perturbing probes.
  *    `save` writes it once and no mutation changes it; a serve or an
  *    append reads its kk ≈ √n rows on the driver with parquet-hadoop's
  *    reader and folds them into two local frames — no Spark job;
  *  - `<dir>/snapshot_<id>.json` — the LIVE FILE LIST of snapshot
  *    `id` (relative paths under the index dir). v3's central change
  *    (verdict r14 ask #3 + the r14 medium advice finding): mutations
  *    never swap directories under a reader. A writer lands NEW files
  *    next to the old ones, writes the next snapshot, and COMMITS by
  *    bumping `snapshot_id` in the manifest — one small-file write is
  *    the whole commit. A reader resolves the manifest's snapshot to
  *    a fixed file list at [[load]] time and is immune to any later
  *    compact/append: either it opened before the bump (it reads the
  *    old files, still on disk until [[vacuum]]) or after (it reads
  *    the new ones) — never a torn mixture, and a crash mid-rewrite
  *    leaves the old snapshot current with only orphan files to sweep
  *    (the old delete-then-rename swap silently LOST a cell if the
  *    process died between the two). The mini-manifest design is the
  *    standard table-format discipline (Iceberg/Delta snapshots),
  *    sized here to the artifact: one JSON per snapshot, file count
  *    bounded by cells (~√n) + append waves.
  *  - `<dir>/manifest.json` — version, vector count, dim, k, quantizer
  *    geometry (kk/kk2), source, `snapshot_id` (v3) — proper JSON
  *    (escaped, json4s), written through the Hadoop FileSystem API so
  *    the manifest rides the same path scheme as the parquet. The
  *    manifest write is the COMMIT POINT: a torn write fails the JSON
  *    parse loudly at the next load — never a silently wrong index.
  *
  * `load` resolves the current snapshot's file list and is
  * metadata-only: it reads no data and runs no Spark job, because the
  * snapshot's list IS the scan's file index (no re-listing, and the
  * fixed schema is never inferred). Pass `verify = true` for the
  * integrity pass, which sums parquet FOOTER row counts of exactly the
  * snapshot's files against the manifest (a truncated cells dir fails
  * there, not at query time). The writers' file walks (the orphan
  * listing of [[vacuum]], the landing of new files) use `listStatus`,
  * not `listFiles`: the latter loads every file's permission, which
  * the local filesystem learns by forking `ls -ld` per file when
  * Hadoop's native library is not loaded.
  *
  * `searchTopK` is the serving path over a fresh in-session frame;
  * [[searchTopKStored]] serves against the persisted artifact using
  * the STORED quantizer (the only correct quantizer once the index has
  * been appended to). Both replay the same two-level super→group fold
  * via the expressions shared with `Similarity.ivfCellsRaw`, so a
  * stored vector probes exactly the cell it was assigned to. Save →
  * load → search is bit-identical to searching the freshly built
  * index — pinned by spec — because the artifact IS the assignment.
  *
  * Lifecycle at 100 TB:
  *  - [[append]]: daily vector arrivals are assigned with the stored
  *    codebook (a broadcast-join map, no shuffle beyond the write) and
  *    land as delta files inside their cell partitions; the next
  *    snapshot is old files + the new wave, so search reads base+delta
  *    transparently.
  *  - [[forget]]: takedown rewrites ONLY the cell partitions that hold
  *    the forgotten ids (read survivors → land new files → commit),
  *    then physically deletes the replaced files — takedown means the
  *    bytes leave the disk, so forget is deliberately NOT
  *    time-travel-safe (a crash mid-delete leaves unreferenced bytes
  *    for [[vacuum]]; the committed snapshot already excludes them).
  *    If a forgotten id seeded a codebook entry the manifest is
  *    flagged `codebook_stale` — geometry may degrade until a rebuild,
  *    and the codebook still embeds that vector's coordinates (a
  *    strict content takedown then requires re-saving the index).
  *  - [[compact]]: the daily-append complement — delta files
  *    accumulate one per touched cell per wave; compaction lands one
  *    fresh file per fragmented cell and commits, leaving the replaced
  *    files on disk so a reader pinned to the pre-compact snapshot
  *    keeps serving bit-equal results (the serve-under-compact
  *    contract, pinned by spec); [[vacuum]] reclaims them once no
  *    pinned reader needs them (the caller owns that grace window —
  *    at cluster scale, "older than the longest query" is the usual
  *    rule).
  *  - Concurrency contract: MANY READERS, ONE WRITER. Readers are
  *    isolated by snapshot pinning and need no coordination; the
  *    mutation paths ([[append]]/[[forget]]/[[compact]]/[[vacuum]])
  *    assume a single writer per index dir — the usual external
  *    arrangement (one ingestion job owns the index). The protocol
  *    does not serialize concurrent writers, but it FAILS them
  *    loudly instead of losing rows: both would claim the same next
  *    snapshot file, and the snapshot create is overwrite = false, so
  *    the loser errors at its commit point with the winner's commit
  *    intact (its landed files become vacuum-able orphans). Scratch
  *    landing dirs are per-write UUIDs, so overlapping waves cannot
  *    clobber each other's uncommitted part files either.
  *  - [[stats]]: the rebuild/compact trigger — cell-occupancy
  *    imbalance (the persisted-artifact twin of the declared
  *    `sim_cell_balance`), the stale-codebook flag, and the
  *    fragmentation shape feeding [[compact]] (file counts from the
  *    CURRENT SNAPSHOT, so orphans awaiting vacuum never distort the
  *    signal).
  */
object AnnIndexStore {

  /** Bumped whenever the on-disk layout changes (v3: snapshot file
    * lists + manifest snapshot_id — mutations commit via manifest
    * bump, readers pin a snapshot; v2: + quantizer dir, manifest
    * kk/kk2/codebook_stale, json4s-rendered). */
  val Version = 3

  final case class Manifest(version: Int, n_vectors: Long, dim: Int,
      k: Long, kk: Long, kk2: Long, source: String,
      codebook_stale: Boolean = false, snapshot_id: Long = 1L)

  /** The live file list of one index generation — relative paths under
    * the index dir, sorted for deterministic JSON. */
  final case class Snapshot(id: Long, files: List[String])

  private implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  private def hconf(spark: SparkSession) =
    spark.sessionState.newHadoopConf()

  /** Runs one public operation under the Spark job description
    * `ann.<op> <dir>`, so an event log or UI ties every job it starts
    * to it (adaptive query stages too: they inherit the submitting
    * thread's properties), then restores the caller's description. A
    * returned frame's own actions run later, under the caller's. */
  private def described[T](spark: SparkSession, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(what)
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }

  private def writeManifest(spark: SparkSession, dir: String,
      m: Manifest): Unit = {
    import org.json4s.jackson.Serialization
    val p = new Path(dir, "manifest.json")
    val fs = p.getFileSystem(hconf(spark))
    val out = fs.create(p, true)
    try out.write(Serialization.write(m)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def snapshotPath(dir: String, id: Long) =
    new Path(dir, s"snapshot_$id.json")

  /** Writes snapshot `id` with overwrite = FALSE: the snapshot file is
    * the one name two racing writers would both claim (both read
    * snapshot N, both try to commit N+1), so the create itself is the
    * mutual-exclusion point — the loser fails HERE, before the
    * manifest bump, with the index still consistent on snapshot N
    * (ADVICE r15: a silent overwrite let the losing wave's rows vanish
    * from the live set). Mutations remain single-writer by contract
    * (see the lifecycle scaladoc); this check turns a violated
    * contract into a loud error instead of silent row loss. */
  private def writeSnapshot(spark: SparkSession, dir: String,
      snap: Snapshot): Unit = {
    import org.json4s.jackson.Serialization
    val p = snapshotPath(dir, snap.id)
    val fs = p.getFileSystem(hconf(spark))
    val out =
      try fs.create(p, false)
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(
          s"ANN index at $dir: snapshot ${snap.id} already exists — " +
            "a concurrent writer committed first; append/forget/compact " +
            "require a single writer (this wave's landed files are " +
            "orphans for vacuum)", e)
      }
    try out.write(Serialization.write(snap.copy(files = snap.files.sorted))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The committed file list of snapshot `id` — fails loudly when the
    * snapshot JSON is absent or unparseable (a manifest pointing at a
    * missing snapshot is the torn-commit signature). */
  private[graft] def snapshot(spark: SparkSession, dir: String,
      id: Long): Snapshot = {
    import org.json4s.jackson.JsonMethods
    val p = snapshotPath(dir, id)
    val fs = p.getFileSystem(hconf(spark))
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"ANN index at $dir: snapshot $id has no $p — vacuumed away, " +
          "superseded, or a torn commit; only ids in snapshots() are " +
          "readable")
    val in = fs.open(p)
    val txt =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    try JsonMethods.parse(txt).extract[Snapshot]
    catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalStateException(
        s"unreadable ANN index snapshot at $p: ${e.getMessage}")
    }
  }

  /** The CURRENT snapshot's files (relative paths) — the public
    * pin-then-read seam tests and audits use. */
  def liveFiles(spark: SparkSession, dir: String): Seq[String] =
    snapshot(spark, dir, manifest(spark, dir).snapshot_id).files

  /** Snapshot ids still on disk, ascending — the time-travel catalog.
    * Generations before the current id survive [[vacuum]] only within
    * its `keepSnapshots` retention horizon (forget() additionally
    * deletes its victims' bytes immediately, so a pre-forget snapshot
    * may list files that no longer exist — time travel never
    * resurrects a takedown). */
  def snapshots(spark: SparkSession, dir: String): Seq[Long] =
    listSnapshotIds(spark, dir).sorted

  /** Footer-metadata row count of a SPECIFIC snapshot generation —
    * the driver-side twin of `loadSnapshot(...).count()`: opens exactly
    * the snapshot's parquet footers (existence + parquet integrity +
    * exact row total) without launching a Spark job over what may be
    * hundreds of small cell files. Same failure semantics as a read:
    * a vacuumed/torn snapshot fails loudly at resolution. */
  private[graft] def snapshotRowCount(spark: SparkSession, dir: String,
      id: Long): Long = {
    manifest(spark, dir) // layout/version gate
    footerRowCount(spark, dir, snapshot(spark, dir, id).files)
  }

  /** Load a SPECIFIC snapshot generation — time travel for
    * reproducibility: a training run records the snapshot id whose
    * assignment it read, and any later job re-reads exactly that file
    * set for as long as [[vacuum]] hasn't reclaimed it (vacuum is the
    * retention boundary; past it this fails loudly at resolution,
    * never silently serving different rows). */
  def loadSnapshot(spark: SparkSession, dir: String, id: Long): DataFrame =
      described(spark, s"ann.loadSnapshot $dir") {
    manifest(spark, dir) // layout/version gate
    readFiles(spark, dir, snapshot(spark, dir, id).files)
  }

  /** Build the two-level IVF assignment for `srcDir`'s embeddings and
    * persist it (cells + quantizer + snapshot 1 + manifest). Returns
    * the manifest. Re-saving over an existing index dir starts a fresh
    * generation: old snapshots are removed (their files died with the
    * cells overwrite). NOT serve-safe against concurrent readers of
    * the same dir — a rebuild targets a new dir in production. */
  def save(spark: SparkSession, srcDir: String, outDir: String): Manifest =
      described(spark, s"ann.save $outDir") {
    import spark.implicits._
    val idx = graft.queries.Similarity.ivfCells(spark, srcDir)
    // one task (= one file) per cell: the compaction-clean layout —
    // parquet stays splittable by row group, so a large cell still
    // reads in parallel at scan time, but the file count per
    // partition is deterministic (stats pins frag_files = 1 fresh).
    // The repartition is a deliberate one-shuffle cost at save time
    // (r14): without it each write task sprays a file into every cell
    // it holds rows for — files = tasks x cells, the small-file
    // problem compaction exists to fix, created at birth.
    // Build stats ride the write job as observed metrics (r17, guide
    // §1/§2: the separate one-row agg was a whole extra pass + job over
    // the assignment); the distinct-cell count comes from the cell
    // partition dirs the write itself lands (repartition(cell) puts
    // every row of a cell in one task, partitionBy creates exactly one
    // `cell=` dir per distinct value — the same exact integer).
    val obs = org.apache.spark.sql.Observation()
    idx.observe(obs, count(lit(1)).as("n"), max(size($"v")).as("dim"))
      .repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$outDir/cells")
    val stats = obs.get
    val n = stats("n").asInstanceOf[Long]
    require(n > 0, s"cannot index an empty corpus ($srcDir)")
    val dim = stats("dim").asInstanceOf[Int].toLong
    val cellFiles = listCellFiles(spark, outDir)
    val k = cellFiles.flatMap(cellOfFile).distinct.size.toLong
    val kk = math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val kk2 = math.ceil(math.sqrt(kk.toDouble)).toLong
    // the codebook as its own artifact: the kk build centroids with
    // their super-cell — exactly the `groups` input of the build fold
    val supers = idx.filter($"vec_id" < kk2)
      .select($"vec_id".as("s_id"), $"v".as("c"))
      .agg(expr("array_sort(collect_list(named_struct(" +
        "'s_id', s_id, 'c', c)))").as("supers"))
    idx.filter($"vec_id" < kk)
      .crossJoin(broadcast(supers))
      .select($"vec_id".as("cent_id"), $"v".as("c"),
        when($"vec_id" < kk2, $"vec_id")
          .otherwise(graft.queries.Similarity.superOfExpr("v"))
          .as("scell"))
      .coalesce(1) // kk ≈ √n rows — one file keeps the artifact tidy
      .write.mode("overwrite").parquet(s"$outDir/quantizer")
    // fresh generation: stale snapshots referenced the overwritten
    // cells and must not survive the rebuild
    val fs = new Path(outDir).getFileSystem(hconf(spark))
    listSnapshotIds(spark, outDir).foreach(i =>
      fs.delete(snapshotPath(outDir, i), false))
    writeSnapshot(spark, outDir, Snapshot(1L, cellFiles.toList))
    val m = Manifest(Version, n, dim.toInt, k, kk, kk2, srcDir)
    writeManifest(spark, outDir, m)
    m
  }

  /** Parse the manifest, failing loudly on absence or version skew. */
  def manifest(spark: SparkSession, dir: String): Manifest = {
    import org.json4s.jackson.JsonMethods
    val p = new Path(dir, "manifest.json")
    val fs = p.getFileSystem(hconf(spark))
    if (!fs.exists(p) || fs.getFileStatus(p).isDirectory)
      throw new IllegalStateException(
        s"no ANN index manifest at $p — not an index directory")
    val in = fs.open(p)
    val txt =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    // version is checked on the raw AST BEFORE the full extraction: a
    // genuine older-layout manifest lacks newer fields (kk/kk2,
    // snapshot_id) and would fail extract[Manifest] first,
    // misreporting a version skew as corruption (review r13)
    val ast =
      try JsonMethods.parse(txt)
      catch { case e: Exception =>
        throw new IllegalStateException(
          s"unreadable ANN index manifest at $p: ${e.getMessage}")
      }
    val ver = (ast \ "version").extractOpt[Int]
    if (!ver.contains(Version))
      throw new IllegalStateException(
        s"ANN index at $dir is layout v${ver.getOrElse("?")}; " +
          s"this build reads v$Version")
    try ast.extract[Manifest]
    catch { case e: Exception =>
      throw new IllegalStateException(
        s"unreadable ANN index manifest at $p: ${e.getMessage}")
    }
  }

  /** Every file under `root`, recursively, as plain `listStatus`
    * entries. `skipHidden` drops every entry whose name is hidden by
    * Spark's convention (starts with `_` or `.`) at any level —
    * crashed-write leftovers like `_temporary/.../part-*.parquet` that
    * the read path skips must be invisible to the FS walks too, or a
    * killed append could commit phantom files into a snapshot (review
    * r14).
    *
    * Not `fs.listFiles(root, true)`: that wraps each entry in a
    * `LocatedFileStatus`, whose constructor loads the file's
    * permission, and without Hadoop's native library the local
    * filesystem forks `ls -ld` per file to learn it. A plain
    * `FileStatus` never loads it (Spark's `HadoopFSUtils` avoids that
    * constructor for the same reason). */
  private[graft] def walkFiles(fs: FileSystem, root: Path,
      skipHidden: Boolean): Seq[FileStatus] =
    fs.listStatus(root).toSeq
      .filterNot { st =>
        val n = st.getPath.getName
        skipHidden && (n.startsWith("_") || n.startsWith("."))
      }
      .flatMap(st =>
        if (st.isDirectory) walkFiles(fs, st.getPath, skipHidden)
        else Seq(st))

  /** Every committed parquet file currently ON DISK under `dir`/cells,
    * as paths relative to `dir` — the raw FS truth a writer diffs
    * around its own write to find the files it just landed. NOT the
    * live set: orphans awaiting [[vacuum]] are listed too, which is
    * exactly why snapshots, not listings, define what a reader sees. */
  private def listCellFiles(spark: SparkSession, dir: String): Seq[String] = {
    val root = new Path(s"$dir/cells")
    val fs = root.getFileSystem(hconf(spark))
    if (!fs.exists(root)) return Seq.empty
    val prefix = fs.makeQualified(new Path(dir)).toString + "/"
    walkFiles(fs, fs.makeQualified(root), skipHidden = true)
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .map(_.toString.stripPrefix(prefix))
  }

  private def listSnapshotIds(spark: SparkSession, dir: String): Seq[Long] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf(spark))
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("snapshot_") && n.endsWith(".json"))
      .flatMap(n => n.stripPrefix("snapshot_").stripSuffix(".json")
        .toLongOption)
  }

  /** Parquet read options built once from `conf`, for every footer of
    * one operation: `ParquetFileReader.open(file)` builds its defaults
    * per call from a freshly parsed Hadoop `Configuration`, ~14 ms per
    * footer. */
  private def readOptions(conf: org.apache.hadoop.conf.Configuration) =
    org.apache.parquet.HadoopReadOptions.builder(conf).build()

  /** Opens `p`'s footer; a missing file raises FileNotFoundException. */
  private def openFooter(p: Path, conf: org.apache.hadoop.conf.Configuration,
      opts: org.apache.parquet.ParquetReadOptions) =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf), opts)

  /** Total row count of the given files from FOOTER metadata only —
    * no Spark job, no column data read. Footers open in parallel on
    * the driver (IO-bound; a big index has ~one file per cell × appends
    * and a sequential walk would serialize the round-trips).
    *
    * `strict` splits the missing-file policy by call site (ADVICE
    * r15): the READ-side verify passes strict = false, where a missing
    * file counting 0 rows is the point — the total disagrees with the
    * manifest and [[load]] reports the truncation. MUTATION paths
    * (append/forget/compact) pass strict = true: there a lenient 0
    * would write a FRESH manifest whose total matches the truncated
    * index, permanently masking the corruption as consistent — the
    * mutation must fail loudly instead and leave the old snapshot
    * current. */
  private def footerRowCount(spark: SparkSession, dir: String,
      files: Seq[String], strict: Boolean = false): Long = {
    val conf = hconf(spark)
    val opts = readOptions(conf)
    import scala.collection.parallel.CollectionConverters._
    files.toArray.par // scala-parallel-collections ships with Spark
      .map { f =>
        try {
          val rdr = openFooter(new Path(dir, f), conf, opts)
          try rdr.getRecordCount finally rdr.close()
        } catch {
          case e: java.io.FileNotFoundException =>
            if (strict) throw new IllegalStateException(
              s"ANN index at $dir: snapshot file $f is missing — the " +
                "index is physically truncated; refusing to commit a " +
                "manifest that would mask it", e)
            else 0L
        }
      }.sum
  }

  /** The data columns of every cells file, fixed by [[save]] and the
    * write step every mutation shares — so a read never infers them
    * with a Spark job. `cell` is not stored in the file: the `cell=<v>`
    * directory of each file names it. */
  private val cellsDataSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType)),
    StructField("cell2", LongType)))
  private val cellSchema = StructType(Seq(StructField("cell", LongType)))

  /** The codebook's columns (cent_id, c, scell), fixed by [[save]]. */
  private val quantizerSchema = StructType(Seq(
    StructField("cent_id", LongType),
    StructField("c", ArrayType(DoubleType)),
    StructField("scell", LongType)))

  /** The file index of one pinned snapshot: its files grouped by the
    * cell their `cell=<v>` directory names. The snapshot already IS the
    * listing, so nothing is listed again. `listFiles` keeps only the
    * cells the partition filters accept, as Spark's
    * PartitioningAwareFileIndex does — which is required, not just
    * cheaper: Spark does not re-check partition filters after the
    * scan. Equal when the file sets are (files are immutable once
    * committed), so two reads of one snapshot plan as the same
    * relation — as two InMemoryFileIndex reads did. */
  private final class SnapshotFileIndex(parts: Seq[PartitionDirectory])
      extends FileIndex {
    private val statuses = parts.flatMap(_.files)
    override val rootPaths: Seq[Path] = statuses.map(_.getPath)
    override def partitionSchema: StructType = cellSchema
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val onCell = partitionFilters.filter(
        _.references.forall(_.name == "cell"))
      if (onCell.isEmpty) parts
      else {
        val keep = Predicate.createInterpreted(onCell.reduce(And).transform {
          case a: AttributeReference => BoundReference(0, LongType, nullable = true)
        })
        parts.filter(p => keep.eval(p.values))
      }
    }
    override def inputFiles: Array[String] = rootPaths.map(_.toString).toArray
    override def refresh(): Unit = ()
    override val sizeInBytes: Long = statuses.map(_.getLen).sum
    override def equals(o: Any): Boolean = o match {
      case s: SnapshotFileIndex => rootPaths.toSet == s.rootPaths.toSet
      case _ => false
    }
    override def hashCode(): Int = rootPaths.toSet.hashCode()
  }

  /** A frame over an explicit committed file list — the PINNED read:
    * the file set is fixed here, so later compacts/appends (which only
    * add files and bump the manifest) cannot change what this frame
    * returns. Metadata-only: the files are stat'ed on the driver (in
    * parallel, like [[footerRowCount]]; a missing one fails here, not
    * at query time) and no Spark job runs before an action. Filters on
    * `cell` still prune to matching files at the scan. */
  private[graft] def readFiles(spark: SparkSession, dir: String,
      files: Seq[String]): DataFrame = {
    val fs = new Path(dir).getFileSystem(hconf(spark))
    import scala.collection.parallel.CollectionConverters._
    val stats = files.toArray.par.map { f =>
      val p = fs.makeQualified(new Path(dir, f))
      val cell = cellOfFile(f).getOrElse(throw new IllegalStateException(
        s"ANN index at $dir: snapshot file $f is not under a cell=<v> dir"))
      try (cell, fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException =>
        throw new AnalysisException("PATH_NOT_FOUND",
          Map("path" -> p.toString))
      }
    }.seq
    // a zero-byte file holds no rows; Spark's own file index skips it too
    val parts = stats.filter(_._2.getLen > 0).groupBy(_._1).toSeq
      .sortBy(_._1).map { case (cell, fss) =>
        PartitionDirectory(InternalRow(cell), fss.map(_._2).toArray)
      }
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.baseRelationToDataFrame(HadoopFsRelation(
      new SnapshotFileIndex(parts), cellSchema, cellsDataSchema,
      bucketSpec = None, new ParquetFileFormat, Map.empty)(session))
  }

  /** Load the persisted assignment, PINNED to the current snapshot:
    * the returned frame keeps serving this snapshot's files even if a
    * compact commits underneath it (the files stay on disk until
    * [[vacuum]]). Metadata-only by default (manifest + snapshot
    * resolution + a stat of each file, no Spark job); `verify = true`
    * additionally checks the snapshot files' parquet-footer row count
    * against the manifest — a partially-deleted cells dir fails there,
    * not at query time — still without reading any column data. */
  def load(spark: SparkSession, dir: String,
      verify: Boolean = false): DataFrame = described(spark, s"ann.load $dir") {
    val m = manifest(spark, dir)
    val snap = snapshot(spark, dir, m.snapshot_id)
    if (verify) {
      val n = footerRowCount(spark, dir, snap.files)
      if (n != m.n_vectors)
        throw new IllegalStateException(
          s"ANN index at $dir holds $n vectors; manifest says ${m.n_vectors}")
    }
    readFiles(spark, dir, snap.files)
  }

  /** The persisted codebook (cent_id, c, scell) as a Spark frame, read
    * with its fixed schema: no schema-inference job. Serve and append
    * read it on the driver instead ([[codebookRows]]). */
  def quantizer(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(quantizerSchema).parquet(s"$dir/quantizer")

  /** The persisted codebook's rows (cent_id, c, scell), read on the
    * driver with parquet-hadoop's reader, the way [[footerRowCount]]
    * opens footers: no Spark job. kk ≈ √n rows — the rows the serve's
    * `supers` broadcast gathered on the driver anyway. The driver-fold
    * cap is enforced before materialization: when the footers hold
    * more than the manifest's `kk` rows, this fails before any row is
    * read. `save` writes the codebook once and no mutation changes it. */
  private[graft] def codebookRows(spark: SparkSession, dir: String,
      kk: Long): Seq[Row] = {
    import org.apache.parquet.example.data.Group
    val conf = hconf(spark)
    val opts = readOptions(conf)
    val root = new Path(s"$dir/quantizer")
    val fs = root.getFileSystem(conf)
    val rdrs = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.parquet.hadoop.ParquetFileReader]
    try {
      walkFiles(fs, root, skipHidden = true).filter(_.getLen > 0)
        .foreach(st => rdrs += openFooter(st.getPath, conf, opts))
      val n = rdrs.map(_.getRecordCount).sum
      if (n > kk)
        throw new IllegalStateException(
          s"ANN index at $dir: the codebook holds $n rows, the " +
            s"manifest's kk is $kk — refusing to fold it on the driver")
      // a list column is written as group(LIST) > repeated element
      // (legacy two-level) or > repeated group > element (three-level)
      def list(g: Group): Seq[java.lang.Double] = {
        val rep = g.getType.getType(0)
        (0 until g.getFieldRepetitionCount(0)).map { i =>
          if (rep.isPrimitive) java.lang.Double.valueOf(g.getDouble(0, i))
          else {
            val e = g.getGroup(0, i)
            if (e.getFieldRepetitionCount(0) == 0) null
            else java.lang.Double.valueOf(e.getDouble(0, 0))
          }
        }
      }
      def opt(g: Group, f: String)(get: => Any): Any =
        if (g.getFieldRepetitionCount(f) == 0) null else get
      rdrs.flatMap { rdr =>
        val schema = rdr.getFooter.getFileMetaData.getSchema
        val io = new org.apache.parquet.io.ColumnIOFactory()
          .getColumnIO(schema)
        Iterator.continually(rdr.readNextRowGroup()).takeWhile(_ != null)
          .flatMap { pages =>
            val rr = io.getRecordReader(pages, new org.apache.parquet
              .example.data.simple.convert.GroupRecordConverter(schema))
            Iterator.fill(pages.getRowCount.toInt)(rr.read())
          }
          .map(g => Row(opt(g, "cent_id")(g.getLong("cent_id", 0)),
            opt(g, "c")(list(g.getGroup("c", 0))),
            opt(g, "scell")(g.getLong("scell", 0))))
          .toList
      }.toSeq
    } finally rdrs.foreach(_.close())
  }

  /** The sorted centroid list of a `supers` or `garr` cell. */
  private def centroids(id: String) = ArrayType(StructType(Seq(
    StructField(id, LongType), StructField("c", ArrayType(DoubleType)))),
    containsNull = false)

  /** The two broadcastable quantizer frames the probe fold needs —
    * `supers` (one row: the kk2 super-centroids, sorted by id) and
    * `groups` (kk2 rows: each super's member centroids, sorted by id)
    * — folded on the driver from codebook rows (cent_id, c, scell)
    * into local frames, so building them starts no Spark job. A
    * super-centroid is exactly a row with scell == cent_id (the build
    * sets scell = vec_id when vec_id < kk2, and every group member's
    * scell is a super id strictly below its own cent_id), so no kk2
    * scalar is needed — ONE fold shared by the stored serve path and
    * the fresh serve path. */
  private[graft] def codebookFrames(spark: SparkSession, rows: Seq[Row])
      : (DataFrame, DataFrame) = {
    def entries(rs: Seq[Row]) =
      rs.sortBy(_.getLong(0)).map(r => Row(r(0), r(1)))
    val isSuper = (r: Row) => !r.isNullAt(2) && r.getLong(2) == r.getLong(0)
    val supers = spark.createDataFrame(
      java.util.Arrays.asList(Row(entries(rows.filter(isSuper)))),
      StructType(Seq(StructField("supers", centroids("s_id"),
        nullable = false))))
    val groups = spark.createDataFrame(
      java.util.Arrays.asList(rows.groupBy(r => Option(r(2))).toSeq
        .sortBy(_._1.map(_.asInstanceOf[Long]))
        .map { case (scell, rs) => Row(scell.orNull, entries(rs)) }: _*),
      StructType(Seq(StructField("scell", LongType),
        StructField("garr", centroids("cent_id"), nullable = false))))
    (supers, groups)
  }

  /** [[codebookFrames]] of the persisted codebook at `dir`, capped at
    * the manifest's kk rows. */
  private[graft] def storedCodebook(spark: SparkSession, dir: String,
      m: Manifest): (DataFrame, DataFrame) =
    codebookFrames(spark, codebookRows(spark, dir, m.kk))

  /** Serve top-`k` neighbors for each row of `queries`
    * (q_id, q: array<double>) against a FRESH in-session index frame:
    * the quantizer is re-derived from the index rows (vec_id < kk,
    * kk = max(8, ceil(sqrt(n))) — the build convention), which is only
    * correct for a never-appended assignment. Deterministic, and
    * identical to [[searchTopKStored]] on a just-saved index. */
  def searchTopK(spark: SparkSession, index: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 2): DataFrame = described(spark, "ann.searchTopK") {
    import spark.implicits._
    // the probe REPLAYS the build quantizer — the same two-level
    // super→group fold, via the expressions shared with
    // Similarity.ivfCellsRaw — so a stored vector probes exactly the
    // cell it was assigned to (a flat all-centroid probe is a
    // DIFFERENT quantizer and can miss the stored cell; the first
    // spec run caught q_id 291 at sim 0.27 for that reason).
    val kf = index.agg(greatest(lit(8L),
        ceil(sqrt(count(lit(1)).cast("double"))).cast("long")).as("kk"))
      .select($"kk",
        ceil(sqrt($"kk".cast("double"))).cast("long").as("kk2"))
    // derive the codebook rows (cent_id, c, scell) inline — the same
    // shape save() persists — then share codebookFrames' fold with
    // the stored serve path
    val supers1 = index.crossJoin(broadcast(kf))
      .filter($"vec_id" < $"kk2")
      .select($"vec_id".as("s_id"), $"v".as("c"))
      .agg(expr("array_sort(collect_list(named_struct(" +
        "'s_id', s_id, 'c', c)))").as("supers"))
    val cents = index.crossJoin(broadcast(kf)).filter($"vec_id" < $"kk")
      .crossJoin(broadcast(supers1))
      .select($"vec_id".as("cent_id"), $"v".as("c"),
        when($"vec_id" < $"kk2", $"vec_id")
          .otherwise(graft.queries.Similarity.superOfExpr("v"))
          .as("scell"))
    // kk ≈ √n rows, collected in one job for the shared driver fold
    val (supers, groups) = codebookFrames(spark, cents.collect().toSeq)
    searchWith(spark, index, supers, groups, queries, k, nprobe)
  }

  /** Serve against the PERSISTED artifact with its stored quantizer —
    * the correct serving path for an index that has seen [[append]] /
    * [[forget]] (the fresh-path kk would drift with n). The index read
    * is snapshot-pinned at THIS call (see [[load]]). */
  def searchTopKStored(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int, nprobe: Int = 2): DataFrame =
      described(spark, s"ann.searchTopKStored $dir") {
    val m = manifest(spark, dir) // validate layout/version before planning
    val (supers, groups) = storedCodebook(spark, dir, m)
    searchWith(spark, load(spark, dir), supers, groups, queries, k, nprobe)
  }

  /** The one probe fold both serving paths share: assign each query to
    * its `nprobe` nearest coarse cells (super→group, the build fold),
    * scan only those cells, rank by the house rounded-cosine/
    * ties-by-id rule. Factored (r17) into [[probeCells]] + [[rankTopK]]
    * so an audit serving the SAME panel against several snapshots of
    * one index (compact/vacuum never touch the quantizer, so the cell
    * assignment is invariant across them) can compute the probe fold
    * once and re-rank per snapshot instead of re-deriving the quantizer
    * broadcast chain per serve. */
  private def searchWith(spark: SparkSession, index: DataFrame,
      supers: DataFrame, groups: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    rankTopK(spark, probeCells(spark, queries, supers, groups, nprobe),
      index, k)

  /** Assign each query row (q_id, q) to its `nprobe` candidate cells —
    * (q_id, q, cell), one row per probed cell. Deterministic in
    * (queries, quantizer): exactly the build-side assignment fold. */
  private[graft] def probeCells(spark: SparkSession, queries: DataFrame,
      supers: DataFrame, groups: DataFrame, nprobe: Int): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // NO broadcast hint on the groups join (the ivfCellsRaw rule): AQE
    // must stay free to switch to a shuffle join when k·dim outgrows
    // the broadcast cap; at bench scale it picks broadcast at runtime
    queries.crossJoin(broadcast(supers))
      .select($"q_id", $"q",
        graft.queries.Similarity.superOfExpr("q").as("scell"))
      .join(groups, "scell")
      .select($"q_id", $"q", explode(
        graft.queries.Similarity.groupProbeExpr("q", nprobe)).as("cell"))
  }

  /** Rank a probed panel (q_id, q, cell) against an index frame: scan
    * only the probed cells, rank by the house rounded-cosine/ties-by-id
    * rule, keep the top `k` per query. */
  private[graft] def rankTopK(spark: SparkSession, probed: DataFrame,
      index: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"nsim".asc, $"vec_id".asc)
    probed.join(index, "cell")
      .select($"q_id", $"vec_id",
        expr("-round(nanvl(cosine_similarity(q, v), -2D), 4)").as("nsim"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"q_id", $"rk".cast("long").as("rank"), $"vec_id",
        (-$"nsim").as("sim"))
  }

  /** Land `df`'s rows as new files inside `dir`/cells partition dirs
    * (one file per touched cell via the repartition) WITHOUT touching
    * any existing file, and return the new files' relative paths —
    * the shared write step of [[append]]/[[forget]]/[[compact]].
    * Implementation: Spark writes to a sibling scratch dir, then each
    * part file is renamed into its cell partition dir (a pure
    * metadata move on any FS; part names carry a write-UUID so they
    * never collide with committed files). */
  private def landCellFiles(spark: SparkSession, dir: String,
      df: DataFrame): Seq[String] = {
    // per-write scratch dir (ADVICE r15): a fixed name was the second
    // half of the writer race — two overlapping waves sharing one
    // mode-overwrite scratch dir clobber each other's part files
    // before either commits. A UUID suffix makes each wave's landing
    // strip private; a crashed wave's leftover strip is swept by
    // [[vacuum]] (cells_land_tmp_* is never referenced by a snapshot).
    val tmp = s"$dir/cells_land_tmp_${java.util.UUID.randomUUID().toString.take(8)}"
    df.select(col("vec_id"), col("v"), col("cell2"), col("cell"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(tmp)
    val fs = new Path(dir).getFileSystem(hconf(spark))
    val moved = scala.collection.mutable.ArrayBuffer.empty[String]
    val toMove = walkFiles(fs, fs.makeQualified(new Path(tmp)),
        skipHidden = true)
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .map(src => (src, src.getParent.getName)) // (file, cell=<v>)
      .filter(_._2.startsWith("cell="))
    toMove.foreach { case (src, part) =>
      val dstDir = new Path(s"$dir/cells/$part")
      fs.mkdirs(dstDir)
      val dst = new Path(dstDir, src.getName)
      if (!fs.rename(src, dst))
        throw new IllegalStateException(
          s"could not land $src as $dst — index left on its old snapshot")
      moved += s"cells/$part/${src.getName}"
    }
    fs.delete(new Path(tmp), true)
    moved.toSeq
  }

  /** Append `newVecs` (vec_id, v: array<double>) to a persisted index
    * WITHOUT re-training: each new vector is assigned with the STORED
    * codebook (the same super→group fold as the build — a broadcast
    * map, no corpus shuffle), lands as one delta file per touched cell,
    * and the commit is the snapshot+manifest bump — a reader opened
    * before the bump sees exactly the old index. The caller owns
    * vec_id uniqueness (a membership check would be a full anti-join —
    * wrong cost shape for a daily-append path). Returns the bumped
    * manifest. */
  def append(spark: SparkSession, dir: String,
      newVecs: DataFrame): Manifest = described(spark, s"ann.append $dir") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val m = manifest(spark, dir) // m rides into the bumped return value
    val snapOld = snapshot(spark, dir, m.snapshot_id)
    val (supers, groups) = storedCodebook(spark, dir, m)
    val assigned = newVecs
      .select($"vec_id", $"v".cast("array<double>").as("v"))
      .crossJoin(broadcast(supers))
      .select($"vec_id", $"v",
        graft.queries.Similarity.superOfExpr("v").as("scell"))
      .join(groups, "scell")
      .select($"vec_id", $"v",
        graft.queries.Similarity.groupProbeExpr("v", 2).as("cells"))
      .select($"vec_id", $"v",
        expr("get(cells, 1)").as("cell2"), expr("cells[0]").as("cell"))
    val delta = landCellFiles(spark, dir, assigned)
    val files = snapOld.files ++ delta
    // new total from footer metadata — no corpus job, and robust to
    // whatever the delta actually landed
    val n = footerRowCount(spark, dir, files, strict = true)
    writeSnapshot(spark, dir, Snapshot(m.snapshot_id + 1, files))
    val m2 = m.copy(n_vectors = n, snapshot_id = m.snapshot_id + 1)
    writeManifest(spark, dir, m2)
    m2
  }

  /** The current snapshot's files belonging to the given cells. */
  private def filesOfCells(files: Seq[String],
      cells: Set[Long]): Seq[String] =
    files.filter(f => cellOfFile(f).exists(cells))

  private def cellOfFile(f: String): Option[Long] =
    f.split('/').find(_.startsWith("cell="))
      .flatMap(_.stripPrefix("cell=").toLongOption)

  /** Takedown: make every id in `ids` unreachable via search by
    * re-landing ONLY the cell partitions that hold them (survivors →
    * new files → snapshot+manifest commit → physical delete of the
    * replaced files). Deletion runs AFTER the commit, so a crash at
    * any point leaves a CONSISTENT index: before the commit the old
    * snapshot is still current (only orphan survivor-files to
    * [[vacuum]]); after it, the new snapshot already excludes the
    * victims and only their physical bytes await the sweep — the
    * pre-r15 delete-then-rename loop could lose a whole cell instead
    * (ADVICE r14). If a forgotten id seeded a codebook entry the
    * manifest is flagged `codebook_stale` (probe geometry keeps
    * working but the codebook still embeds that vector — rebuild to
    * scrub it). Returns the bumped manifest. */
  def forget(spark: SparkSession, dir: String, ids: Seq[Long]): Manifest =
      described(spark, s"ann.forget $dir") {
    import spark.implicits._
    require(ids.nonEmpty, "forget needs at least one id")
    val m = manifest(spark, dir)
    val snapOld = snapshot(spark, dir, m.snapshot_id)
    val idx = readFiles(spark, dir, snapOld.files)
    // takedown lists are small — the affected-cell set is bounded by |ids|
    val hitCells = idx.filter($"vec_id".isin(ids: _*))
      .select($"cell").distinct().as[Long].collect().toSet
    val stale = m.codebook_stale || ids.exists(_ < m.kk)
    if (hitCells.isEmpty) {
      val m2 = m.copy(codebook_stale = stale)
      if (m2 != m) writeManifest(spark, dir, m2)
      m2
    } else {
      val survivors = idx.filter($"cell".isin(hitCells.toSeq: _*))
        .filter(!$"vec_id".isin(ids: _*))
      // land the rewritten cells as new files (a fully-forgotten cell
      // simply lands nothing), then commit
      val landed = landCellFiles(spark, dir, survivors)
      val victims = filesOfCells(snapOld.files, hitCells)
      val files = (snapOld.files.toSet -- victims).toSeq ++ landed
      val n = footerRowCount(spark, dir, files, strict = true)
      writeSnapshot(spark, dir, Snapshot(m.snapshot_id + 1, files.toList))
      val m2 = m.copy(n_vectors = n, codebook_stale = stale,
        snapshot_id = m.snapshot_id + 1)
      writeManifest(spark, dir, m2)
      // takedown: the replaced bytes leave the disk NOW (post-commit —
      // see scaladoc); vacuum is the fsck for a crash mid-sweep
      val fs = new Path(dir).getFileSystem(hconf(spark))
      victims.foreach(f => fs.delete(new Path(dir, f), false))
      m2
    }
  }

  /** Parquet file count per cell in the CURRENT SNAPSHOT — driver-side
    * and bounded by the live file count (~√n + append waves). The
    * fragmentation signal: a fresh [[save]] leaves exactly one file
    * per cell; every [[append]] wave adds one delta file to each
    * touched cell. Orphans awaiting [[vacuum]] are invisible here by
    * construction (they are not in the snapshot). */
  def cellFileCounts(spark: SparkSession, dir: String): Map[Long, Int] = {
    val m = manifest(spark, dir)
    snapshot(spark, dir, m.snapshot_id).files
      .flatMap(cellOfFile)
      .groupBy(identity).view.mapValues(_.size).toMap
  }

  /** Defragment cell partitions: rewrite the given `cells` — or, by
    * default, every cell holding >= `minFiles` live files — to one
    * fresh file each, and COMMIT via the snapshot+manifest bump. The
    * replaced files stay on disk, so any reader pinned to the previous
    * snapshot (an in-flight job) keeps returning bit-equal results —
    * call [[vacuum]] to reclaim them once no pinned reader remains
    * (pinned by spec: serve-under-compact). Row content is untouched,
    * so search is bit-equal before/after, and a pre-commit footer
    * count that disagrees with the manifest ABORTS with the old
    * snapshot intact —
    * never a half-compacted index (ADVICE r14: the old in-place swap
    * loop could lose a cell on a crash between delete and rename).
    * Cost shape: only fragmented partitions are read and rewritten,
    * never the full index — the daily-compaction complement of the
    * daily [[append]].
    * @return the compacted cell ids (empty = nothing fragmented). */
  def compact(spark: SparkSession, dir: String,
      cells: Seq[Long] = Seq.empty, minFiles: Int = 2): Seq[Long] =
      described(spark, s"ann.compact $dir") {
    import spark.implicits._
    val m = manifest(spark, dir)
    val snapOld = snapshot(spark, dir, m.snapshot_id)
    val counts = cellFileCounts(spark, dir)
    val victims =
      (if (cells.nonEmpty) cells.filter(counts.contains)
       else counts.collect { case (c, n) if n >= minFiles => c }.toSeq)
        .sorted
    if (victims.isEmpty) Seq.empty else {
      val vset = victims.toSet
      val rows = readFiles(spark, dir, snapOld.files)
        .filter($"cell".isin(victims: _*))
      val landed = landCellFiles(spark, dir, rows)
      val replaced = filesOfCells(snapOld.files, vset)
      val files = (snapOld.files.toSet -- replaced).toSeq ++ landed
      val n = footerRowCount(spark, dir, files, strict = true)
      if (n != m.n_vectors) {
        // abort BEFORE the commit: the old snapshot stays current and
        // correct; only the just-landed files need sweeping
        val fs = new Path(dir).getFileSystem(hconf(spark))
        landed.foreach(f => fs.delete(new Path(dir, f), false))
        throw new IllegalStateException(
          s"compaction of $dir would change the row count " +
            s"(${m.n_vectors} -> $n) — aborted, index unchanged")
      }
      writeSnapshot(spark, dir, Snapshot(m.snapshot_id + 1, files.toList))
      writeManifest(spark, dir, m.copy(snapshot_id = m.snapshot_id + 1))
      victims
    }
  }

  /** Reclaim everything the RETAINED snapshots do not reference: data
    * files replaced by [[compact]] (or stranded by a crashed
    * append/forget) and expired snapshot JSONs.
    *
    * `keepSnapshots` is the RETENTION CONTRACT (r15 verdict ask #3):
    * the newest `keepSnapshots` generations — always including the
    * current one — survive, their snapshot files stay readable via
    * [[loadSnapshot]], and no data file any of them references is
    * reclaimed, so a training run that recorded its generation id can
    * re-read exactly that file set for as long as the policy retains
    * it. Generations past the horizon lose their snapshot JSON, so
    * [[loadSnapshot]] on them fails loudly at resolution (never
    * silently serving different rows). Torn-commit leftovers —
    * snapshot files ABOVE the current id, from a writer that crashed
    * between snapshot and manifest write — are always reclaimed along
    * with their landed files. Note [[forget]] deletes its victims'
    * bytes at commit time regardless of retention: a retained
    * pre-forget generation may reference files that no longer exist
    * (time travel never resurrects a takedown — that is the point of
    * takedown). The caller owns the grace window — run vacuum once no
    * reader pinned beyond the horizon remains (at cluster scale:
    * "older than the longest-running query").
    * Returns the number of data files deleted. */
  def vacuum(spark: SparkSession, dir: String,
      keepSnapshots: Int = 1): Long = described(spark, s"ann.vacuum $dir") {
    require(keepSnapshots >= 1,
      s"keepSnapshots must be >= 1 (got $keepSnapshots) — the current " +
        "generation is always retained")
    val m = manifest(spark, dir)
    val committed = listSnapshotIds(spark, dir).sorted
      .filter(_ <= m.snapshot_id)
    val retained = (committed.takeRight(keepSnapshots) :+ m.snapshot_id)
      .toSet
    val live = retained.toSeq
      .flatMap(i => snapshot(spark, dir, i).files).toSet
    val fs = new Path(dir).getFileSystem(hconf(spark))
    val orphans = listCellFiles(spark, dir).filterNot(live)
    orphans.foreach(f => fs.delete(new Path(dir, f), false))
    listSnapshotIds(spark, dir).filterNot(retained)
      .foreach(i => fs.delete(snapshotPath(dir, i), false))
    // sweep scratch strips left by crashed writers (per-write UUID
    // dirs are never referenced by any snapshot — pure garbage here)
    fs.globStatus(new Path(dir, "cells_land_tmp_*"))
      .foreach(st => fs.delete(st.getPath, true))
    orphans.size.toLong
  }

  /** Index-health stats — the rebuild/compact trigger: one row with
    * the cell occupancy shape (max/avg imbalance, the persisted twin
    * of the declared `sim_cell_balance`), the stale-codebook flag,
    * and the fragmentation shape (`frag_files` = max live files in
    * any cell per the current snapshot; 1 on a fresh save, +1 per
    * append wave). `rebuild_recommended` when imbalance exceeds
    * `imbalanceBound` or the codebook is stale — the geometry
    * remedies; a fragmented but well-shaped index wants [[compact]]
    * instead (`compact_recommended` when any cell holds >=
    * `fragBound` files). */
  def stats(spark: SparkSession, dir: String,
      imbalanceBound: Double = 4.0, fragBound: Int = 3): DataFrame =
      described(spark, s"ann.stats $dir") {
    import spark.implicits._
    val m = manifest(spark, dir)
    val fc = cellFileCounts(spark, dir)
    val fragFiles = if (fc.isEmpty) 0L else fc.values.max.toLong
    // imbalance = max·n_cells/n_vectors as ONE float op over exact
    // integers (the sim_cell_balance discipline) — dividing by a
    // pre-rounded avg would compound two float roundings
    load(spark, dir).groupBy($"cell").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"), sum($"n").as("n_vectors"),
        max($"n").as("max_cell"))
      .select($"n_cells", $"n_vectors", $"max_cell",
        round($"n_vectors".cast("double") / $"n_cells", 4).as("avg_cell"),
        round(($"max_cell" * $"n_cells").cast("double") / $"n_vectors", 4)
          .as("imbalance"),
        lit(m.codebook_stale).as("codebook_stale"))
      .withColumn("rebuild_recommended",
        $"codebook_stale" || $"imbalance" > imbalanceBound)
      .withColumn("frag_files", lit(fragFiles))
      .withColumn("compact_recommended", lit(fragFiles >= fragBound))
  }
}
