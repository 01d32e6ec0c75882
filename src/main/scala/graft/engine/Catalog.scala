package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The reference's DFS client surface (SURVEY.md §2.1 S2-S6) mapped onto
  * the filesystem Spark already uses: store / retrieve / list / delete /
  * info over a warehouse directory, with the reference's write-once
  * semantics (duplicate store rejected, `cn/dfs_actions.go:17-22`).
  * Chunking/replication/checksums are delegated to the storage layer
  * (HDFS block placement + parquet page checksums), per SURVEY §2.2 M10.
  */
class Catalog(spark: SparkSession, warehouse: String) {

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = new Path(warehouse).getFileSystem(conf)

  /** S6 activity metrics (the busy-time / requests-served analog of the
    * reference's per-node info, `cn/dfs_actions.go:226-324` +
    * `sn/struct.go:164-256`): a listener accumulates completed jobs
    * ("requests served" — one catalog/query action = one-or-more jobs),
    * completed tasks, and summed executor run time ("busy time") for
    * THIS catalog's session. Listener events are asynchronous; readers
    * poll `activity()` (CatalogSpec retries briefly). */
  private val acTasks = new java.util.concurrent.atomic.AtomicLong
  private val acBusyMs = new java.util.concurrent.atomic.AtomicLong
  private val acJobs = new java.util.concurrent.atomic.AtomicLong
  private val acListener =
    new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        acTasks.incrementAndGet()
        if (e.taskMetrics != null)
          acBusyMs.addAndGet(e.taskMetrics.executorRunTime)
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        acJobs.incrementAndGet()
    }
  spark.sparkContext.addSparkListener(acListener)

  /** Detach the activity listener from the session. A catalog that is
    * not closed stays registered (and reachable) for the session's
    * lifetime — fine for the one-engine-one-catalog case, a leak for
    * anything constructing catalogs per request/test. Idempotent;
    * activity() keeps returning the last observed counts. */
  def close(): Unit =
    spark.sparkContext.removeSparkListener(acListener)

  /** Jobs ("requests"), tasks, and busy executor-milliseconds observed
    * since this catalog attached to the session. */
  def activity(): Map[String, Long] = Map(
    "requests" -> acJobs.get(),
    "tasks" -> acTasks.get(),
    "busy_ms" -> acBusyMs.get())

  private def target(name: String): Path = {
    require(!name.contains("/"), s"flat namespace (cn/dfs_actions.go): $name")
    require(!name.startsWith(".tmp."), s"reserved staging prefix: $name")
    new Path(warehouse, name)
  }

  /** S2: ingest a local file; duplicate names rejected.
    * `chunkSizeMb` mirrors the client's overridable chunk size
    * (cl/dfs_actions.go:76-81, default 64 MiB): it is plumbed to the
    * write's requested block size, the unit the storage layer splits
    * and places the file by — the direct analog of the reference's
    * chunk granularity. */
  def store(local: String, name: String, chunkSizeMb: Long = 64L): Unit = {
    require(chunkSizeMb > 0, s"chunk size must be positive: $chunkSizeMb")
    val dst = target(name)
    if (fs.exists(dst))
      throw new IllegalArgumentException(s"file exists: $name") // :17-22
    fs.mkdirs(new Path(warehouse))
    // A crash between create(tmp) and publish strands the temp — sweep
    // aged ones for this name so they cannot accumulate invisibly
    // (they are hidden from list/info and target() refuses the prefix).
    sweepStaging(name)
    // stage into a dot-temp then publish: a failed mid-stream copy can
    // never burn the write-once name with a truncated file (the temp is
    // deleted on failure, and dot-names are invisible to list/info).
    val tmp = new Path(warehouse,
      s".tmp.$name.${java.util.UUID.randomUUID().toString.take(8)}")
    val src = new Path(local)
    val localFs = src.getFileSystem(conf)
    val in = localFs.open(src)
    try {
      // explicit create so the block size is honored (copyFromLocalFile
      // would silently use the fs default)
      val out = fs.create(tmp, false, 64 * 1024,
        fs.getDefaultReplication(tmp), chunkSizeMb * 1048576L)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 64 * 1024)
      finally out.close()
      if (!publishNoReplace(tmp, dst)) {
        fs.delete(tmp, false)
        throw new IllegalArgumentException(s"file exists: $name")
      }
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Throwable => }
        throw e
    } finally in.close()
  }

  /** Publish a staged temp at its final name, refusing to replace an
    * existing dst — atomically, so two racing stores cannot both win.
    * POSIX rename(2) (what the local filesystem's rename maps to)
    * SILENTLY REPLACES an existing destination, so an exists()+rename()
    * pair is a TOCTOU hole there: on `file:` we publish via a hard
    * link instead (link(2) fails with EEXIST — kernel-atomic
    * fail-if-exists) and unlink the temp. On HDFS, rename itself
    * returns false for an existing destination, atomically in the
    * namenode. */
  private[engine] def publishNoReplace(tmp: Path, dst: Path): Boolean =
    if ("file" == fs.getUri.getScheme) {
      import java.nio.file.{Files, Paths, FileAlreadyExistsException}
      try {
        Files.createLink(Paths.get(dst.toUri.getPath),
          Paths.get(tmp.toUri.getPath))
        // carry the checksum sidecar across (LocalFileSystem keeps
        // .name.crc next to name; content-addressed, so a link is valid)
        val crcSrc = Paths.get(new Path(tmp.getParent,
          "." + tmp.getName + ".crc").toUri.getPath)
        val crcDst = Paths.get(new Path(dst.getParent,
          "." + dst.getName + ".crc").toUri.getPath)
        if (Files.exists(crcSrc) && !Files.exists(crcDst))
          try Files.createLink(crcDst, crcSrc)
          catch { case _: FileAlreadyExistsException => }
        fs.delete(tmp, false)
        true
      } catch {
        case _: FileAlreadyExistsException => false
        // filesystems without hard links (FAT/exFAT, some FUSE/network
        // mounts): link(2) is unavailable, not a name conflict — fall
        // back to the check-then-rename publish. That pair is a TOCTOU
        // window on POSIX rename semantics, the price of the mount; on
        // link-capable filesystems (the normal case) the kernel-atomic
        // path above is taken and this branch never runs.
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          !fs.exists(dst) && fs.rename(tmp, dst)
      }
    } else !fs.exists(dst) && fs.rename(tmp, dst)

  /** Reclaim crash-stranded staging temps (invisible to list/info and
    * not deletable via the public delete — target() refuses the
    * reserved prefix). Only temps older than `olderThanMs` go: an
    * in-flight store's temp is seconds old. Returns the count removed.
    * store() calls this for its own name; callers may run it
    * warehouse-wide. */
  def sweepStaging(name: String = "*", olderThanMs: Long = 3600000L): Int = {
    // glob metacharacters in a stored name would at worst widen the
    // match to OTHER temps or throw on an unbalanced pattern (treated
    // as nothing-swept) — so the LISTING over-matches, and an exact
    // regex filters it: the suffix after ".tmp.<name>." must be the
    // 8-hex-char staging uuid and nothing else. Without this, a sweep
    // for "data" would match ".tmp.data.txt.<uuid>" — the IN-FLIGHT
    // temp of a sibling store of "data.txt" — and could delete it
    // mid-copy once it crosses the age bar (a slow store of a large
    // file is legitimately hours old).
    val exact =
      (if (name == "*") """\.tmp\..+\.[0-9a-f]{8}"""
       else s"""\\.tmp\\.${java.util.regex.Pattern.quote(name)}\\.[0-9a-f]{8}""").r
    val stale =
      try fs.globStatus(new Path(warehouse, s".tmp.$name.*"))
      catch { case _: Throwable => null }
    if (stale == null) 0
    else stale.count { s =>
      exact.pattern.matcher(s.getPath.getName).matches &&
        System.currentTimeMillis - s.getModificationTime > olderThanMs &&
        (try fs.delete(s.getPath, false) catch { case _: Throwable => false })
    }
  }

  /** Table-shaped ingest — the columnar form of S2's chunk-size control:
    * `maxRecordsPerFile` bounds each output part file the way the
    * reference's chunk size bounds each stored chunk (SURVEY §2.1 S2).
    * Write-once: duplicate table names rejected like `store`.
    *
    * Stage-then-publish like `store`: Spark creates the output
    * directory at JOB START, so writing straight to `dst` means an
    * aborted job leaves a present-but-unreadable directory that
    * permanently poisons the write-once name (every later
    * `exists(name)` check skips the rebuild and `readTable` fails).
    * Writing into a dot-temp and publishing via no-replace rename
    * makes a crashed build invisible (swept by sweepStaging) and a
    * lost publish race an explicit "file exists". */
  def storeTable(df: org.apache.spark.sql.DataFrame, name: String,
      maxRecordsPerFile: Long = 0L): Unit = {
    val dst = target(name)
    if (fs.exists(dst))
      throw new IllegalArgumentException(s"file exists: $name")
    fs.mkdirs(new Path(warehouse))
    sweepStaging(name)
    val tmp = new Path(warehouse,
      s".tmp.$name.${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      df.write.option("maxRecordsPerFile", maxRecordsPerFile)
        .parquet(tmp.toString)
      if (!publishDirNoReplace(tmp, dst))
        throw new IllegalArgumentException(s"file exists: $name")
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, true) catch { case _: Throwable => }
        throw e
    }
  }

  /** Directory twin of [[publishNoReplace]] (hard links cannot publish
    * a parquet directory): on `file:` a same-filesystem
    * `java.nio.Files.move` without ATOMIC_MOVE is an exists-check
    * followed by rename(2) — NOT atomic (ADVICE r8). A racing
    * publisher landing inside that window hits rename(2) onto a
    * non-empty directory, which fails with ENOTEMPTY
    * (DirectoryNotEmptyException / FileSystemException) rather than
    * FileAlreadyExistsException — so BOTH exception shapes mean "lost
    * the race" and return false. No clobbering is possible either way
    * (rename never replaces a non-empty dir); on HDFS, `rename`
    * itself returns false for an existing destination. */
  private[engine] def publishDirNoReplace(tmp: Path, dst: Path): Boolean =
    if ("file" == fs.getUri.getScheme) {
      import java.nio.file.{Files, Paths, FileAlreadyExistsException,
        DirectoryNotEmptyException, FileSystemException}
      try {
        Files.move(Paths.get(tmp.toUri.getPath),
          Paths.get(dst.toUri.getPath))
        true
      } catch {
        case _: FileAlreadyExistsException => false
        case _: DirectoryNotEmptyException => false
        // ENOTEMPTY/EEXIST surface as a bare FileSystemException on
        // some JDK/filesystem combinations — but only call it a lost
        // race when the winner's directory is actually there; any
        // other FileSystemException (tmp vanished, EACCES…) is a real
        // failure and must propagate, not read as "file exists"
        case e: FileSystemException =>
          if (fs.exists(dst)) false else throw e
      }
    } else fs.rename(tmp, dst)

  /** Read a table stored via [[storeTable]] as a DataFrame whose lineage
    * is rooted at the written parquet files — the durable counterpart of
    * serving a localCheckpoint'd build frame (non-reliable storage): an
    * executor loss replays a file read instead of rebuilding the
    * artifact. Content is write-once, so the frame never goes stale. */
  def readTable(name: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(target(name).toString)

  /** True iff a stored file/table with this name exists. */
  def exists(name: String): Boolean = fs.exists(target(name))

  /** BIN/TXT sniffing (cl/dfs_actions.go:69-74: content-type detection
    * over the first 512 bytes). Computed on demand from the stored
    * bytes — same information as the reference's store-time sniff
    * (content is write-once) with no metadata to keep consistent. A
    * 512-byte window is TXT iff it is valid UTF-8 (a multi-byte
    * sequence truncated by the window edge is allowed) and free of
    * control bytes other than \t \n \r \f.
    *
    * DELIBERATE divergences from the reference's exact behavior: its
    * `io.CopyN` returns an error for any file under 512 bytes, so every
    * short file is BIN there (and silently excluded from default MR
    * input) — here short and empty UTF-8 files sniff as TXT, which is
    * what the content actually is. Conversely Go's `DetectContentType`
    * can report `text/plain` for non-UTF-8 charsets (e.g. Latin-1),
    * which this strict-UTF-8 check calls BIN. Both differences favor
    * content-faithful classification over reproducing the sub-512-byte
    * quirk. */
  def fileType(name: String): String = {
    val p = target(name)
    if (fs.getFileStatus(p).isDirectory) return "BIN" // table dir
    val in = fs.open(p)
    val buf = new Array[Byte](512)
    val n = try {
      var read = 0
      var r = 0
      while (read < 512 && r >= 0) {
        r = in.read(buf, read, 512 - read)
        if (r > 0) read += r
      }
      read
    } finally in.close()
    if (n == 0) return "TXT" // empty file: vacuously text
    var i = 0
    var txt = true
    while (txt && i < n) {
      val b = buf(i) & 0xff
      if (b < 0x20 && b != '\t' && b != '\n' && b != '\r' && b != '\f') txt = false
      else if (b < 0x80) i += 1
      else {
        // UTF-8 multi-byte: lead byte fixes the length; continuation
        // bytes must be 10xxxxxx; truncation at the window edge is fine
        val len =
          if (b >= 0xc2 && b <= 0xdf) 2
          else if (b >= 0xe0 && b <= 0xef) 3
          else if (b >= 0xf0 && b <= 0xf4) 4
          else -1
        if (len < 0) txt = false
        else {
          var j = 1
          while (txt && j < len && i + j < n) {
            if ((buf(i + j) & 0xc0) != 0x80) txt = false
            j += 1
          }
          i += len
        }
      }
    }
    if (txt) "TXT" else "BIN"
  }

  /** All stored TXT files in sorted order — the default input set of a
    * map-reduce job (cn/mr_actions.go:222: only TXT chunks feed maps). */
  def listTxt(): Seq[String] = list().filter(fileType(_) == "TXT")

  /** M8 input selection, the one rule every map-reduce entry point uses
    * (`cn/mr_actions.go:72-85, 222`): an empty list
    * selects every stored TXT file; an explicit list is checked against
    * the catalog first, every missing name reported in one error, then
    * de-duplicated (the reference's `filename_map` is a SET, so a repeated
    * name must not double its counts) and filtered to TXT (the `:222`
    * filter runs before the membership check, so explicit BIN names and
    * table directories are skipped too).
    * @return the selected files' paths, in list order
    * @throws IllegalArgumentException missing names, or no TXT input left */
  def mapInputs(fileNames: Seq[String]): Seq[String] = {
    val names =
      if (fileNames.isEmpty) listTxt()
      else {
        val stored = list().toSet
        val missing = fileNames.filterNot(stored).distinct
        if (missing.nonEmpty)
          throw new IllegalArgumentException(
            s"file(s) '${missing.mkString("', '")}' not in system")
        fileNames.distinct.filter(fileType(_) == "TXT")
      }
    if (names.isEmpty)
      throw new IllegalArgumentException("no TXT files stored")
    names.map(pathOf)
  }

  /** Absolute path of a stored file, for handing to a reader. */
  def pathOf(name: String): String = target(name).toString

  /** S3: export a stored file to a local path; refuses to overwrite
    * (cl/dfs_actions.go:305-309). */
  def retrieve(name: String, localOut: String): Unit = {
    val out = new Path(localOut)
    val localFs = out.getFileSystem(conf)
    if (localFs.exists(out))
      throw new IllegalArgumentException(s"local file exists: $localOut")
    fs.copyToLocalFile(target(name), out)
  }

  /** S5: sorted listing (cl/dfs_actions.go:546-580). `.tmp.`-prefixed
    * entries are store()'s internal staging files (visible only if a
    * crash strands one mid-copy) and are hidden from the catalog
    * surface here and in info(). */
  def list(): Seq[String] = {
    val dir = new Path(warehouse)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filterNot(_.startsWith(".tmp.")).sorted.toSeq
  }

  /** S5 verbose (`list -v`, cl/dfs_actions.go:546-580): per stored
    * entry, its chunks — part files for a table directory, storage
    * blocks for a raw file — and each chunk's replica hosts, the
    * (name, size, locations) detail the reference prints per chunk.
    * This is the cataloging role `df.inputFiles` plays for tables,
    * extended with the block placement the DFS layer reports. */
  def listVerbose(): Seq[(String, Seq[(String, Long, Seq[String])])] =
    list().map { name =>
      val p = target(name)
      val st = fs.getFileStatus(p)
      def blocks(s: org.apache.hadoop.fs.FileStatus) =
        fs.getFileBlockLocations(s, 0, math.max(s.getLen, 1L))
          .flatMap(_.getHosts).toSeq
      val chunks =
        if (st.isDirectory)
          fs.listStatus(p).filter(_.isFile).sortBy(_.getPath.getName)
            // _SUCCESS and other marker/hidden files are not chunks
            .filterNot(c => c.getPath.getName.startsWith("_") ||
              c.getPath.getName.startsWith("."))
            .map(c => (c.getPath.getName, c.getLen, blocks(c))).toSeq
        else Seq((name, st.getLen, blocks(st)))
      name -> chunks
    }

  /** S4: whole-file delete (cn/dfs_actions.go:150-181). */
  def delete(name: String): Boolean = fs.delete(target(name), true)

  /** S6: storage metrics — entry/byte totals plus the per-type
    * breakdown the reference's info surface reports per node
    * (`cn/dfs_actions.go` node metrics; here aggregated over the
    * warehouse): TXT vs BIN raw files, table directories, and total
    * chunk count. Bytes sum the CHUNK sizes (part files for tables),
    * not directory-entry lengths. */
  def info(): Map[String, Long] = {
    val dir = new Path(warehouse)
    if (!fs.exists(dir))
      return Map("files" -> 0L, "bytes" -> 0L, "txt_files" -> 0L,
        "bin_files" -> 0L, "tables" -> 0L, "chunks" -> 0L)
    val v = listVerbose()
    val entries = fs.listStatus(dir)
      .filterNot(_.getPath.getName.startsWith(".tmp.")) // staging temps
    val (tables, plain) = entries.partition(_.isDirectory)
    val txt = plain.count(s => fileType(s.getPath.getName) == "TXT")
    Map(
      "files" -> entries.length.toLong,
      "bytes" -> v.flatMap(_._2).map(_._2).sum,
      "txt_files" -> txt.toLong,
      "bin_files" -> (plain.length - txt).toLong,
      "tables" -> tables.length.toLong,
      "chunks" -> v.map(_._2.size.toLong).sum)
  }
}
