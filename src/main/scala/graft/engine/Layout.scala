package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout tools: bucketing for co-located joins and
  * aggregations (SURVEY.md §7.1 scale stance).
  *
  * At 100 TB the dominant cost of a fact-fact join is the shuffle of
  * both sides. Writing the tables bucketed (and sorted) by the join key
  * makes that shuffle a one-time write-side cost: every subsequent join
  * or aggregation on the bucket key reads co-located buckets and plans
  * with NO Exchange on either side (asserted in BucketedJoinSpec) — the
  * sort-merge join streams bucket-to-bucket. Bucket count is chosen at
  * write time: target ≈ table size / healthy partition size (128-512 MB)
  * and keep it a multiple of the executor count so every core gets
  * buckets.
  */
object Layout {

  /** Fan a narrow frame out to every core BEFORE a CPU-heavy in-row
    * expansion (per-char/per-gram hashing, dim² products, pairwise
    * explodes). A small-scale-factor table is one parquet file with one
    * row group, so the scan — and every map-side expression fused into
    * its stage — runs in ONE task while the other cores idle; the
    * round-robin repartition spreads the expansion's input rows first.
    * GUARDED: at 100 TB the scan already has ≫ cores splits and this
    * is a no-op — no shuffle is added (the sim_pca_top_component
    * precedent, generalized r16). */
  def fanOut(spark: SparkSession, df: DataFrame): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Write `df` as a bucketed+sorted managed table (Parquet). Both sides
    * of a future join must use the SAME bucket count and key for the
    * exchanges to be elided. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    require(buckets >= 1)
    df.write
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .saveAsTable(table) // managed: lives under spark.sql.warehouse.dir
  }

  /** 8-bit → 16-bit zero-gap bit spread (0bABCDEFGH → 0b0A0B0C0D0E0F0G0H)
    * — the classic two-magic-masks Morton step, built from codegen'd
    * bitwise columns only. */
  private def spread8(c: Column): Column = {
    val x1 = c.bitwiseOR(shiftleft(c, 4)).bitwiseAND(lit(0x0F0F))
    val x2 = x1.bitwiseOR(shiftleft(x1, 2)).bitwiseAND(lit(0x3333))
    x2.bitwiseOR(shiftleft(x2, 1)).bitwiseAND(lit(0x5555))
  }

  /** 16-bit Morton (Z-order) key from two 8-bit bucket indexes in
    * [0, 255]. spread8 masks away bits above the 8th, so an out-of-domain
    * input would silently COLLIDE with an in-domain key and degrade the
    * layout — instead the key expression fails the job loudly. */
  def zKey(a: Column, b: Column): Column = {
    def checked(c: Column, name: String): Column =
      when(c < 0 || c > 255,
        raise_error(concat(lit(s"zKey $name out of [0,255]: "), c.cast("string"))))
        .otherwise(c)
    shiftleft(spread8(checked(a, "a")), 1).bitwiseOR(spread8(checked(b, "b")))
  }

  /** Quantile bucket index of `c` against precomputed boundaries: the
    * number of boundaries ≤ c — an in-row fold over a literal array
    * (codegen'd; 255 comparisons/row/dim, no join, no shuffle). */
  private def bucketOf(c: Column, bounds: Array[Double]): Column =
    size(filter(typedLit(bounds), b => b <= c))

  /** Z-order (Morton) clustered rewrite on two numeric columns — the
    * multi-dimensional data-skipping layout: a single-column sort gives
    * perfect file-level min/max pruning on that column and NONE on any
    * other; interleaving the bits of both columns' quantile ranks makes
    * every file a small rectangle in (a, b) space, so predicates on
    * EITHER column (or both) prune files. At 100 TB this is how a fact
    * table serves two selective access paths without being stored twice.
    *
    * Mechanics: 255 approx-quantile boundaries per column (one driver
    * array each — rank-quantization is skew-proof where min/max scaling
    * is not), an in-row bucket fold, the 16-bit Morton interleave above,
    * then ONE range repartition (the same single shuffle a plain
    * sort-write costs) with files written in z-key order. The range key
    * leads with the ALIGNED Morton tile (z divided into `files` equal
    * z-ranges): an unaligned file boundary would let one file straddle a
    * high-bit Morton jump and inherit a near-full-range bounding box on
    * one dim; leading with the tile id pins file splits to the tile grid
    * (pick `files` a power of 4 for square tiles). ZOrderSpec asserts
    * the skipping effect: a narrow slice on EITHER column prunes most
    * z-files, while the single-column sort cannot prune the other dim. */
  def zOrderWrite(df: DataFrame, colA: String, colB: String,
      dstDir: String, files: Int): Unit = {
    require(files >= 1)
    val probs = (1 to 255).map(_ / 256.0).toArray
    // one pass, both columns: approxQuantile on the pair
    val Array(boundsA, boundsB) =
      df.stat.approxQuantile(Array(colA, colB), probs, 0.001)
    val spark = df.sparkSession
    // range boundaries must land exactly on tile ids (only `files`
    // distinct values): the default 100-samples-per-partition boundary
    // estimate routinely fuses two tiles into one file, whose bounding
    // box then spans both — sample densely for this one exchange. The
    // override lives on a CLONED session (shared SparkContext, separate
    // SQLConf), so concurrent range-partitioned writes on the caller's
    // session never observe the 5000-sample setting; the frame crosses
    // sessions via a global temp view (re-resolved under the clone's
    // conf).
    val writer = spark.newSession()
    // newSession shares context/catalog but starts runtime conf from
    // defaults: carry the caller's runtime overrides (nanosAsLong,
    // timezone, broadcast thresholds, …) so the write's scans behave
    // identically, THEN apply the sampling override on the clone only
    spark.conf.getAll.foreach { case (k, v) =>
      try writer.conf.set(k, v)
      catch { case _: Exception => } // static/non-modifiable entries
    }
    writer.conf.set(
      "spark.sql.execution.rangeExchange.sampleSizePerPartition", "5000")
    val view = "graft_zorder_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    df.createOrReplaceGlobalTempView(view)
    try {
      // range key = the tile id ALONE: adding __z to the range key makes
      // every sampled boundary a (tile, z) pair that splits INSIDE a
      // tile at its median z, shifting each file half a tile off the
      // grid; z only orders rows within the file (row-group locality)
      writer.table(s"global_temp.$view")
        .withColumn("__z",
          zKey(bucketOf(col(colA).cast("double"), boundsA),
            bucketOf(col(colB).cast("double"), boundsB)))
        .withColumn("__tile", floor(col("__z") * files / 65536))
        .repartitionByRange(files, col("__tile"))
        .sortWithinPartitions("__tile", "__z")
        .drop("__tile", "__z")
        .write.mode("overwrite").parquet(dstDir)
    } finally spark.catalog.dropGlobalTempView(view)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(totalBytes / targetBytes) files. Long-running ingest (striped
    * writers, frequent small appends) accretes thousands of KB-sized
    * files per partition; at 100 TB the resulting scan pays a task per
    * file and the NameNode/listing pays per entry — periodic compaction
    * to 128-512 MB files is routine table maintenance. The rewrite is one
    * round-robin repartition (no key shuffle); file sizing derives from
    * the ACTUAL on-disk byte size, not row counts, so it holds across
    * schema/compression changes.
    *
    * @return number of files written */
  def compact(spark: SparkSession, srcDir: String, dstDir: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0)
    val path = new org.apache.hadoop.fs.Path(srcDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(path)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(srcDir)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(dstDir)
    nFiles
  }
}
