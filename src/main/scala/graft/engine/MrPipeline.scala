package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileSplit, TextInputFormat}
import org.apache.spark.rdd.HadoopRDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's single-byte shuffle partitioner
  * (`/root/reference/sn/mr_actions.go:226`):
  * `int(strings.ToLower(key[0:1])[0]) % R` — the FIRST BYTE is sliced
  * first, then lowered, so only ASCII 'A'-'Z' fold (a multi-byte UTF-8
  * lead byte is an invalid 1-byte string that Go's ToLower leaves
  * unchanged). Keys in the reference carry `fmt.Sprintln`'s trailing
  * newline, so an empty-token key is the string "\n" → byte 10.
  */
object FirstBytePartitioner {
  def of(key: String, r: Int): Int = {
    val b =
      if (key == null || key.isEmpty) '\n'.toInt // Sprintln newline artifact
      else {
        val first = firstByte(key)
        if (first >= 'A' && first <= 'Z') first + 32 else first
      }
    b % r
  }

  /** `key.getBytes(UTF_8)(0) & 0xff` of a non-empty key, read off its
    * first one or two chars without encoding the rest. An unpaired
    * surrogate encodes as '?', as `getBytes` replaces it. */
  private[engine] def firstByte(key: String): Int = {
    val c = key.charAt(0)
    if (c < 0x80) c
    else if (c < 0x800) 0xc0 | (c >> 6)
    else if (Character.isHighSurrogate(c)) {
      if (key.length > 1 && Character.isLowSurrogate(key.charAt(1)))
        0xf0 | (Character.toCodePoint(c, key.charAt(1)) >> 18)
      else '?'
    } else if (Character.isLowSurrogate(c)) '?'
    else 0xe0 | (c >> 12)
  }
}

/** The MapReduce dataflow core (SURVEY.md §2.2 M1-M5): one text scan
  * and one row-encoded shuffle.
  *
  * `lines` (S1: lines numbered inside each input split) →
  * `flatMap fMap` to `(rid, key, value)` rows with
  * `rid = FirstBytePartitioner.of(key, R)` (M1+M2) →
  * `repartitionById(R, rid)` → `sortWithinPartitions(key, value)`
  * (M3/M4: Spark's unsafe external sort does the spill + k-way merge the
  * reference hand-rolls at `sn/mr_actions.go:425-485`) →
  * `mapPartitions fReduce` (M5, whole sorted partition per call, tagged
  * with the rid of the partition's sentinel row).
  *
  * Everything is executor-side and spillable — the driver collects only
  * one line count per split, and only when a file spans several splits —
  * so the same pipeline shape holds on a 1000-executor cluster.
  */
object MrPipeline {

  /** S1: scan text files line-by-line with (file, lineNo) tagging.
    * TextInputFormat splits a file at byte offsets; each split numbers
    * its own lines, starting at the line count of the same file's earlier
    * splits. Those counts take one counting job, and no job at all when
    * every file is a single split. `file` is the full path, so same-named
    * files in different directories stay distinct. */
  def lines(spark: SparkSession, paths: Seq[String]): Dataset[MrLine] = {
    import spark.implicits._
    val rdd = spark.sparkContext
      .hadoopFile(paths.mkString(","), classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text])
      .asInstanceOf[HadoopRDD[LongWritable, Text]]
    val offsets = splitOffsets(rdd, paths)
    rdd.mapPartitionsWithInputSplit { (split, it) =>
      val fs = split.asInstanceOf[FileSplit]
      val file = fs.getPath.toUri.getPath
      var n =
        if (fs.getStart == 0) 0L
        else offsets.getOrElse((file, fs.getStart),
          throw new IllegalStateException(s"no line offset for $file@${fs.getStart}"))
      it.map { case (_, txt) => val l = MrLine(file, n, txt.toString); n += 1; l }
    }.toDS()
  }

  /** Line-number offset of every split, keyed by (path, split start): the
    * summed line counts of the same file's earlier splits. Every
    * non-empty file is at least one split, so when there are no more
    * splits than non-empty paths each file is exactly one split and every
    * offset is 0: no job runs. Otherwise one job counts the lines of
    * every split. (Counting every split every time is less code, but it
    * reads all input twice: per `mr_corpus` op it took
    * `queries.construct_jobs` 0 → 1, `io.input_mb` 8.06 → 16.13 and
    * `scheduler.tasks` 35 → 51 in one traced run on a 4-core VM.) */
  private def splitOffsets(rdd: HadoopRDD[LongWritable, Text],
      paths: Seq[String]): Map[(String, Long), Long] = {
    val conf = rdd.sparkContext.hadoopConfiguration
    val nonEmpty = paths.count { p =>
      val path = new Path(p)
      path.getFileSystem(conf).getFileStatus(path).getLen > 0
    }
    if (rdd.getNumPartitions <= nonEmpty) return Map.empty
    val counted = rdd.mapPartitionsWithInputSplit { (split, it) =>
      val fs = split.asInstanceOf[FileSplit]
      Iterator((fs.getPath.toUri.getPath, fs.getStart, it.size.toLong))
    }.collect()
    counted.groupBy(_._1).values.flatMap { file =>
      val splits = file.sortBy(_._2)
      splits.map(c => (c._1, c._2)).zip(splits.scanLeft(0L)(_ + _._3))
    }.toMap
  }

  /** Adapt a columnar table to the line-oriented map input contract. */
  def tableLines(df: DataFrame, file: String, idCol: String, textCol: String)
      (implicit spark: SparkSession): Dataset[MrLine] = {
    import spark.implicits._
    df.select(lit(file).as("file"), col(idCol).cast("long").as("lineNo"),
        col(textCol).as("line"))
      .as[MrLine]
  }

  /** Full pipeline → (reducerId, outputLine) rows. `repartitionById` is a
    * fixed-count shuffle, so adaptive execution keeps all R partitions
    * apart. Every reducer gets one `(rid, null, null)` sentinel row:
    * nulls sort first, so a partition's first row names its reducer and
    * is dropped before `fReduce` (a job's own `(null, null)` pair ties
    * with it, so the pairs `fReduce` sees are the same either way). The
    * reducer id thus travels with the data, not with the task that runs
    * it (a caller's `coalesce` or `union` leaves it intact), and no
    * reducer is ever empty, so `fReduce` runs on all R partitions even
    * for an empty input, whatever adaptive execution does with a shuffle
    * that wrote no other rows. */
  def run(spark: SparkSession, input: Dataset[MrLine], job: MrJob): DataFrame = {
    import spark.implicits._
    val r = job.R
    input
      .flatMap(l => job.fMap(l.file, l.lineNo, l.line)
        .map { case (k, v) => (FirstBytePartitioner.of(k, r), k, v) })
      .union(spark.range(0, r, 1, 1).select($"id".cast("int"),
        lit(null).cast("string"), lit(null).cast("string")).as[(Int, String, String)])
      .toDF("rid", "key", "value")
      .repartitionById(r, $"rid")
      .sortWithinPartitions($"key", $"value")
      .as[(Int, String, String)]
      .mapPartitions { it =>
        // Spark's row iterators advance in hasNext, so ask it before next
        if (!it.hasNext) throw new IllegalStateException("reducer without its sentinel row")
        val rid = it.next()._1
        job.fReduce(it.map { case (_, k, v) => (k, v) }).map((rid, _))
      }
      .toDF("rid", "line")
  }
}
