package graft.engine

import graft.SparkSpec
import graft.engine.jobs.WordCountJob

class MrPipelineSpec extends SparkSpec {

  /** Echo rows grouped by reducer id, in arrival order. */
  private def echoed(df: org.apache.spark.sql.DataFrame): Map[Int, Seq[(String, String)]] =
    df.collect().toSeq.groupMap(_.getInt(0))(_.getString(1)).map { case (rid, ls) =>
      rid -> ls.filter(_ != MrPipelineSpec.Start).map { l =>
        val i = l.indexOf('\t')
        l.substring(0, i) -> l.substring(i + 1)
      }
    }

  test("FirstBytePartitioner: range, case folding, Go semantics") {
    for (r <- Seq(1, 10, 26); k <- Seq("apple", "Zebra", "0day", "émile", "~", ""))
      assert(FirstBytePartitioner.of(k, r) >= 0 &&
        FirstBytePartitioner.of(k, r) < r, s"key=$k r=$r")
    // int(lower('A')) % 26 == 97 % 26
    assert(FirstBytePartitioner.of("Apple", 26) == 97 % 26)
    assert(FirstBytePartitioner.of("apple", 26) == 97 % 26)
    assert(FirstBytePartitioner.of("zulu", 10) == 122 % 10)
    // reference keys carry Sprintln's newline: empty token ⇒ "\n" ⇒ 10
    assert(FirstBytePartitioner.of("", 26) == 10 % 26)
    // raw first UTF-8 byte; only the 1-byte slice is lowered (Go
    // ToLower(key[0:1]) leaves an invalid lead byte unchanged)
    assert(FirstBytePartitioner.of("émile", 26) == (0xc3 % 26))
    // U+0400 'Ѐ' lowers to U+0450 as a full string (D0→D1) but the Go
    // byte-slice semantics keep the raw D0 lead byte
    assert(FirstBytePartitioner.of("Ѐx", 26) == (0xd0 % 26))
  }

  test("lines(): per-file 0-based line numbers in file order") {
    val ds = MrPipeline.lines(spark, Seq(resource("wordcount_fixture.txt")))
    val rows = ds.collect().sortBy(_.lineNo)
    val raw = scala.io.Source.fromFile(resource("wordcount_fixture.txt"))
      .getLines().toArray
    assert(rows.length == raw.length)
    assert(rows.map(_.lineNo).toSeq == rows.indices.map(_.toLong))
    rows.zip(raw).foreach { case (got, want) => assert(got.line == want) }
  }

  test("shuffle: every key lands in its first-byte partition, sorted") {
    val input = MrPipeline.lines(spark, Seq(resource("wordcount_fixture.txt")))
    val r = 7
    val parts = echoed(MrPipeline.run(spark, input, MrPipelineSpec.WordEcho(r)))
    assert(parts.keySet == (0 until r).toSet)
    for ((pid, kvs) <- parts) {
      kvs.foreach { case (k, _) =>
        assert(FirstBytePartitioner.of(k, r) == pid, s"key '$k' in partition $pid")
      }
      assert(kvs == kvs.sorted(MrPipelineSpec.utf8Order), s"partition $pid not byte-sorted")
    }
  }

  test("shuffle order: keys, then values, arrive in UTF-8 byte order; unpaired surrogates as '?'") {
    import spark.implicits._
    // U+FF21 'Ａ' is EF BC A1 in UTF-8 and 0xFF21 in UTF-16; U+1F600 is
    // F0 9F 98 80 and the surrogate pair D83D DE00. Byte order puts 'Ａ'
    // first, Java's String.compareTo puts the emoji first.
    assert("😀".compareTo("Ａ") < 0)
    val df = Seq("😀\tx", "Ａ\tx", "k\t😀", "k\tＡ", "\ud83dz\tx").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val input = MrPipeline.tableLines(df, "f", "id", "text")(spark)
    val got = echoed(MrPipeline.run(spark, input, MrPipelineSpec.PairEcho))
    assert(got == Map(0 -> Seq("?z" -> "x", "k" -> "Ａ", "k" -> "😀", "Ａ" -> "x", "😀" -> "x")))
    // the surrogate key was partitioned by the same '?' byte it arrives as
    assert(FirstBytePartitioner.of("\ud83dz", 26) == '?'.toInt % 26)
  }

  test("pipeline word count == naive single-threaded count") {
    val input = MrPipeline.lines(spark, Seq(resource("wordcount_fixture.txt")))
    val got = MrPipeline.run(spark, input, MrPipelineSpec.Sums)
      .collect().map { row =>
        val Array(k, v) = row.getString(1).split("\t", -1)
        k -> v.toLong
      }.toMap

    val naive = scala.io.Source.fromFile(resource("wordcount_fixture.txt"))
      .getLines()
      .flatMap(l => WordCountJob.fMap("f", 0L, l))
      .toSeq.groupBy(_._1).map { case (k, vs) => k -> vs.size.toLong }
    assert(got == naive)
    assert(got.values.sum ==
      scala.io.Source.fromFile(resource("wordcount_fixture.txt"))
        .getLines().flatMap(_.split("\\s+")).count(_.nonEmpty))
  }

  test("lines(): files spanning several splits number their lines across split boundaries") {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapred.TextInputFormat
    val dir = java.nio.file.Files.createTempDirectory("graft_splits")
    def write(name: String, body: String): String = {
      val f = dir.resolve(name)
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      f.toUri.getPath
    }
    def text(prefix: String, n: Int) =
      (0 until n).map(i => s"$prefix line $i " + "x" * (i % 7))
    // with 256-byte blocks: 674 bytes → 3 splits, 383 → 2, 92 → 1, empty
    // files → none. 6 splits for 6 paths, so a shortcut that skips the
    // offsets when every path looks like one split numbers wrongly here.
    val lf = text("lf", 46)
    val crlf = text("crlf", 22)
    val open = text("open", 6)
    val files = Seq(
      write("a_lf.txt", lf.map(_ + "\n").mkString) -> lf,
      write("b_empty.txt", "") -> Nil,
      write("c_crlf.txt", crlf.map(_ + "\r\n").mkString) -> crlf,
      write("d_open.txt", open.mkString("\n")) -> open, // no trailing newline
      write("e_empty.txt", "") -> Nil,
      write("f_empty.txt", "") -> Nil)
    val paths = files.map(_._1)
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.local.block.size", "fs.file.impl.disable.cache")
      .map(k => k -> Option(conf.get(k)))
    val rows =
      try {
        conf.setLong("fs.local.block.size", 256L)
        // a cached local filesystem keeps the block size it started with
        conf.setBoolean("fs.file.impl.disable.cache", true)
        val splits = spark.sparkContext.hadoopFile(paths.mkString(","),
          classOf[TextInputFormat], classOf[LongWritable], classOf[Text]).getNumPartitions
        assert(splits == paths.size, s"fixture must give one split per path, got $splits")
        MrPipeline.lines(spark, paths).collect()
      } finally saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None)    => conf.unset(k)
      }
    val byFile = rows.groupBy(_.file)
    for ((path, want) <- files) {
      val got = byFile.getOrElse(path, Array.empty).sortBy(_.lineNo).toSeq
      assert(got.map(_.lineNo) == want.indices.map(_.toLong), s"$path line numbers")
      assert(got.map(_.line) == want, s"$path text")
    }
    assert(rows.length == files.map(_._2.size).sum)
  }

  test("run(): reducer ids cover [0, R) and output is deterministic") {
    val input = MrPipeline.lines(spark, Seq(resource("wordcount_fixture.txt")))
    val df1 = MrPipeline.run(spark, input, WordCountJob).collect().toSeq
    val df2 = MrPipeline.run(spark, input, WordCountJob).collect().toSeq
    assert(df1.toSet == df2.toSet)
    assert(df1.map(_.getInt(0)).forall(r => r >= 0 && r < WordCountJob.R))
    // the key bytes of this fixture cannot cover 300 reducers, and an
    // empty input covers none: every reducer still runs fReduce once
    assert(echoed(MrPipeline.run(spark, input, MrPipelineSpec.WordEcho(300))).keySet ==
      (0 until 300).toSet)
    val empty = MrPipeline.lines(spark,
      Seq(java.nio.file.Files.createTempFile("graft_empty", ".txt").toString))
    assert(echoed(MrPipeline.run(spark, empty, MrPipelineSpec.WordEcho(7))) ==
      (0 until 7).map(_ -> Nil).toMap)
  }

  test("run(): reducer ids travel with the rows through a caller's coalesce and union") {
    val input = MrPipeline.lines(spark, Seq(resource("wordcount_fixture.txt")))
    def run() = MrPipeline.run(spark, input, MrPipelineSpec.WordEcho(7))
    def starts(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.filter(_.getString(1) == MrPipelineSpec.Start).map(_.getInt(0)).sorted
    val want = echoed(run())
    assert(want.keySet == (0 until 7).toSet)
    // one task runs all seven reducers, each still under its own id
    assert(echoed(run().coalesce(1)) == want)
    assert(starts(run().coalesce(1)) == (0 until 7))
    // the second input's reducers are not renumbered 7..13
    assert(echoed(run().union(run())) == want.map { case (rid, kvs) => rid -> (kvs ++ kvs) })
    assert(starts(run().union(run())) == (0 until 7).flatMap(r => Seq(r, r)))
  }

  test("non-UTF-8 input bytes survive the full pipeline: stable partitions, multiset preserved") {
    // a file of deliberately invalid UTF-8 (verdict r12 ask #9): lone
    // continuation bytes, never-valid leads, truncated multi-byte
    // sequences — deterministic layout, no generator needed here (the
    // byte-class sweep lives in EngineProps; this drives a REAL file
    // through lines() → map → first-byte shuffle → reduce)
    val bad = java.nio.file.Files.createTempFile("graft_rawbytes", ".txt")
    val lines: Seq[Array[Byte]] = Seq(
      Array(0x80, 0x81, 0xbf),                   // lone continuations
      Array(0xc0, 0xaf),                         // overlong slash
      Array(0xc3),                               // truncated 2-byte lead
      Array(0xe4, 0xb8),                         // truncated 3-byte lead
      Array(0xf0, 0x9f),                         // truncated 4-byte lead
      Array(0xff, 0xfe, 0x20, 0x41),             // never-valid + ascii
      "plain ascii line".getBytes("UTF-8").map(_.toInt),
      Array(0xe4, 0xb8, 0xad)                    // VALID 3-byte CJK
    ).map(_.map(_.toByte))
    val out = java.nio.file.Files.newOutputStream(bad)
    try lines.foreach { l => out.write(l); out.write('\n') }
    finally out.close()

    // identity-ish job: key = the whole decoded line, value = "1";
    // reduce re-emits every (key, count) so nothing can hide in a fold
    object RawJob extends MrJob {
      val R = 7
      def fMap(file: String, lineNo: Long, line: String) =
        Iterator((line, "1"))
      def fReduce(it: Iterator[(String, String)]) =
        it.toSeq.groupBy(_._1).toSeq.sortBy(_._1)
          .iterator.map { case (k, vs) => s"$k ${vs.size}" }
    }
    val input = MrPipeline.lines(spark, Seq(bad.toString))
    val run1 = MrPipeline.run(spark, input, RawJob).collect().toSeq
    val run2 = MrPipeline.run(spark, input, RawJob).collect().toSeq
    // partition stability: byte-identical rows, reducer ids included
    assert(run1.nonEmpty && run1.toSet == run2.toSet)
    // multiset preservation: per-line counts equal the decoded input's
    // (keys may contain spaces — split at the LAST one)
    def parseRow(s: String): (String, Long) = {
      val i = s.lastIndexOf(' ')
      s.substring(0, i) -> s.substring(i + 1).toLong
    }
    val got = run1.map(r => parseRow(r.getString(1))).toMap
    val want = lines
      .map(b => new String(b, java.nio.charset.StandardCharsets.UTF_8))
      .groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
    assert(got == want,
      s"multiset diverged: only-got=${got.keySet -- want.keySet} " +
        s"only-want=${want.keySet -- got.keySet}")
    // every reducer id obeys the first-byte rule for its keys
    run1.foreach { r =>
      val key = parseRow(r.getString(1))._1
      assert(r.getInt(0) == FirstBytePartitioner.of(key, RawJob.R))
    }
  }
}

object MrPipelineSpec {
  val Start = "<start>"

  /** UTF-8 byte order over (key, value) pairs. */
  val utf8Order: Ordering[(String, String)] = {
    val bytes = Ordering.comparatorToOrdering(java.util.Arrays.compareUnsigned(
      _: Array[Byte], _: Array[Byte]))
    Ordering.by[(String, String), (Array[Byte], Array[Byte])] { case (k, v) =>
      (k.getBytes("UTF-8"), v.getBytes("UTF-8"))
    }(Ordering.Tuple2(bytes, bytes))
  }

  /** Reduce re-emits one start marker, then every pair in arrival order
    * as "key\tvalue". */
  trait Echo extends MrJob {
    def fReduce(it: Iterator[(String, String)]): Iterator[String] =
      Iterator(Start) ++ it.map { case (k, v) => s"$k\t$v" }
  }

  /** Word-count map, echo reduce. */
  case class WordEcho(R: Int) extends Echo {
    def fMap(file: String, lineNo: Long, line: String) = WordCountJob.fMap(file, lineNo, line)
  }

  /** Each "key\tvalue" line is one pair; one reducer. */
  object PairEcho extends Echo {
    val R = 1
    def fMap(file: String, lineNo: Long, line: String) = {
      val i = line.indexOf('\t')
      Iterator(line.substring(0, i) -> line.substring(i + 1))
    }
  }

  /** Word count whose reduce emits "key\tsum". */
  object Sums extends MrJob {
    val R = WordCountJob.R
    def fMap(file: String, lineNo: Long, line: String) = WordCountJob.fMap(file, lineNo, line)
    def fReduce(it: Iterator[(String, String)]) =
      WordCountJob.sumByKey(it).map { case (k, v) => s"$k\t$v" }
  }
}
