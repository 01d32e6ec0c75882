package graft.engine

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.engine.jobs.{LogAnalyzerJob, WordCountJob}

/** ScalaCheck properties for the Spark-free engine pieces
  * (SURVEY.md §5.2: partitioner range, reduce-vs-groupBy equivalence,
  * normalize totality). */
object EngineProps extends Properties("engine") {

  private val keyGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf('ä', 'é', '中', 'ß', ' ', '\t', '!', '0', 'z'))
      .map(_.mkString))

  property("partitioner range is [0, R) for any key") =
    forAll(keyGen, Gen.choose(1, 100)) { (k, r) =>
      val p = FirstBytePartitioner.of(k, r)
      p >= 0 && p < r
    }

  // Go's ToLower(key[0:1]) folds ASCII letters only — the law is
  // ASCII-case-insensitivity (non-ASCII lead bytes pass through raw)
  property("partitioner is ASCII-case-insensitive") =
    forAll(Gen.alphaNumStr, Gen.choose(1, 100)) { (k, r) =>
      FirstBytePartitioner.of(k.toUpperCase(java.util.Locale.ROOT), r) ==
        FirstBytePartitioner.of(k.toLowerCase(java.util.Locale.ROOT), r)
    }

  // one or two chars per piece: ASCII, upper case, 2-, 3- and 4-byte
  // UTF-8 (the last a surrogate pair) and lone high/low surrogates
  private val utf8Piece: Gen[String] = Gen.oneOf("a", "Z", "~", "\u007f",
    "\u0080", "é", "\u07ff", "\u0800", "中", "\uffff", "😀", "\udbff\udfff",
    "\ud800", "\udbff", "\udc00", "\udfff")

  property("partitioner first byte == getBytes(UTF_8)(0), without encoding") =
    forAll(Gen.oneOf(utf8Piece.map(_.take(1)),
        Gen.nonEmptyListOf(utf8Piece).map(_.mkString))) { k =>
      FirstBytePartitioner.firstByte(k) ==
        (k.getBytes(java.nio.charset.StandardCharsets.UTF_8)(0) & 0xff)
    }

  property("same first char ⇒ same partition") =
    forAll(Gen.alphaChar, Gen.alphaNumStr, Gen.alphaNumStr, Gen.choose(1, 50)) {
      (c, s1, s2, r) =>
        FirstBytePartitioner.of(c + s1, r) == FirstBytePartitioner.of(c + s2, r)
    }

  // Raw non-UTF-8 byte sequences (verdict r12 ask #9): keys reach the
  // partitioner as JVM strings, and a file containing invalid UTF-8 —
  // lone continuation bytes (0x80-0xBF), truncated multi-byte leads,
  // overlong 0xC0 — decodes to U+FFFD replacement chars. The generator
  // produces RAW BYTES biased toward exactly those classes; the law is
  // total in-range determinism under BOTH decodings a pipeline can
  // produce (UTF-8-with-replacement, and latin-1 which preserves every
  // byte value as its own char).
  private val rawBytesGen: Gen[Array[Byte]] =
    Gen.listOf(Gen.frequency(
      3 -> Gen.choose(0x80, 0xbf),           // lone continuation bytes
      2 -> Gen.oneOf(0xc0, 0xc1, 0xf5, 0xff), // never-valid UTF-8 bytes
      2 -> Gen.oneOf(0xc3, 0xe4, 0xf0),       // leads with no continuation
      3 -> Gen.choose(0x20, 0x7e)             // printable ASCII
    )).map(_.map(_.toByte).toArray)

  property("raw invalid-UTF-8 bytes partition in range, deterministically, under both decodings") =
    forAll(rawBytesGen, Gen.choose(1, 100)) { (bytes, r) =>
      val utf8 = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      val latin = new String(bytes,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      Seq(utf8, latin).forall { k =>
        val p = FirstBytePartitioner.of(k, r)
        p >= 0 && p < r && p == FirstBytePartitioner.of(k, r)
      }
    }

  // the latin-1 decoding preserves the raw first byte, so the Go
  // semantics (first BYTE of the encoded key mod R, ASCII-folded) are
  // directly checkable against the byte array itself
  property("latin-1-decoded raw bytes reproduce Go's first-byte rule exactly") =
    forAll(rawBytesGen.suchThat(_.nonEmpty), Gen.choose(1, 100)) { (bytes, r) =>
      val k = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      // the partitioner re-encodes as UTF-8; a latin-1 char ≥ 0x80
      // encodes to a 2-byte sequence whose LEAD byte 0xC2/0xC3 is what
      // Go would see for the same UTF-8 file content
      val first = k.getBytes("UTF-8")(0) & 0xff
      val want = (if (first >= 'A' && first <= 'Z') first + 32 else first) % r
      FirstBytePartitioner.of(k, r) == want
    }

  private val kvsGen: Gen[List[(String, String)]] =
    Gen.listOf(Gen.zip(
      Gen.oneOf("a", "b", "c", "dd", "e1", ""),
      Gen.oneOf("1", "2", "10", "junk", "-3")))

  property("sumByKey over sorted input == groupBy parse-sum") =
    forAll(kvsGen) { kvs =>
      val sorted = kvs.sorted
      val got = WordCountJob.sumByKey(sorted.iterator).toMap
      val want = sorted.groupBy(_._1).map { case (k, vs) =>
        k -> vs.flatMap(v => v._2.trim.toLongOption).sum
      }
      got == want
    }

  property("sumByKey emits keys in sorted order exactly once") =
    forAll(kvsGen) { kvs =>
      val keys = WordCountJob.sumByKey(kvs.sorted.iterator).map(_._1).toList
      keys == keys.sorted && keys.distinct == keys
    }

  property("log normalize never throws and respects the arity filter") =
    forAll(Gen.listOf(Gen.oneOf("a", "http://x.y/z", "https://1.2.3.4:80/p?q",
      "tok", "..", "#?", "http://", "a/b/c"))) { tokens =>
      val arr = tokens.toArray
      LogAnalyzerJob.normalize(arr) match {
        case None          => arr.length < 4
        case Some((c, _, _)) => arr.length >= 4 && c == arr(2)
      }
    }

  property("wc fMap emits one pair per whitespace token") =
    forAll(Gen.listOf(Gen.oneOf("Word", "x-1", "---", "A+B", "42"))) { ws =>
      val line = ws.mkString(" ")
      WordCountJob.fMap("f", 0, line).size == ws.size
    }

  // The regex definition fMap had before its char loop, kept here only
  // as the reference the char loop must reproduce.
  private val stripRef = "[^a-zA-Z0-9]+".r
  private def wcFMapRef(line: String): List[(String, String)] =
    line.toLowerCase(java.util.Locale.ROOT).split("\\s+").iterator
      .filter(_.nonEmpty).map(t => (stripRef.replaceAllIn(t, ""), "1")).toList

  // regex \s separators, chars Java treats as whitespace but \s does
  // not (NBSP, U+001C, U+0085, U+2028), and chars whose lower case is
  // ASCII or changes the length (İ → "i̇", Kelvin sign → k)
  private val wcLineGen: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf(" ", "\t", "\n", "\u000b", "\f", "\r"),
    2 -> Gen.oneOf("\u00a0", "\u001c", "\u0085", "\u2028"),
    2 -> Gen.oneOf("\u0130", "\u212a", "ß", "É", "😀", "\ud83d"),
    2 -> Gen.oneOf("--", "-", "'", ".", "x-1", "A+B"))).map(_.mkString)

  property("wc fMap char loop == split + per-token regex strip") =
    forAll(wcLineGen) { line =>
      WordCountJob.fMap("f", 0, line).toList == wcFMapRef(line)
    }

  // log_analyzer tokenizes map lines and reduce keys on the same \s set
  private val logLineGen: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.oneOf("a", "GoogleBot", "http://www.x.y/p?q", "1.2.3.4:80"),
    3 -> Gen.nonEmptyListOf(
      Gen.oneOf(" ", "\t", "\n", "\u000b", "\f", "\r")).map(_.mkString),
    2 -> Gen.oneOf("\u00a0", "\u001c", "\u0085", "\u2028"))).map(_.mkString)

  property("log splitWs == split on regex \\s+, empty tokens dropped") =
    forAll(logLineGen) { line =>
      LogAnalyzerJob.splitWs(line).toList ==
        line.split("\\s+").filter(_.nonEmpty).toList
    }

  // BPE over ARBITRARY unicode words and arbitrary learned merge
  // tables (round 13) — the fixture spec pins specific corpora; these
  // laws must hold for any input, including surrogate-pair emoji and
  // words absent from the training vocab.
  private val bpeWordGen: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.alphaLowerChar.map(_.toString),
    2 -> Gen.oneOf("é", "ß", "λ", "ж", "中", "語"),
    1 -> Gen.oneOf("😀", "🚀", "🌍"))).map(_.mkString)

  property("BPE encode is a lossless segmentation for any word/merges") =
    forAll(Gen.listOf(bpeWordGen), Gen.choose(0, 12)) { (ws, n) =>
      val ranks = BpeTokenizer
        .learn(ws.filter(_.nonEmpty).map((_, 1L)), n).zipWithIndex.toMap
      ws.forall { w =>
        val toks = BpeTokenizer.encode(w, ranks)
        toks.mkString == w && toks.forall(_.nonEmpty)
      }
    }

  property("BPE token counts are non-increasing in the merge count") =
    forAll(Gen.nonEmptyListOf(bpeWordGen), Gen.choose(0, 10)) { (ws, n) =>
      val vocab = ws.filter(_.nonEmpty).map((_, 1L))
      val rSmall = BpeTokenizer.learn(vocab, n).zipWithIndex.toMap
      val rBig = BpeTokenizer.learn(vocab, n + 4).zipWithIndex.toMap
      val small = ws.map(w => BpeTokenizer.encode(w, rSmall).length).sum
      val big = ws.map(w => BpeTokenizer.encode(w, rBig).length).sum
      big <= small
    }
}
