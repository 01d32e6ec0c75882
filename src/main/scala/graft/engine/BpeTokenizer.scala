package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer — the APPLICATION half of the BPE story
  * (the fitting primitive, one corpus-scale merge step, is the declared
  * `text_bpe_merge`): learn a ranked merge list from a word-frequency
  * vocabulary and greedily encode words with it (Sennrich et al. 2016).
  * Both halves are inherently imperative — learning iterates
  * best-pair→re-segment, encoding applies merges by rank until none
  * fires — i.e. exactly the loop-per-word work SQL cannot express, so
  * this lives as an engine path (the CdcChunker seam) with two proof
  * surfaces: BpeTokenizerSpec's invariants (lossless segmentation,
  * monotone compression, determinism) and the frozen-fixture oracle row
  * `text_bpe_encode_fixture` (the PolyCut discipline — the VALUES rows
  * are the cross-engine contract DuckDB cannot compute).
  *
  * Production shape at 100 TB: [[learn]] runs on a BOUNDED vocabulary
  * sample (a tokenizer is fit on a size-capped sample by design — the
  * corpus-scale path collects only the top-K (word, freq) rows, K fixed
  * and small), and [[encode]] then applies the broadcast rank table
  * inside a distributed map over the corpus — no shuffle, no state.
  *
  * Symbols are full Unicode code points (a surrogate pair is ONE
  * symbol), so 4-byte emoji merge as units and segmentation is always
  * lossless: `encode(w, r).mkString == w` for every w.
  */
object BpeTokenizer {

  /** A word as its code-point symbols. */
  private[engine] def codePoints(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val n = Character.charCount(cp)
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** Merge every non-overlapping (left-to-right) occurrence of `pair`. */
  private def applyMerge(syms: Vector[String],
      pair: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == pair._1 &&
          syms(i + 1) == pair._2) {
        out += syms(i) + syms(i + 1)
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.result()
  }

  /** Learn up to `n` merges from a (word, freq) vocabulary: each round
    * counts adjacent symbol pairs weighted by word frequency and merges
    * the most frequent (ties to the lexicographically smallest pair —
    * deterministic across runs and JVMs). Stops early when no pair
    * remains. */
  def learn(vocab: Iterable[(String, Long)], n: Int)
      : Vector[(String, String)] = {
    var segs = vocab.iterator
      .map { case (w, f) => (codePoints(w), f) }
      .filter(_._1.length >= 2)
      .toVector
    val merges = Vector.newBuilder[(String, String)]
    var round = 0
    var done = false
    while (round < n && !done) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      for ((syms, f) <- segs; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + f
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        segs = segs.map { case (syms, f) => (applyMerge(syms, best), f) }
          .filter(_._1.length >= 2)
      }
      round += 1
    }
    merges.result()
  }

  /** Greedy BPE encode: start from code points and repeatedly apply the
    * present pair with the LOWEST rank (all its occurrences,
    * left-to-right) until no adjacent pair has a rank — the standard
    * application rule, and the reason token counts are monotonically
    * non-increasing in the number of merges (later merges never change
    * how earlier ones fire). */
  def encode(word: String,
      ranks: Map[(String, String), Int]): Vector[String] = {
    var syms = codePoints(word)
    var continue = syms.length >= 2
    while (continue) {
      var best: (String, String) = null
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; best = (syms(i), syms(i + 1)) }
        i += 1
      }
      if (best == null) continue = false
      else syms = applyMerge(syms, best)
      if (syms.length < 2) continue = false
    }
    syms
  }

  /** The corpus-scale lifecycle in one call — fit on a bounded sample,
    * apply distributed: learn `nMerges` from the top-`sampleTopK` words
    * by corpus frequency (ties to the word — the ONLY collect, bounded
    * by construction at `sampleTopK` rows: a tokenizer is fit on a
    * size-capped sample by design, never the full 100 TB vocabulary),
    * then encode every document with the learned ranks inside one
    * distributed map and report per-source token accounting:
    * (source, n_words, n_cps, n_tokens, compression). */
  def corpusTokenCounts(spark: SparkSession, dir: String,
      nMerges: Int = 32, sampleTopK: Int = 512): DataFrame = {
    val ranks = learn(fitVocab(spark, dir, sampleTopK), nMerges)
      .zipWithIndex.toMap
    tokenCountsBySource(spark, dir, ranks)
  }

  /** The bounded fit sample: top-`sampleTopK` (word, freq) rows by
    * corpus frequency, ties to the word — the ONLY collect in the BPE
    * lifecycle, size-capped by construction (a tokenizer is fit on a
    * bounded sample by design, never the full 100 TB vocabulary). */
  def fitVocab(spark: SparkSession, dir: String,
      sampleTopK: Int): Array[(String, Long)] = {
    import spark.implicits._
    graft.Tables.t(spark, dir, "documents")
      .select(explode(expr(
        "filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"word".asc)
      .limit(sampleTopK)
      .as[(String, Long)].collect()
  }

  /** The ONE per-document accounting fold (n_words, n_cps, n_tokens)
    * shared by every encode consumer — the lifecycle here, the
    * doc_pack_bpe packer (PipelineOps.bpePackCounts), and the per-doc
    * accounting of TextAnalysis.bpeAccount — so the counting discipline
    * (tokenization split, code-point rule, greedy encode) is stated
    * once. */
  def countsFor(toks: Seq[String],
      ranks: Map[(String, String), Int]): (Long, Long, Long) = {
    var words = 0L; var cps = 0L; var tokens = 0L
    toks.foreach { w =>
      words += 1
      cps += w.codePointCount(0, w.length)
      tokens += encode(w, ranks).length
    }
    (words, cps, tokens)
  }

  /** The distributed APPLY half: encode every document with the given
    * (broadcast-closure) rank table inside one mapPartitions — no
    * shuffle beyond the per-source agg — and report (source, n_words,
    * n_cps, n_tokens, compression). */
  def tokenCountsBySource(spark: SparkSession, dir: String,
      ranks: Map[(String, String), Int]): DataFrame = {
    import spark.implicits._
    graft.Tables.t(spark, dir, "documents")
      .select($"source", $"doc_id",
        expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")
          .as("toks"))
      .as[(String, Long, Seq[String])]
      .mapPartitions { it =>
        it.map { case (src, _, toks) =>
          val (words, cps, tokens) = countsFor(toks, ranks)
          (src, words, cps, tokens)
        }
      }
      .toDF("source", "n_words", "n_cps", "n_tokens")
      .groupBy($"source")
      .agg(sum($"n_words").as("n_words"), sum($"n_cps").as("n_cps"),
        sum($"n_tokens").as("n_tokens"))
      .select($"source", $"n_words", $"n_cps", $"n_tokens",
        round($"n_cps".cast("double") / $"n_tokens", 4).as("compression"))
  }
}
