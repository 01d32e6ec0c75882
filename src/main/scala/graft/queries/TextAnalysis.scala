package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.engine.Artifact

/** Text-analysis operators for a training-data pipeline (SURVEY.md §2.5):
  * language-ID (stopword-profile heuristic), quality scoring, token
  * counting (whitespace + BPE-ish regex), and document fingerprinting.
  * All scalar work is built-in codegen'd expressions; per-doc aggregation
  * is a standard 2-phase hash agg keyed on doc_id.
  */
object TextAnalysis {

  private[queries] val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit")
  private val stopEs = Seq("el", "la", "de", "y", "que", "en", "un", "es")
  private val stopFr = Seq("le", "les", "des", "et", "un", "une", "est", "pour")

  private[queries] def inList(c: org.apache.spark.sql.Column, ws: Seq[String]) =
    c.isin(ws: _*)

  private[queries] def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** Merge count of the frozen BPE fixture pin (see
    * `text_bpe_encode_fixture`). */
  private[graft] val BpeFixtureMerges = 24

  /** Ranked merges learned from the fixture corpus vocabulary — a pure
    * driver-side derivation over the frozen corpus (BpeTokenizer.learn
    * is deterministic: ties break to the lexicographically smallest
    * pair). Shared by the declared query and the oracle generator. */
  private[graft] lazy val bpeFixtureRanks: Map[(String, String), Int] = {
    val vocab = graft.engine.PolyCutFixture.corpus
      .flatMap { case (_, tx) =>
        tx.toLowerCase.split("\\s+").filter(_.nonEmpty) }
      .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
    graft.engine.BpeTokenizer.learn(vocab, BpeFixtureMerges)
      .zipWithIndex.toMap
  }

  /** Per-doc BPE token accounting under `ranks`: (doc_id, n_words,
    * n_cps, n_tokens). The tokenization is the house rule (lowercase,
    * split on whitespace, drop empties); code points are counted so
    * 4-byte emoji are one unit, matching the encoder's symbol walk. */
  private[graft] def bpeAccount(id: Long, tx: String,
      ranks: Map[(String, String), Int]): (Long, Long, Long, Long) = {
    val toks = tx.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val (words, cps, tokens) =
      graft.engine.BpeTokenizer.countsFor(toks.toSeq, ranks)
    (id, words, cps, tokens)
  }

  /** Live fixture rows — the oracle GENERATOR's source (the committed
    * oracle carries the frozen copy; see GenBpeFixtureSql). */
  private[graft] def bpeFixtureRows: Seq[(Long, Long, Long, Long)] =
    graft.engine.PolyCutFixture.corpus
      .map { case (id, tx) => bpeAccount(id, tx, bpeFixtureRanks) }

  /** Exact (source, token, y) cell counts — ONE corpus tokenize per
    * (session, dir), checkpointed and shared by the source-forensics
    * lattice pair (text_log_odds, text_burrows_delta): un-shared,
    * each query ran its own tokenize AND pinned a fresh per-call
    * localCheckpoint every invocation (review finding, round 11 —
    * exactly the accretion an Artifact's bound prevents). The frame is
    * |sources|×|vocab| rows; every marginal derives from it. */
  private val sourceTokenCounts = Artifact("text_source_counts")(
    (s, d) => t(s, d, "documents")
      .select(col("source"),
        explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("y")))

  /** WRITE-ONCE stored-tokenizer fixture per dataset dir (r15): the
    * persisted BpeStore artifact the token-currency consumers read
    * (doc_pack_bpe, text_bpe_fertility_drift). Datasets are immutable
    * per dir (the Tables.t contract) and the fit is deterministic, so
    * the artifact is too; a missing/old-layout dir rebuilds. The
    * save→load lifecycle itself stays priced and oracle-gated by
    * text_bpe_store_roundtrip, which deliberately saves every rep. */
  private[queries] def bpeFixture(s: SparkSession, d: String): String = {
    val dir = Similarity.idxScratch("bpefx", d)
    val ok =
      try graft.engine.BpeStore.manifest(s, dir)
        .version == graft.engine.BpeStore.Version
      catch { case scala.util.control.NonFatal(_) => false }
    if (!ok) graft.engine.BpeStore.save(s, d, dir)
    dir
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gries' deviation-of-proportions (DP) dispersion for the top-15
    // corpus words — the corpus-linguistics number frequency alone
    // hides: a word can be frequent yet live in ONE source (DP → 1,
    // boilerplate/contamination suspect) or spread evenly (DP → 0,
    // genuine core vocabulary). DP = ½·Σ_s |v_s − w_s| over the
    // source partition, v_s = the word's share of its own occurrences
    // in s, w_s = the source's share of all tokens. Exact-rational
    // core: v_s − w_s = (f_ws·T − t_s·F_w)/(F_w·T), so DP is ONE
    // integer floor (Σ|f_ws·T − t_s·F_w|)·10⁶ div (2·F_w·T) —
    // DECIMAL(38,0)-widened products, no float until the final /1e6.
    // Scale shape: two corpus aggs (per-source totals, per-word
    // totals), a TakeOrdered(15) selection, then everything runs on
    // the constant 15-word × |sources| lattice (allowlisted).
    "text_word_dispersion" -> ((s, d) => {
      import s.implicits._
      val dw = TextWordCount.docWords(s, d)
        .join(t(s, d, "documents").select($"doc_id", $"source"),
          "doc_id")
      val srcTok = dw.groupBy($"source").agg(count(lit(1)).as("t_s"))
      val tot = srcTok.agg(sum($"t_s").as("t"))
      val top = dw.groupBy($"word").agg(count(lit(1)).as("f_w"))
        .orderBy($"f_w".desc, $"word").limit(15)
      val fws = dw.join(broadcast(top.select($"word")), "word")
        .groupBy($"word", $"source").agg(count(lit(1)).as("f_ws"))
      top.crossJoin(srcTok)
        .join(fws, Seq("word", "source"), "left_outer")
        .crossJoin(broadcast(tot))
        .select($"word", $"f_w", $"t",
          expr("abs(cast(coalesce(f_ws, 0) as decimal(38,0)) * t" +
            " - cast(t_s as decimal(38,0)) * f_w)").as("num"))
        .groupBy($"word")
        .agg(max($"f_w").as("n_occurrences"), sum($"num").as("dpn"),
          max($"t").as("t"))
        .select($"word", $"n_occurrences",
          round(expr("cast(cast(dpn as decimal(38,0)) * 1000000" +
            " div (cast(2 as decimal(38,0)) * n_occurrences * t)" +
            " as bigint)").cast("double") / 1e6, 4).as("dp"))
        .orderBy($"word")
    }),

    // MTLD lexical diversity (McCarthy & Jarvis 2010, forward pass) —
    // the length-ROBUST diversity number TTR can't give (TTR decays
    // mechanically with doc length; text_ttr shows it): scan tokens,
    // close a factor whenever the running factor TTR falls to ≤ 0.72
    // (tested as the exact integer cross-product d·25 ≤ t·18), and
    // credit the trailing remainder the standard partial factor
    // (1 − TTR)/(1 − 0.72) — an exact e6 rational
    // (t−d)·10⁸ div (28·t). MTLD = tokens/factors is one float divide
    // of exact integers. The fold is INHERENTLY sequential per doc but
    // docs are independent, so it runs as a typed map over (doc_id,
    // toks) rows — embarrassingly parallel, O(factor vocab) state per
    // row, nothing driver-side. The oracle replays the recursion
    // token-by-token in a recursive CTE carrying the factor's seen
    // LIST (the sim_kcenter_init state-column discipline).
    "text_mtld" -> ((s, d) => {
      import s.implicits._
      val folded = t(s, d, "documents")
        .select($"doc_id", expr(
          "filter(split(lower(text), '\\\\s+'), x -> x != '')")
          .as("toks"))
        .filter(size($"toks") >= 1)
        .as[(Long, Seq[String])]
        .map { case (id, toks) =>
          var tRun = 0L
          var full = 0L
          val seen = scala.collection.mutable.HashSet.empty[String]
          toks.foreach { tok =>
            tRun += 1
            seen += tok
            if (seen.size * 25L <= tRun * 18L) {
              full += 1; tRun = 0; seen.clear()
            }
          }
          (id, toks.length.toLong, full, tRun, seen.size.toLong)
        }
        .toDF("doc_id", "n_tokens", "full_f", "rem_t", "rem_d")
      folded
        .selectExpr("doc_id", "n_tokens",
          "full_f * 1000000 + case when rem_t > 0 then"
            + " (rem_t - rem_d) * 100000000 div (28 * rem_t)"
            + " else 0 end as factors_e6")
        .selectExpr("doc_id", "n_tokens",
          "round(cast(factors_e6 as double) / 1e6, 4) as factors",
          "case when factors_e6 > 0 then"
            + " round(cast(n_tokens as double) * 1000000 / factors_e6,"
            + " 4) end as mtld")
        .orderBy($"doc_id")
    }),

    // BM25 retrieval scoring (Robertson–Spärck Jones; the Lucene
    // default) — what text_tfidf's raw weights feed in a real search
    // stack: score every doc against a fixed 5-term query (the
    // mid-frequency words ranked 10–14, picked deterministically) and
    // publish the top-20. ENTIRELY integer-exact: with k1 = 6/5 and
    // b = 3/4 the tf normalizer becomes the integer ratio
    // 22·tf·L / (10·tf·L + 3·L + 9·len·N) after clearing denominators
    // (L = corpus tokens, N = docs), idf = ln((2N+2)/(2df+1)) is an
    // e10 quantization of a ratio of exact integers, and each term
    // score is one widened integer floor — the final float is a
    // single /1e10. Scale shape: one corpus word agg for the query
    // pick, one (doc, term) agg over the 5-term slice (an equi-join
    // against a broadcast term list — never a corpus scan per term),
    // TakeOrdered(20) for the cut.
    "doc_bm25_topk" -> ((s, d) => {
      import s.implicits._
      val dw = TextWordCount.docWords(s, d)
      val lens = dw.groupBy($"doc_id").agg(count(lit(1)).as("len"))
      val stats = lens.agg(count(lit(1)).as("n_docs"),
        sum($"len").as("l_tot"))
      val qterms = dw.groupBy($"word").agg(count(lit(1)).as("f_w"))
        .orderBy($"f_w".desc, $"word").limit(14)
        .orderBy($"f_w".asc, $"word".desc).limit(5)
        .select($"word")
      val dfq = dw.join(broadcast(qterms), "word")
        .groupBy($"word").agg(countDistinct($"doc_id").as("df"))
      val tf = dw.join(broadcast(qterms), "word")
        .groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
      tf.join(lens, "doc_id")
        .join(broadcast(dfq), "word")
        .crossJoin(broadcast(stats))
        .select($"doc_id",
          expr("cast(round(ln(cast(2 * n_docs + 2 as double)" +
            " / (2 * df + 1)) * 1e10) as bigint)").as("idf_e10"),
          $"tf", $"len", $"l_tot", $"n_docs")
        .select($"doc_id",
          expr("cast(cast(idf_e10 as decimal(38,0))" +
            " * (22 * cast(tf as decimal(38,0)) * l_tot)" +
            " div (10 * cast(tf as decimal(38,0)) * l_tot" +
            " + 3 * cast(l_tot as decimal(38,0))" +
            " + 9 * cast(len as decimal(38,0)) * n_docs) as bigint)")
            .as("t_e10"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_terms_hit"),
          sum($"t_e10").as("score_e10"))
        .orderBy($"score_e10".desc, $"doc_id")
        .limit(20)
        .select($"doc_id", $"n_terms_hit",
          round($"score_e10".cast("double") / 1e10, 4).as("bm25"))
        .orderBy($"bm25".desc, $"doc_id")
    }),

    // Posting-list compression analysis (delta + LEB128 varint, the
    // Lucene/ES posting format) — the index-storage answer
    // mr_inverted_index's raw postings beg for: per top-20-df word,
    // the sorted doc_id posting list is delta-encoded (first entry
    // stored as doc_id+1 so id 0 still costs a byte) and each gap
    // priced at its exact varint width ceil(bits/7) via an integer
    // CASE ladder — no float, no approximation; ratio = 8·df /
    // varint_bytes is the published compression multiple vs raw
    // int64 postings. Scale shape: one distinct (word, doc) agg, a
    // TakeOrdered(20) term cut, word-partitioned LAG windows over
    // only the cut terms' postings.
    "text_posting_compression" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val post = TextWordCount.docWords(s, d).distinct()
      val top = post.groupBy($"word").agg(count(lit(1)).as("df"))
        .orderBy($"df".desc, $"word").limit(20)
      val ladder = (1 to 8).map(k =>
        s"when gap < ${1L << (7 * k)} then $k").mkString(" ")
      val gaps = post.join(broadcast(top.select($"word")), "word")
        .withColumn("prev", lag($"doc_id", 1).over(
          Window.partitionBy($"word").orderBy($"doc_id")))
        .select($"word",
          coalesce($"doc_id" - $"prev", $"doc_id" + 1).as("gap"))
        .select($"word",
          expr(s"case $ladder else 9 end").cast("long").as("vb"))
      gaps.groupBy($"word")
        .agg(count(lit(1)).as("df"), sum($"vb").as("varint_bytes"))
        .select($"word", $"df", ($"df" * 8).as("raw_bytes"),
          $"varint_bytes",
          round(($"df" * 8).cast("double") / $"varint_bytes", 4)
            .as("ratio"))
        .orderBy($"word")
    }),

    // One BPE-training merge step — the tokenizer-fitting primitive
    // (Sennrich et al. 2016): count every adjacent character pair
    // weighted by word frequency and rank the top-20 merge candidates.
    // The scale trick is the classic one: pair counting runs over the
    // WORD-FREQUENCY TABLE, not the corpus — the corpus collapses to a
    // vocab-bounded (word, cnt) agg first, so the char-pair explode
    // touches |vocab| rows however big the corpus is. Plan: corpus
    // token agg → in-row pair explode over the vocab → pair agg →
    // TakeOrderedAndProject(20). Ties break on the pair string so both
    // engines cut the top-20 identically.
    "text_bpe_merge" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select(explode(expr(
          "filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("word"))
        .groupBy($"word").agg(count(lit(1)).as("cnt"))
        .filter(length($"word") >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(word) - 1)," +
            " i -> substring(word, i, 2))")).as("pair"), $"cnt")
        .groupBy($"pair").agg(sum($"cnt").as("freq"))
        .orderBy($"freq".desc, $"pair".asc)
        .limit(20)
    }),

    // The APPLICATION half of the BPE story (text_bpe_merge is the
    // fitting primitive): greedy rank-ordered merge application is a
    // per-word loop SQL cannot express, so it runs as an engine path
    // ([[graft.engine.BpeTokenizer]], the CdcChunker seam) and its
    // oracle is a FROZEN FIXTURE (the PolyCut discipline): the engine
    // learns BpeFixtureMerges merges from the deterministic
    // multilingual fixture corpus (every UTF-8 width — surrogate-pair
    // emoji are single symbols), encodes the same corpus inside a
    // distributed map, and the oracle SQL carries the expected
    // per-doc token accounting as literal VALUES generated once by
    // GenBpeFixtureSql and never regenerated after a tokenizer change.
    // The sfDir argument is deliberately unused: a cross-engine pin
    // needs an input identical on both sides and across scale factors.
    // The corpus-scale lifecycle (fit on a bounded top-K vocabulary
    // sample, apply distributed) is BpeTokenizer.corpusTokenCounts,
    // benched as text_bpe_corpus_raw.
    "text_bpe_encode_fixture" -> ((s, _) => {
      import s.implicits._
      val ranks = bpeFixtureRanks
      s.createDataset(graft.engine.PolyCutFixture.corpus)
        .mapPartitions { it =>
          it.map { case (id, tx) => bpeAccount(id, tx, ranks) }
        }
        .toDF("doc_id", "n_words", "n_cps", "n_tokens")
        .select($"doc_id", $"n_words", $"n_cps", $"n_tokens",
          round($"n_cps".cast("double") / $"n_tokens", 4)
            .as("compression"))
        .orderBy($"doc_id")
    }),

    // Tokenizer-artifact lifecycle row (r13 verdict ask #4) — the
    // save→load→encode contract over the persisted BPE artifact
    // ([[graft.engine.BpeStore]], the tokenizer.json step): fit and
    // persist the tokenizer, encode the corpus THROUGH the stored
    // merge table, re-encode with the fresh in-session fit, and emit
    // per-source accounting with the two contracts a deployment cares
    // about stated as columns the oracle pins: stored_equals_fresh
    // (the stored-artifact encode is bit-equal to the fresh fit —
    // TRUE in the oracle, computed by comparison here) and fit_stale
    // (refreshed against the SAME corpus the tokenizer was fit on —
    // FALSE by construction; the drift path is spec-tested with a
    // divergent corpus). n_words/n_cps are tokenizer-independent, so
    // DuckDB computes them directly — a green row proves the engine's
    // word/codepoint accounting AND both lifecycle contracts at once.
    // Deliberately timed disk lifecycle per rep (the
    // sim_index_append_serve discipline); stable scratch dir.
    // Tokenizer-fertility drift monitor (r14 verdict ask #4, the
    // drift half): the stored artifact's fit-time sample fertility
    // (tokens per word, e4-quantized — BpeStore manifest v2 records
    // it at save) against the CURRENT corpus's fit sample encoded
    // with the STORED ranks. A tokenizer fit on last year's text
    // inflates fertility as vocabulary drifts, silently shrinking
    // every token-budgeted pack — this is the alarm that fires before
    // doc_pack_bpe's budgets go quietly wrong. On the same corpus the
    // two sample folds are equal by construction (both bounded,
    // integer-exact), so the oracle pins the no-drift contract;
    // the divergent-corpus path is spec-tested (the fit_stale
    // pattern). n_vocab is tokenizer-independent (top-K distinct
    // words), so DuckDB computes it directly.
    "text_bpe_fertility_drift" -> ((s, d) => {
      import s.implicits._
      if (t(s, d, "documents").head(1).isEmpty)
        Seq.empty[(Long, Boolean, Boolean, Boolean)]
          .toDF("n_vocab", "fertility_sane", "drift_flagged",
            "fit_recorded")
      else {
        val dir = bpeFixture(s, d)
        val m = graft.engine.BpeStore.manifest(s, dir)
        val (fitE4, curE4) = graft.engine.BpeStore.fertilityDrift(s, dir, d)
        // drift rule: |current - fit| * 10 > fit (a 10% band), integer
        // cross-multiplication — no float threshold
        Seq((m.n_vocab.toLong,
            fitE4 >= 10000L, // >= 1 token per word always
            math.abs(curE4 - fitE4) * 10L > fitE4,
            m.fit_fertility_e4 == fitE4 && fitE4 > 0L))
          .toDF("n_vocab", "fertility_sane", "drift_flagged",
            "fit_recorded")
      }
    }),

    "text_bpe_store_roundtrip" -> ((s, d) => {
      import s.implicits._
      // empty corpus: nothing to fit — schema-preserving empty result
      // (InventorySpec empty-input contract)
      if (t(s, d, "documents").head(1).isEmpty)
        Seq.empty[(String, Long, Long, Boolean, Boolean, Boolean)]
          .toDF("source", "n_words", "n_cps", "stored_equals_fresh",
            "merges_bounded", "fit_stale")
      else {
        val dir = Similarity.idxScratch("bpe", d)
        // ONE corpus fit per rep (r17): the top-512 fit sample is a
        // deterministic pure function of the immutable corpus, and the
        // r16 form recomputed it THREE times per rep (inside save, the
        // fresh-encode side, and the staleness refresh) — three full
        // corpus tokenize+agg scans for one value. Sharing it keeps
        // every roundtrip contract live: the merge table still
        // round-trips through parquet (the stored side encodes with
        // ranks LOADED from disk), the fresh side still encodes with
        // the in-memory learn, and the refresh still compares the
        // PERSISTED vocab against the current sample.
        val vocab = graft.engine.BpeTokenizer.fitVocab(s, d, 512)
        val m = graft.engine.BpeStore.save(s, d, dir,
          fitSample = Some(vocab))
        val stored = graft.engine.BpeStore.encodeStoredCounts(s, dir, d)
        val ranks = graft.engine.BpeTokenizer.learn(vocab, 32)
          .zipWithIndex.toMap
        val fresh = graft.engine.BpeTokenizer
          .tokenCountsBySource(s, d, ranks)
          .select($"source", $"n_tokens".as("fresh_tokens"))
        val (m2, _, _) = graft.engine.BpeStore.refreshStaleFlag(s, dir, d,
          currentFit = Some(vocab))
        // merges_bounded, not a hard n_merges = 32 pin (ADVICE r14):
        // learn() stops early when pair candidates are exhausted, so a
        // low-diversity corpus legitimately yields fewer merges — the
        // contract is "within the requested budget and consistent
        // across the save/refresh manifests", tokenizer-independent
        stored.join(fresh, "source")
          .select($"source", $"n_words", $"n_cps",
            ($"n_tokens" === $"fresh_tokens").as("stored_equals_fresh"),
            lit(m.n_merges > 0 && m.n_merges <= 32 &&
              m.n_merges == m2.n_merges).as("merges_bounded"),
            lit(m2.fit_stale).as("fit_stale"))
          .orderBy($"source")
      }
    }),

    // Zipf-law fit over the corpus frequency spectrum — the standard
    // corpus-health diagnostic (natural text fits slope ≈ −1 on
    // log rank vs log frequency; synthetic/templated corpora deviate
    // hard). Least squares over the top-100 ranks: the frequency table
    // is one hash agg, the top-100 cut plans as TakeOrderedAndProject,
    // and the only window runs over those 100 rows. Float discipline:
    // ln(rank)/ln(count) are functions of INTEGERS (identical doubles
    // in both engines), quantized to e6 BIGINTs; all regression sums
    // are exact integer arithmetic and the slope/intercept are each
    // one float expression over those integer sums, rounded at 4 dp.
    "text_zipf_fit" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val top = t(s, d, "documents")
        .select(explode(expr(
          "filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"tok".asc).limit(100)
      val ranked = top
        .withColumn("rnk",
          row_number().over(Window.orderBy($"cnt".desc, $"tok".asc)))
        .select(
          expr("cast(round(ln(cast(rnk as double)) * 1e6) as bigint)")
            .as("lx"),
          expr("cast(round(ln(cast(cnt as double)) * 1e6) as bigint)")
            .as("ly"))
      ranked
        .agg(count(lit(1)).as("n_ranks"),
          sum($"lx").as("sx"), sum($"ly").as("sy"),
          sum($"lx" * $"ly").as("sxy"), sum($"lx" * $"lx").as("sxx"))
        .select($"n_ranks", $"sx", $"sy",
          round(($"n_ranks" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n_ranks" * $"sxx" - $"sx" * $"sx").cast("double"), 4)
            .as("zipf_slope"))
        .select($"n_ranks", $"zipf_slope",
          round(($"sy".cast("double") / 1e6 -
            $"zipf_slope" * ($"sx".cast("double") / 1e6)) / $"n_ranks", 4)
            .as("intercept"))
    }),

    // Heaps'-law fit — Zipf's companion corpus-health diagnostic:
    // vocabulary growth V(N) ≈ K·N^β (natural text: β ≈ 0.4–0.6;
    // β near 1 flags near-random token soup, β near 0 a templated /
    // exhausted corpus — both reasons to stop collecting a source).
    // Checkpoints are per-doc cumulative (tokens N_d, vocab V_d) in
    // doc_id order: V_d needs only each word's FIRST document (one
    // min-agg over the token explode), never global positions. Least
    // squares over (ln N_d, ln V_d): logs of exact INTEGERS (identical
    // doubles both engines) quantized to e6 BIGINTs, all regression
    // sums widened to DECIMAL(38,0) AT the inner sum (lx·ly ~ 3e14 per
    // doc — a 50k-doc corpus overflows int64), slope/intercept each
    // one float expression over exact integers, rounded at 4 dp. The
    // cumulative window is a single global prefix sum over ONE ROW PER
    // DOC — the doc_novelty_curve discipline (range-partitioned
    // two-pass prefix sum at cluster scale, never corpus-row-level).
    "text_heaps_fit" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, d, "documents")
        .select($"doc_id", explode(expr(
          "filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("tok"))
      val perDoc = toks.groupBy($"doc_id").agg(count(lit(1)).as("ntok"))
      val newTypes = toks.groupBy($"tok").agg(min($"doc_id").as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("nnew"))
      val w = Window.orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val curve = perDoc.join(newTypes, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"ntok",
          coalesce($"nnew", lit(0L)).as("nnew"))
        .select($"doc_id",
          sum($"ntok").over(w).as("cn"), sum($"nnew").over(w).as("cv"))
      val q = curve.select($"cn", $"cv",
        expr("cast(round(ln(cast(cn as double)) * 1e6) as bigint)")
          .as("lx"),
        expr("cast(round(ln(cast(cv as double)) * 1e6) as bigint)")
          .as("ly"))
      q.agg(count(lit(1)).as("n_docs"),
          max($"cn").as("total_tokens"), max($"cv").as("total_types"),
          sum(expr("cast(lx as decimal(38,0))")).as("sx"),
          sum(expr("cast(ly as decimal(38,0))")).as("sy"),
          sum(expr("cast(lx as decimal(38,0)) * ly")).as("sxy"),
          sum(expr("cast(lx as decimal(38,0)) * lx")).as("sxx"))
        .select($"n_docs", $"total_tokens", $"total_types",
          $"sx", $"sy",
          round(($"n_docs" * $"sxy" - $"sx" * $"sy").cast("double")
            / ($"n_docs" * $"sxx" - $"sx" * $"sx").cast("double"), 4)
            .as("heaps_beta"))
        .select($"n_docs", $"total_tokens", $"total_types",
          $"heaps_beta",
          round(($"sy".cast("double") / 1e6
            - $"heaps_beta" * ($"sx".cast("double") / 1e6))
            / $"n_docs", 4).as("heaps_lnk"))
    }),

    // Quality scoring: token count, type-token ratio, stopword ratio,
    // mean token length — ratios as rounded doubles (identical operands
    // on both engines ⇒ identical division results).
    "text_quality" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("tok"))
        .filter($"tok" =!= "")
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          countDistinct($"tok").as("n_types"),
          sum(length($"tok")).as("n_chars_tok"),
          sum(when(inList($"tok", stopEn), 1L).otherwise(0L)).as("n_stop"))
        .select($"doc_id", $"n_tokens", $"n_types",
          round($"n_types".cast("double") / $"n_tokens", 4).as("ttr"),
          round($"n_stop".cast("double") / $"n_tokens", 4).as("stop_ratio"),
          round($"n_chars_tok".cast("double") / $"n_tokens", 4).as("avg_tok_len"))
        .orderBy($"doc_id")
    }),

    // Language-ID: argmax of per-language stopword hits, ties broken
    // alphabetically (de < en < es < fr < zh).
    "text_langid" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("tok"))
        .filter($"tok" =!= "")
        .groupBy($"doc_id")
        .agg(
          sum(when(inList($"tok", stopEn), 1L).otherwise(0L)).as("s_en"),
          sum(when(inList($"tok", stopDe), 1L).otherwise(0L)).as("s_de"),
          sum(when(inList($"tok", stopEs), 1L).otherwise(0L)).as("s_es"),
          sum(when(inList($"tok", stopFr), 1L).otherwise(0L)).as("s_fr"))
        .select($"doc_id",
          when($"s_de" >= $"s_en" && $"s_de" >= $"s_es" && $"s_de" >= $"s_fr", "de")
            .when($"s_en" >= $"s_es" && $"s_en" >= $"s_fr", "en")
            .when($"s_es" >= $"s_fr", "es")
            .otherwise("fr").as("pred_lang"),
          $"s_en", $"s_de", $"s_es", $"s_fr")
        .orderBy($"doc_id")
    }),

    // Language-ID confusion matrix — the classifier eval the `lang`
    // ground-truth column exists for: cross-tabulate the stopword
    // predictor's output against the labeled language and report
    // per-(true, predicted) counts with the cell's share of its true
    // class. Composes the declared text_langid query with one id join
    // and a ≤|langs|² agg. The 'zh' rows expose the predictor's known
    // blind spot (no zh stopword list — everything falls to the
    // argmax default), which is exactly what a confusion matrix is
    // for.
    "text_langid_eval" -> ((s, d) => {
      import s.implicits._
      val pred = queries("text_langid")(s, d)
        .select($"doc_id", $"pred_lang")
      val truth = t(s, d, "documents").select($"doc_id", $"lang")
      val cells = truth.join(pred, Seq("doc_id"), "left_outer")
        .select($"lang", coalesce($"pred_lang", lit("none")).as("pred_lang"))
        .groupBy($"lang", $"pred_lang").agg(count(lit(1)).as("n"))
      val totals = cells.groupBy($"lang").agg(sum($"n").as("n_true"))
      cells.join(broadcast(totals), "lang")
        .select($"lang", $"pred_lang", $"n",
          round($"n".cast("double") / $"n_true", 4).as("share"))
        .orderBy($"lang", $"pred_lang")
    }),

    // Threshold-free ranking quality (ROC AUC) of the langid margin
    // score against the labeled language — the classifier-eval number
    // the confusion matrix (text_langid_eval) can't give: the matrix
    // grades ONE operating point, AUC grades the whole score ordering,
    // which is what you need before picking a filter threshold for a
    // quality/langid classifier in a curation pipeline. Score = the
    // en-vs-rest decision margin (s_en − max(other stopword hits))
    // per token, label = (lang = 'en'). AUC is computed EXACTLY by the
    // ties-aware rank statistic: group docs by the e6-quantized score,
    // one cumulative window over the ≤2e6+1 distinct score values
    // gives n_neg-below-each-score, and 2U = Σ n_pos·(2·cum_neg + n_neg)
    // is an exact DECIMAL(38,0) sum (pair counts pass int64 near 10¹⁰
    // docs). The only float is the final 2U / (2·n_pos·n_neg) divide.
    // Scale shape: one doc-keyed agg folds the corpus to per-doc
    // scores, one score-keyed agg folds THAT to ≤|score| rows, and the
    // global window runs over that bounded frame — nothing pairwise.
    "text_langid_auc" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val sc = t(s, d, "documents")
        .select($"doc_id", $"lang",
          explode(split(lower($"text"), "\\s+")).as("tok"))
        .filter($"tok" =!= "")
        .groupBy($"doc_id")
        .agg(max($"lang").as("lang"), count(lit(1)).as("n"),
          sum(when(inList($"tok", stopEn), 1L).otherwise(0L)).as("s_en"),
          sum(when(inList($"tok", stopDe), 1L).otherwise(0L)).as("s_de"),
          sum(when(inList($"tok", stopEs), 1L).otherwise(0L)).as("s_es"),
          sum(when(inList($"tok", stopFr), 1L).otherwise(0L)).as("s_fr"))
      val g = sc
        .select(($"lang" === "en").cast("long").as("pos"),
          expr("(s_en - greatest(s_de, s_es, s_fr)) * 1000000 div n")
            .as("s_e6"))
        .groupBy($"s_e6")
        .agg(sum($"pos").as("np"), sum(lit(1L) - $"pos").as("nn"))
      val w = Window.orderBy($"s_e6")
        .rowsBetween(Window.unboundedPreceding, -1)
      g.select($"np", $"nn",
        coalesce(sum($"nn").over(w), lit(0L)).as("cnb"))
        .agg(sum($"np").as("n_pos"), sum($"nn").as("n_neg"),
          sum(expr("cast(np as decimal(38,0)) * (2 * cnb + nn)"))
            .as("u2"))
        .select($"n_pos", $"n_neg",
          round($"u2".cast("double")
            / ($"n_pos".cast("double") * $"n_neg" * 2.0), 4).as("auc"))
    }),

    // Calibration audit (reliability table + expected calibration
    // error) of the langid 'en' confidence — "when the classifier says
    // 80%, is it right 80% of the time?": the readout that decides
    // whether a score threshold can be trusted as a KEEP-probability
    // in curation, or must be re-mapped first (Guo et al. 2017's ECE).
    // Confidence = s_en / Σ stopword hits (e6 exact-rational floor, 0
    // when no stopwords hit), binned into 10 fixed-width bins. Every
    // bin stat is an exact integer: conf_b·n_b·1e6 = Σ c_e6 and
    // acc_b·n_b·1e6 = n_pos·1e6, so the bin gap numerator
    // |n_pos·1e6 − Σc_e6| and the corpus ECE numerator (their sum) are
    // exact DECIMAL(38,0); each published float divides those by the
    // bin/corpus size once. Shape: doc-keyed agg → ≤10-row bin agg →
    // global window over the 10 bins. Empty bins simply don't appear
    // (standard non-empty-bin ECE).
    "text_langid_calibration" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val sc = t(s, d, "documents")
        .select($"doc_id", $"lang",
          explode(split(lower($"text"), "\\s+")).as("tok"))
        .filter($"tok" =!= "")
        .groupBy($"doc_id")
        .agg(max($"lang").as("lang"),
          sum(when(inList($"tok", stopEn), 1L).otherwise(0L)).as("s_en"),
          sum(when(inList($"tok", stopDe), 1L).otherwise(0L)).as("s_de"),
          sum(when(inList($"tok", stopEs), 1L).otherwise(0L)).as("s_es"),
          sum(when(inList($"tok", stopFr), 1L).otherwise(0L)).as("s_fr"))
      val b = sc
        .select(($"lang" === "en").cast("long").as("pos"),
          when($"s_en" + $"s_de" + $"s_es" + $"s_fr" === 0L, 0L)
            .otherwise(expr(
              "s_en * 1000000 div (s_en + s_de + s_es + s_fr)"))
            .as("c_e6"))
        .groupBy(least(expr("c_e6 div 100000"), lit(9L)).as("bin"))
        .agg(count(lit(1)).as("n"), sum($"pos").as("n_pos"),
          sum(expr("cast(c_e6 as decimal(38,0))")).as("sconf"))
      val wAll = Window
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      b.select($"bin", $"n", $"n_pos",
        round($"sconf".cast("double") / ($"n" * 1e6), 4).as("conf"),
        round($"n_pos".cast("double") / $"n", 4).as("acc"),
        round(abs($"n_pos" * expr("cast(1000000 as decimal(38,0))")
          - $"sconf").cast("double") / ($"n" * 1e6), 4).as("gap"),
        round(sum(abs($"n_pos" * expr("cast(1000000 as decimal(38,0))")
          - $"sconf")).over(wAll).cast("double")
          / (sum($"n").over(wAll) * 1e6), 4).as("ece"))
        .orderBy($"bin")
    }),

    // Tokenizer-fertility profile — the per-language tokenizer-efficiency
    // table every multilingual pretraining run publishes (fertility =
    // subword pieces per whitespace word; languages a tokenizer handles
    // poorly burn budget on fragmented tokens — the XLM-R/BLOOM
    // vocabulary-sizing argument). One corpus scan: both token counts
    // are in-row codegen'd expressions, the rollup is a lang-keyed agg
    // over 4 keys. Float discipline: all sums are exact BIGINTs and
    // each reported ratio is ONE float divide + round(4).
    "text_fertility" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"lang",
          size(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
            .cast("long").as("w"),
          size(regexp_extract_all(lower($"text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
            .cast("long").as("p"),
          $"n_chars")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"w").as("n_words"), sum($"p").as("n_pieces"),
          round(sum($"p").cast("double") / sum($"w"), 4).as("fertility"),
          round(sum($"n_chars").cast("double") / sum($"p"), 4)
            .as("chars_per_piece"))
        .orderBy($"lang")
    }),

    // Token counting two ways: whitespace words vs BPE-ish regex pieces
    // (letter runs / digit runs / single other non-space chars).
    "text_token_counts" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id",
          size(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
            .cast("long").as("n_ws_tokens"),
          size(regexp_extract_all(lower($"text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
            .cast("long").as("n_bpe_pieces"),
          $"n_chars")
        .orderBy($"doc_id")
    }),

    // Vocabulary coverage / OOV rate: the tokenizer-health signal a
    // training pipeline watches when it fixes a vocab — per doc, the
    // fraction of tokens inside the corpus top-1000 vocabulary
    // (count DESC, token ASC — a total order, so the 1000-cut is
    // deterministic on both engines). Shapes at 100 TB: the vocab is
    // one word-count agg + a bounded TakeOrdered(1000) that
    // BROADCASTS; the per-doc pass is then a map-side hash-join +
    // one doc-keyed agg — the token stream never shuffles twice.
    "text_vocab_coverage" -> ((s, d) => {
      import s.implicits._
      val tk = t(s, d, "documents")
        .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("tok"))
        .filter($"tok" =!= "")
      val vocab = tk.groupBy($"tok").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"tok".asc).limit(1000)
        .select($"tok", lit(1L).as("in_vocab"))
      tk.join(broadcast(vocab), Seq("tok"), "left_outer")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce($"in_vocab", lit(0L))).as("n_in_vocab"))
        .select($"doc_id", $"n_tokens", $"n_in_vocab",
          round($"n_in_vocab".cast("double") / $"n_tokens", 4).as("coverage"))
        .orderBy($"doc_id")
    }),

    // TF-IDF: term frequency × ln((N+1)/(df+1)) — the canonical
    // feature-weighting op. tf/df are plain 2-phase hash aggs; the tiny
    // df table and the N scalar are broadcast.
    "text_tfidf" -> ((s, d) => {
      import s.implicits._
      val tk = t(s, d, "documents")
        .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("term"))
        .filter($"term" =!= "")
      val tf = tk.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      // df re-derives from tf (r16 optimization): tf is already one row
      // per (doc, term), so counting its rows per term IS the distinct
      // doc frequency — the old countDistinct over the raw token stream
      // re-ran the tokenize and a second distinct expansion
      val dft = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val n = t(s, d, "documents").agg(count(lit(1)).as("n"))
      tf.join(broadcast(dft), "term")
        .crossJoin(broadcast(n))
        .select($"doc_id", $"term", $"tf",
          round($"tf" * log(($"n" + 1).cast("double") / ($"df" + 1)), 6)
            .as("tfidf"))
        .orderBy($"doc_id", $"term")
    }),

    // Keyword extraction: top-3 terms per document by TF-IDF (tie: term
    // ASC), ranked on the ROUNDED score so the cut line is identical in
    // both engines. The rank is a doc_id-partitioned window over the
    // per-doc term lists — no global sort; at 100 TB this is the
    // per-document keyword tagging map that follows the corpus-wide
    // document-frequency broadcast.
    "text_keywords" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val tk = t(s, d, "documents")
        .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("term"))
        .filter($"term" =!= "")
      val tf = tk.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      // df re-derives from tf (r16 optimization): tf is already one row
      // per (doc, term), so counting its rows per term IS the distinct
      // doc frequency — the old countDistinct over the raw token stream
      // re-ran the tokenize and a second distinct expansion
      val dft = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val n = t(s, d, "documents").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"tfidf".desc, $"term".asc)
      tf.join(broadcast(dft), "term")
        .crossJoin(broadcast(n))
        .select($"doc_id", $"term",
          round($"tf" * log(($"n" + 1).cast("double") / ($"df" + 1)), 6)
            .as("tfidf"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 3)
        .orderBy($"doc_id", $"rank")
    }),

    // Content-defined fingerprint: md5 over the sorted distinct token set
    // (order-insensitive canonical form — robust to shuffling).
    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash every
    // 3-token shingle, then keep the MINIMUM hash of each sliding
    // window of 4 consecutive shingles — the guarantee that any
    // sufficiently long match between two docs shares a fingerprint,
    // with ~2/(w+1) selection density instead of every shingle. One
    // doc-partitioned window pass (position-ordered ROWS frame), no
    // cross-doc work; fingerprint sets fold to a count + sum-distinct
    // checksum so the oracle pins the selected set exactly. At 100 TB
    // this is the fingerprint-extraction map before any pairwise
    // stage; per-doc state is one w-row frame.
    "text_winnow" -> ((s, d) => {
      import s.implicits._
      winnowShared(s, d)
        .groupBy($"doc_id")
        .agg(countDistinct($"fp").as("n_fp"),
          sum_distinct($"fp").as("fp_checksum"))
        .orderBy($"doc_id")
    }),

    "text_fingerprint" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id",
          md5(array_join(array_sort(array_distinct(
            expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))), " ")
            .cast("binary")).as("fp"))
        .orderBy($"doc_id")
    }),

    // RAKE keyphrase extraction (Rose et al. 2010, "Automatic Keyword
    // Extraction from Individual Documents"): candidate phrases are
    // maximal stopword-free token runs, a word scores
    // degree/frequency (degree = Σ lengths of the phrases it appears
    // in — co-occurrence reach), a phrase scores the sum of its
    // words' scores, top-20 by score. The corpus-level twin of
    // text_keywords' tf-idf. Float discipline: each word score is a
    // POSITIVE exact rational quantized e6 by half-up integer
    // division, so phrase scores are exact integer sums and the
    // published float is one integer/1e6 divide. Phrase segmentation
    // is a per-doc stopword-cumsum window (doc-bounded partitions);
    // everything after is keyed aggs over phrase/word hashes.
    "text_rake_keyphrases" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val stop = sqlList(stopEn)
      val toks = t(s, d, "documents")
        .select($"doc_id", posexplode(expr(
          "filter(split(lower(text), '\\\\s+'), x -> x != '')")))
        .select($"doc_id", $"pos", $"col".as("tok"))
        .withColumn("is_stop", expr(s"tok in ($stop)"))
      val wd = Window.partitionBy($"doc_id").orderBy($"pos")
      val occ = toks
        .withColumn("isl",
          sum(when($"is_stop", 1L).otherwise(0L)).over(wd))
        .filter(!$"is_stop")
        .groupBy($"doc_id", $"isl")
        .agg(expr("array_join(transform(array_sort(" +
          "collect_list(struct(pos, tok))), x -> x.tok), ' ')")
          .as("phrase"),
          count(lit(1)).as("len"))
      val wordScores = occ
        .select(explode(split($"phrase", " ")).as("tok"), $"len")
        .groupBy($"tok")
        .agg(count(lit(1)).as("freq"), sum($"len").as("degree"))
        .select($"tok", expr(
          "cast((2 * degree * 1000000 + freq) div (2 * freq)" +
            " as bigint)").as("s_e6"))
      occ.select($"phrase").distinct()
        .select($"phrase", explode(split($"phrase", " ")).as("tok"))
        .join(wordScores, "tok")
        .groupBy($"phrase")
        .agg(count(lit(1)).as("n_words"), sum($"s_e6").as("score_e6"))
        .orderBy($"score_e6".desc, $"phrase".asc)
        .limit(20)
        .select($"phrase", $"n_words",
          ($"score_e6".cast("double") / 1e6).as("score"))
        .orderBy($"score".desc, $"phrase".asc)
    }),

    // Gopher-style quality rule battery (Rae et al. 2021, appendix A1
    // — the public rule set most corpus pipelines start from): word
    // count in [50, 100k], mean word length in [3, 10], ≥ 80% of
    // words containing an alphabetic character, ≥ 2 stopwords. Each
    // rule is an EXACT INTEGER comparison (mean-word-length as
    // 3n ≤ Σlen ≤ 10n — no float ever enters a verdict), computed by
    // in-row array folds over the token list: zero shuffles before
    // the per-doc projection, the ideal map-only shape for a first
    // 100 TB filter pass. The reported ratios are display-only
    // divides of the same exact integers.
    "text_gopher_rules" -> ((s, d) => {
      import s.implicits._
      val stop = stopEn.map(w => s"'$w'").mkString(", ")
      t(s, d, "documents")
        .select($"doc_id", expr(
          "filter(split(lower(text), '\\\\s+'), x -> x != '')").as("toks"))
        .select($"doc_id",
          size($"toks").cast("long").as("n_words"),
          expr("aggregate(toks, 0L, (a, t) -> a + length(t))")
            .as("sum_len"),
          expr("cast(size(filter(toks, t -> t rlike '[a-z]')) as bigint)")
            .as("n_alpha"),
          expr(s"cast(size(filter(toks, t -> t in ($stop))) as bigint)")
            .as("n_stopwords"))
        .select($"doc_id", $"n_words",
          round($"sum_len".cast("double") / $"n_words", 4)
            .as("mean_word_len"),
          round($"n_alpha".cast("double") / $"n_words", 4)
            .as("alpha_share"),
          $"n_stopwords",
          ($"n_words" >= 50L && $"n_words" <= 100000L).cast("bigint")
            .as("r_count"),
          ($"sum_len" >= $"n_words" * 3 && $"sum_len" <= $"n_words" * 10)
            .cast("bigint").as("r_wordlen"),
          ($"n_alpha" * 5 >= $"n_words" * 4).cast("bigint").as("r_alpha"),
          ($"n_stopwords" >= 2L).cast("bigint").as("r_stop"))
        .withColumn("gopher_pass",
          ($"r_count" === 1L && $"r_wordlen" === 1L &&
            $"r_alpha" === 1L && $"r_stop" === 1L).cast("bigint"))
        .orderBy($"doc_id")
    }),

    // Lexical diversity — type-token ratio + hapax-legomena share, the
    // cheap vocabulary-richness screens (a low TTR flags template/spam
    // text that entropy alone can miss when the few types are evenly
    // mixed; a high hapax share flags OCR noise/gibberish). Exact
    // integer counts from ONE (doc, token)-keyed agg grouped on the
    // token STRING — matching the oracle's grouping exactly, so no
    // hash-collision divergence channel exists (per-doc vocab is small
    // and map-side combine folds it before the shuffle) — then a
    // per-doc rollup; the two reported floats each divide identical
    // exact integers. Same two-phase shape at any corpus size.
    "text_ttr" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", explode(expr(
          "filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("tok"))
        .groupBy($"doc_id", $"tok")
        .agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_toks"), count(lit(1)).as("n_types"),
          sum(when($"c" === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .select($"doc_id", $"n_toks", $"n_types", $"n_hapax",
          round($"n_types".cast("double") / $"n_toks", 4).as("ttr"),
          round($"n_hapax".cast("double") / $"n_types", 4)
            .as("hapax_share"))
        .orderBy($"doc_id")
    }),

    // Unigram Shannon entropy per document — the standard
    // gibberish/degenerate-text screen (low entropy = repetitive spam,
    // near-max = random noise). Computed from exact token counts as
    // log2(n) - sum(c*log2(c))/n, so the only floating work is the final
    // fold (rounded to 4 dp; identical count operands on both engines).
    // Two chained 2-phase hash aggs, both keyed on doc_id first — the
    // second groupBy reuses the first's hash partitioning (no extra
    // exchange); nothing is per-corpus state, so the op scales linearly.
    "text_entropy" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("tok"))
        .filter($"tok" =!= "")
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n"),
          sum($"c".cast("double") * log(2.0, $"c")).as("clg"))
        .select($"doc_id", $"n".as("n_tokens"),
          round(log(2.0, $"n") - $"clg" / $"n", 4).as("entropy"))
        .orderBy($"doc_id")
    }),

    // First-failing-rule quality gate — the production filter-chain
    // shape (C4/RefinedWeb-style): every doc gets a VERDICT naming the
    // first rule that rejected it (too_short → low_entropy →
    // low_stopword) or 'kept', so corpus-level rejection accounting is a
    // one-line groupBy on the output. All metrics come from the same
    // two chained doc-keyed aggs as text_entropy (no extra pass);
    // thresholds compare the ROUNDED metrics so both engines branch on
    // identical values.
    "doc_filter_reasons" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("tok"))
        .filter($"tok" =!= "")
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n"),
          sum(when(inList($"tok", stopEn), $"c").otherwise(0L)).as("n_stop"),
          sum($"c".cast("double") * log(2.0, $"c")).as("clg"))
        .select($"doc_id", $"n".as("n_tokens"),
          round(log(2.0, $"n") - $"clg" / $"n", 4).as("entropy"),
          round($"n_stop".cast("double") / $"n", 4).as("stop_ratio"))
        .select($"doc_id", $"n_tokens", $"entropy", $"stop_ratio",
          when($"n_tokens" < 10, "too_short")
            .when($"entropy" < 3.0, "low_entropy")
            .when($"stop_ratio" < 0.05, "low_stopword")
            .otherwise("kept").as("verdict"))
        .orderBy($"doc_id")
    }),

    // Per-source vocabulary drift — KL(source ‖ corpus) over unigram
    // distributions: which feeds speak a different language than the
    // blend (the mixture-shift alarm a data pipeline fires when one
    // crawl starts pulling boilerplate or a new domain). Identity
    // KL_s = (1/n_s)·Σ_w c·ln(c/cw) + ln(N/n_s) makes every per-word
    // term free of the per-source and corpus totals, so the plan is
    // LINEAR: one tokenize scan → (source, word) counts → corpus word
    // totals as a word-partitioned window on the SAME frame (no
    // second scan, no join) → source rollup; N returns as a global
    // window over the source-alphabet frame. Terms are e6-quantized
    // BIGINTs before the cross-engine sum; smoothing is unnecessary
    // because every source word is a corpus word (cw ≥ c ≥ 1).
    "text_kl_source_drift" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      t(s, d, "documents")
        .select($"source", explode(split(lower($"text"), "\\s+")).as("tok"))
        .filter($"tok" =!= "")
        .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
        .withColumn("cw", sum($"c").over(Window.partitionBy($"tok")))
        .groupBy($"source")
        .agg(sum($"c").as("n_tokens"), count(lit(1)).as("vocab"),
          sum(round(($"c" * log($"c".cast("double") / $"cw")) * 1e6)
            .cast("long")).as("a_e6"))
        // N as a global window over the source-alphabet frame (~tens
        // of rows). A broadcast-scalar crossJoin was measured worse:
        // column pruning rewrites the scalar branch, so no exchange is
        // reused and the documents scan runs twice (Profile at sf0.1:
        // 5 jobs and 2 scans against 3 jobs and 1 scan here)
        .withColumn("nn", sum($"n_tokens").over(Window.partitionBy()))
        .select($"source", $"n_tokens", $"vocab",
          round(($"a_e6".cast("double") / 1e6) / $"n_tokens"
            + log($"nn".cast("double") / $"n_tokens"), 4).as("kl"))
        .orderBy($"source")
    }),

    // Log-odds with informative Dirichlet prior (Monroe, Colaresi &
    // Quinn 2008, "Fightin' Words") — the corpus-comparison standard
    // for "which tokens mark THIS source against the rest": raw
    // frequency ratios explode on rare words, PMI ignores sampling
    // noise; the z-scored log-odds with the corpus as prior does
    // neither. For each (source, token) cell of the full
    // source×vocab lattice (zero cells INCLUDED — depletion is as
    // diagnostic as enrichment): y1 = in-source count, y2 = rest
    // count, prior α_w = corpus count, α0 = corpus total;
    // δ = ln((y1+α_w)/(n1+α0−y1−α_w)) − ln((y2+α_w)/(n2+α0−y2−α_w)),
    // z = δ/sqrt(1/(y1+α_w) + 1/(y2+α_w)). Everything to the ln is
    // exact BIGINT (the prior makes every operand strictly positive);
    // the float tail is two ln, one sqrt, one divide — identical
    // expression shape in both engines, rounded once. Scale shape:
    // ONE token-keyed agg folds the corpus; the lattice is
    // |sources|×|vocab| (a capped top-vocab at 100 TB), built from
    // two broadcast-size frames and never touching text again.
    "text_log_odds" -> ((s, d) => {
      import s.implicits._
      // the shared memoized (source, token) cell frame — every
      // marginal (per-source, per-token, grand total) derives from it
      // (plan audit, round 11: the lattice join otherwise re-ran the
      // tokenize subtree 8×; the frame is shared with burrows_delta)
      val sw = sourceTokenCounts(s, d).withColumnRenamed("y", "y1")
      val ns = sw.groupBy($"source").agg(sum($"y1").as("n_s"))
      val w = sw.groupBy($"token").agg(sum($"y1").as("y_w"))
      val tot = sw.agg(sum($"y1").as("n_tot"))
      ns.crossJoin(broadcast(w))
        .crossJoin(broadcast(tot))
        .join(sw, Seq("source", "token"), "left_outer")
        .select($"source", $"token",
          coalesce($"y1", lit(0L)).as("y1"),
          $"y_w", $"n_s", $"n_tot")
        .select($"source", $"token", $"y1".as("y"), $"y_w",
          expr("""round(
            |  (ln(cast(y1 + y_w as double)
            |      / cast(n_s + n_tot - y1 - y_w as double))
            |   - ln(cast(y_w * 2 - y1 as double)
            |      / cast(n_tot * 2 - n_s - y_w * 2 + y1 as double)))
            |  / sqrt(cast(1 as double) / cast(y1 + y_w as double)
            |       + cast(1 as double) / cast(y_w * 2 - y1 as double)),
            |  4)""".stripMargin).as("z_logodds"))
        .orderBy($"source", $"token")
    }),

    // Simpson diversity index per document (Simpson 1949; the
    // Herfindahl concentration of the doc's vocabulary) — the
    // EVENNESS companion to the richness measures (text_ttr counts
    // types, text_mtld measures their churn; Simpson asks how
    // CONCENTRATED the token mass is): D = Σ n_w(n_w−1) / (N(N−1)),
    // the exact probability two tokens drawn without replacement are
    // the same word — 0 for all-distinct text, → 1 for one word
    // repeated (keyword-stuffing/boilerplate suspects that length
    // filters and TTR both miss on long docs, since D is
    // length-unbiased where TTR is not). Pure integer rationals; the
    // published index is the single float divide. Scale: one
    // (doc, word)-keyed agg with map-side combine, then a doc-keyed
    // fold — one corpus scan, no joins.
    "text_simpson_index" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("tok"))
        .filter($"tok" =!= "")
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(
          sum($"c").as("n_tokens"), count(lit(1)).as("vocab"),
          sum($"c" * ($"c" - 1L)).as("dnum"))
        .filter($"n_tokens" >= 2L)
        .select($"doc_id", $"n_tokens", $"vocab",
          round($"dnum".cast("double")
            / ($"n_tokens" * ($"n_tokens" - 1L)).cast("double"), 4)
            .as("simpson"))
        .orderBy($"doc_id")
    }),

    // Burrows' Delta (Burrows 2002, the stylometric attribution
    // standard) — pairwise stylistic distance between sources over
    // the 15 most frequent corpus words: per source, each word's
    // relative frequency is z-scored against the word's cross-source
    // distribution, and Delta(a,b) is the mean |z_a − z_b|. In a
    // training-data pipeline this is source forensics: two "different"
    // crawls with near-zero Delta are the same upstream text farm
    // (syndication), a shard whose Delta to every sibling spikes has
    // a processing bug. Exactness: f_e9 = y·10⁹ div n_s (both sides
    // truncate — operands non-negative), per-word variance is the
    // DECIMAL(38,0)/HUGEINT integer V = S·Σf² − (Σf)², z_e6 is ONE
    // rounded float divide per lattice cell, and Delta sums |Δz_e6|
    // as plain BIGINTs — order-free. Scale shape: one token-keyed
    // agg + a TakeOrdered(15) vocab cut; everything after lives on
    // the constant 15×|sources| lattice (allowlisted BNLJ).
    "text_burrows_delta" -> ((s, d) => {
      import s.implicits._
      // the shared memoized (source, token) cell frame (one tokenize
      // with text_log_odds); the z self-join otherwise doubled a
      // 12-scan lineage to 24 parquet scans (plan audit, round 11)
      val sw = sourceTokenCounts(s, d).withColumnRenamed("token", "tok")
      val ns = sw.groupBy($"source").agg(sum($"y").as("n_s"))
      val top = sw.groupBy($"tok").agg(sum($"y").as("cw"))
        .orderBy($"cw".desc, $"tok".asc).limit(15).select($"tok")
      val f = ns.crossJoin(broadcast(top))
        .join(sw, Seq("source", "tok"), "left_outer")
        .select($"source", $"tok",
          expr("coalesce(y, 0) * 1000000000 div n_s").as("f_e9"))
      val st = f.groupBy($"tok").agg(
        count(lit(1)).as("ss"), sum($"f_e9").as("sum_e9"),
        sum(expr("cast(f_e9 as decimal(38,0)) * f_e9")).as("v2"))
      val z = f.join(broadcast(st), "tok")
        .select($"source", $"tok", expr(
          """case when cast(ss as decimal(38,0)) * v2
            |     = cast(sum_e9 as decimal(38,0)) * sum_e9 then 0L
            |else cast(round(
            |  cast(f_e9 * ss - sum_e9 as double) * 1e6
            |  / sqrt(cast(cast(ss as decimal(38,0)) * v2
            |         - cast(sum_e9 as decimal(38,0)) * sum_e9
            |         as double))) as bigint) end""".stripMargin)
          .as("z_e6"))
      z.as("a").join(z.as("b"),
          $"a.tok" === $"b.tok" && $"a.source" < $"b.source")
        .select($"a.source".as("source_a"), $"b.source".as("source_b"),
          ($"a.z_e6" - $"b.z_e6").as("dz"))
        .groupBy($"source_a", $"source_b")
        .agg(count(lit(1)).as("n_words"), sum(abs($"dz")).as("sumabs"))
        .select($"source_a", $"source_b", $"n_words",
          round($"sumabs".cast("double") / ($"n_words" * 1e6), 4)
            .as("delta"))
        .orderBy($"source_a", $"source_b")
    }),

    // Top PMI collocations — which word pairs co-occur far beyond
    // chance (the phrase-mining primitive behind tokenizer merge
    // candidates and stop-phrase lists): PMI = ln(c_xy·N/(c_x·c_y))
    // over adjacent bigrams with support ≥5. The e10-quantized PMI is
    // the ORDERING key (integer compares, word tie-breaks), so both
    // engines cut the identical top-20. Scale shape: one tokenize
    // pass each for the unigram and bigram count tables, two
    // word-keyed joins to attach c_x/c_y, a broadcast 1-row bigram
    // total, and a TakeOrdered(20) — no full sort.
    "text_pmi_top" -> ((s, d) => {
      import s.implicits._
      val toks = t(s, d, "documents")
        .select($"doc_id", expr(
          "filter(split(lower(text), '\\\\s+'), x -> x != '')")
          .as("toks"))
      val uni = toks.select(explode($"toks").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("cw"))
      val bi = toks.filter(size($"toks") >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(toks) - 1)," +
            " i -> array_join(slice(toks, i, 2), ' '))")).as("bigram"))
        .groupBy($"bigram").agg(count(lit(1)).as("cxy"))
        .filter($"cxy" >= 5L)
      val tot = toks.select(
          (size($"toks") - 1).cast("long").as("nb"))
        .filter($"nb" >= 1L).agg(sum($"nb").as("nn"))
      bi.crossJoin(broadcast(tot))
        .select($"bigram", $"cxy", $"nn",
          expr("split(bigram, ' ')[0]").as("w1"),
          expr("split(bigram, ' ')[1]").as("w2"))
        .join(uni.toDF("w1", "cx"), "w1")
        .join(uni.toDF("w2", "cy"), "w2")
        .select($"w1", $"w2", $"cxy", $"cx", $"cy",
          expr("""cast(round(ln(((cast(cxy as double) * nn) / cx) / cy)
            |  * 1e10) as bigint)""".stripMargin).as("pmi_e10"))
        .orderBy($"pmi_e10".desc, $"w1".asc, $"w2".asc).limit(20)
        .select($"w1", $"w2", $"cxy", $"cx", $"cy",
          round($"pmi_e10".cast("double") / 1e10, 4).as("pmi"))
    }))

  /** DuckDB twin of winnowFingerprints: `fps(doc_id, fp)` = the distinct
    * selected window minima per doc. Shared by the text_winnow aggregate
    * and the dedup_winnow_pairs candidate join. */
  private[queries] val winnowCteSql: String = {
    val shSql = "array_to_string(toks[i : i + 2], ' ')"
    val h32 = (1 to 8).map { k =>
      val w = math.pow(16, 8 - k).toLong
      s"(strpos('0123456789abcdef', substring(md5($shSql), $k, 1)) - 1)" +
        s" * $w"
    }.mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |                x -> x <> '') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, i - 1 AS p, len(toks) - 2 AS nsh, $h32 AS h
       |  FROM d, unnest(generate_series(1, len(toks) - 2)) AS u(i)
       |  WHERE len(toks) >= 6),
       |m AS (
       |  SELECT doc_id, p, nsh,
       |    MIN(h) OVER (PARTITION BY doc_id ORDER BY p
       |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm
       |  FROM sh),
       |fps AS (
       |  SELECT DISTINCT doc_id, wm AS fp FROM m WHERE p <= nsh - 4)""".stripMargin
  }

  /** Materialized winnow-fingerprint table, computed once per (session,
    * dir) and shared by text_winnow and dedup_winnow_pairs — the
    * doc-partitioned window pass (a per-doc sort) is the expensive
    * extraction stage both run over the identical input. Same
    * build-once index discipline as Dedup's shingle tables; the raw
    * plan stays under InventorySpec audit via winnowFingerprints. */
  private[queries] val winnowShared = Artifact("text_winnow")(
    (s, d) => winnowFingerprints(t(s, d, "documents")))

  /** Winnowing fingerprint extraction (one (doc_id, fp) row per selected
    * window minimum; docs with fewer than 4 shingles are dropped) —
    * public so the guarantee property (shared >= w+k-1 token run ⇒
    * shared fingerprint) is testable on the raw sets the declared
    * aggregate folds away. */
  def winnowFingerprints(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val sh = graft.engine.Layout.fanOut(docs.sparkSession, docs)
      .select($"doc_id",
        expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").as("toks"))
      .filter(size($"toks") >= 6) // >= 4 shingles = one full window
      .select($"doc_id", posexplode(expr(
        "transform(sequence(1, size(toks) - 2)," +
          " i -> array_join(slice(toks, i, 3), ' '))")))
      .toDF("doc_id", "p", "sgl")
      .select($"doc_id", $"p", expr(
        "cast(conv(substring(md5(cast(sgl as binary)), 1, 8), 16, 10)" +
          " as bigint)").as("h"))
    val wmin = Window.partitionBy($"doc_id").orderBy($"p")
      .rowsBetween(Window.currentRow, 3)
    sh.withColumn("nsh", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .withColumn("wm", min($"h").over(wmin))
      .filter($"p" <= $"nsh" - 4) // full windows only (p is 0-based)
      .select($"doc_id", $"wm".as("fp"))
      .distinct()
  }

  private val tokCte =
    """tk AS (
      |  SELECT doc_id, tok
      |  FROM (SELECT doc_id,
      |          unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
      |        FROM documents) WHERE tok <> '')""".stripMargin

  /** Shared langid CTE ending in `lp(doc_id, pred_lang, s_*)` — used by
    * the text_langid oracle and the text_langid_eval confusion matrix. */
  private val langidCte =
    s"""WITH $tokCte,
       |sc AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN tok IN (${sqlList(stopEn)}) THEN 1 ELSE 0 END) AS BIGINT) AS s_en,
       |    CAST(SUM(CASE WHEN tok IN (${sqlList(stopDe)}) THEN 1 ELSE 0 END) AS BIGINT) AS s_de,
       |    CAST(SUM(CASE WHEN tok IN (${sqlList(stopEs)}) THEN 1 ELSE 0 END) AS BIGINT) AS s_es,
       |    CAST(SUM(CASE WHEN tok IN (${sqlList(stopFr)}) THEN 1 ELSE 0 END) AS BIGINT) AS s_fr
       |  FROM tk GROUP BY doc_id),
       |lp AS (
       |  SELECT doc_id,
       |    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |         WHEN s_es >= s_fr THEN 'es'
       |         ELSE 'fr' END AS pred_lang,
       |    s_en, s_de, s_es, s_fr
       |  FROM sc)""".stripMargin

  val oracle: Map[String, String] = Map(
    "text_posting_compression" -> {
      val ladder = (1 to 8).map(k =>
        s"WHEN gap < ${1L << (7 * k)} THEN $k").mkString(" ")
      s"""WITH dw0 AS (${TextWordCount.docWordsSql}),
        |post AS (SELECT DISTINCT doc_id, word FROM dw0),
        |top AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
        |        FROM post GROUP BY word
        |        ORDER BY df DESC, word LIMIT 20),
        |g AS (
        |  SELECT p.word,
        |    COALESCE(p.doc_id - LAG(p.doc_id) OVER (
        |      PARTITION BY p.word ORDER BY p.doc_id),
        |      p.doc_id + 1) AS gap
        |  FROM post p JOIN (SELECT word FROM top) tp USING (word)),
        |vb AS (SELECT word,
        |         CAST(CASE $ladder ELSE 9 END AS BIGINT) AS vb
        |       FROM g),
        |agg AS (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(vb) AS BIGINT) AS varint_bytes
        |  FROM vb GROUP BY word)
        |SELECT word, df, df * 8 AS raw_bytes, varint_bytes,
        |  ROUND(CAST(df * 8 AS DOUBLE) / varint_bytes, 4) AS ratio
        |FROM agg ORDER BY word""".stripMargin
    },

    "doc_bm25_topk" ->
      s"""WITH dw AS (${TextWordCount.docWordsSql}),
        |lens AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len
        |         FROM dw GROUP BY doc_id),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(len) AS BIGINT) AS l_tot FROM lens),
        |top14 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS f_w
        |          FROM dw GROUP BY word
        |          ORDER BY f_w DESC, word LIMIT 14),
        |qt AS (SELECT word FROM top14
        |       ORDER BY f_w ASC, word DESC LIMIT 5),
        |dfq AS (SELECT dw.word, CAST(COUNT(DISTINCT dw.doc_id)
        |          AS BIGINT) AS df
        |        FROM dw JOIN qt USING (word) GROUP BY dw.word),
        |tf AS (SELECT dw.doc_id, dw.word, CAST(COUNT(*) AS BIGINT)
        |         AS tf
        |       FROM dw JOIN qt USING (word) GROUP BY 1, 2),
        |terms AS (
        |  SELECT tf.doc_id,
        |    CAST((CAST(ROUND(ln(CAST(2 * st.n_docs + 2 AS DOUBLE)
        |        / (2 * dfq.df + 1)) * 1e10) AS HUGEINT)
        |      * (22 * CAST(tf.tf AS HUGEINT) * st.l_tot))
        |      // (10 * CAST(tf.tf AS HUGEINT) * st.l_tot
        |        + 3 * CAST(st.l_tot AS HUGEINT)
        |        + 9 * CAST(lens.len AS HUGEINT) * st.n_docs)
        |      AS BIGINT) AS t_e10
        |  FROM tf JOIN lens USING (doc_id)
        |  JOIN dfq ON dfq.word = tf.word, st),
        |sc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
        |    CAST(SUM(t_e10) AS BIGINT) AS score_e10
        |  FROM terms GROUP BY doc_id),
        |cut AS (SELECT * FROM sc
        |        ORDER BY score_e10 DESC, doc_id LIMIT 20)
        |SELECT doc_id, n_terms_hit,
        |  ROUND(CAST(score_e10 AS DOUBLE) / 1e10, 4) AS bm25
        |FROM cut ORDER BY bm25 DESC, doc_id""".stripMargin,

    "text_mtld" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, toks FROM (
        |    SELECT doc_id, list_filter(regexp_split_to_array(
        |      lower(text), '\s+'), x -> x <> '') AS toks
        |    FROM documents)
        |  WHERE len(toks) >= 1),
        |r AS (
        |  SELECT doc_id, 0 AS pos, CAST([] AS VARCHAR[]) AS seen,
        |    CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS f
        |  FROM d
        |  UNION ALL
        |  SELECT doc_id, pos,
        |    CASE WHEN len(seen2) * 25 <= t2 * 18
        |         THEN CAST([] AS VARCHAR[]) ELSE seen2 END AS seen,
        |    CASE WHEN len(seen2) * 25 <= t2 * 18
        |         THEN CAST(0 AS BIGINT) ELSE t2 END AS t,
        |    f + CASE WHEN len(seen2) * 25 <= t2 * 18
        |             THEN 1 ELSE 0 END AS f
        |  FROM (
        |    SELECT r.doc_id, r.pos + 1 AS pos,
        |      CASE WHEN list_contains(r.seen, d.toks[r.pos + 1])
        |           THEN r.seen
        |           ELSE list_append(r.seen, d.toks[r.pos + 1])
        |      END AS seen2,
        |      r.t + 1 AS t2, r.f
        |    FROM r JOIN d USING (doc_id)
        |    WHERE r.pos < len(d.toks)) x),
        |fin AS (
        |  SELECT r.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
        |    r.f, r.t, CAST(len(r.seen) AS BIGINT) AS dd
        |  FROM r JOIN d USING (doc_id) WHERE r.pos = len(d.toks)),
        |fe AS (
        |  SELECT doc_id, n_tokens,
        |    f * 1000000 + CASE WHEN t > 0
        |      THEN (t - dd) * 100000000 // (28 * t) ELSE 0 END
        |      AS factors_e6
        |  FROM fin)
        |SELECT doc_id, n_tokens,
        |  ROUND(CAST(factors_e6 AS DOUBLE) / 1e6, 4) AS factors,
        |  CASE WHEN factors_e6 > 0 THEN
        |    ROUND(CAST(n_tokens AS DOUBLE) * 1000000 / factors_e6, 4)
        |  END AS mtld
        |FROM fe ORDER BY doc_id""".stripMargin,

    "text_word_dispersion" ->
      s"""WITH dw0 AS (${TextWordCount.docWordsSql}),
        |dws AS (SELECT dw0.word, doc.source
        |        FROM dw0 JOIN documents doc USING (doc_id)),
        |st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS t_s
        |       FROM dws GROUP BY source),
        |tt AS (SELECT CAST(SUM(t_s) AS BIGINT) AS t FROM st),
        |top AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS f_w
        |        FROM dws GROUP BY word
        |        ORDER BY f_w DESC, word LIMIT 15),
        |fws AS (SELECT d2.word, d2.source,
        |          CAST(COUNT(*) AS BIGINT) AS f_ws
        |        FROM dws d2 JOIN (SELECT word FROM top) tp USING (word)
        |        GROUP BY d2.word, d2.source),
        |grid AS (SELECT top.word, top.f_w, st.source, st.t_s
        |         FROM top, st),
        |j AS (SELECT g.word, g.f_w, g.t_s,
        |        COALESCE(f.f_ws, 0) AS f_ws
        |      FROM grid g LEFT JOIN fws f
        |        ON f.word = g.word AND f.source = g.source),
        |n AS (SELECT word, f_w, t,
        |        ABS(CAST(f_ws AS HUGEINT) * t
        |          - CAST(t_s AS HUGEINT) * f_w) AS num
        |      FROM j, tt),
        |a AS (SELECT word, MAX(f_w) AS n_occurrences,
        |        SUM(num) AS dpn, MAX(t) AS t
        |      FROM n GROUP BY word)
        |SELECT word, n_occurrences,
        |  ROUND(CAST(CAST(dpn * 1000000
        |    // (2::HUGEINT * n_occurrences * t) AS BIGINT) AS DOUBLE)
        |    / 1e6, 4) AS dp
        |FROM a ORDER BY word""".stripMargin,

    "text_bpe_merge" ->
      """WITH w AS (
        |  SELECT tok AS word, COUNT(*) AS cnt
        |  FROM (SELECT unnest(list_filter(regexp_split_to_array(
        |          lower(text), '\s+'), x -> x <> '')) AS tok
        |        FROM documents)
        |  GROUP BY tok),
        |p AS (
        |  SELECT substring(word, i, 2) AS pair, CAST(SUM(cnt) AS BIGINT)
        |    AS freq
        |  FROM w, unnest(generate_series(1, len(word) - 1)) AS t(i)
        |  WHERE len(word) >= 2
        |  GROUP BY pair)
        |SELECT pair, freq FROM p ORDER BY freq DESC, pair LIMIT 20""".stripMargin,

    // FROZEN fixture oracle (generated by GenBpeFixtureSql over the
    // deterministic multilingual corpus; regenerate ONLY on a
    // deliberate corpus change — never after a tokenizer change).
    "text_bpe_encode_fixture" ->
      ("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_cps AS BIGINT) AS n_cps,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  ROUND(CAST(n_cps AS DOUBLE) / n_tokens, 4) AS compression
        |FROM (VALUES
        |  (0,8,192,183),(1,6,232,220),(2,6,269,254),(3,11,299,292),
        |  (4,10,339,329),(5,15,371,357),(6,15,407,389),(7,10,450,431),
        |  (8,11,485,466),(9,10,223,219),(10,13,258,253),(11,13,295,288),
        |  (12,11,333,325),(13,10,372,343),(14,10,408,392),
        |  (15,15,441,426)
        |) t(doc_id, n_words, n_cps, n_tokens)
        |ORDER BY doc_id""").stripMargin,

    // n_vocab is tokenizer-independent (top-512 distinct-word cap);
    // the booleans are the drift CONTRACT: fertility >= 1 token/word
    // always, a same-corpus refresh never drifts (both sample folds
    // are bounded integer arithmetic over the identical sample), and
    // the fit-time fertility is recorded in the manifest. The
    // true-drift path (divergent corpus) is spec-tested.
    "text_bpe_fertility_drift" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(
        |    lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |v AS (SELECT COUNT(DISTINCT tok) AS nv FROM toks),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT CAST(LEAST(512, nv) AS BIGINT) AS n_vocab,
        |  TRUE AS fertility_sane, FALSE AS drift_flagged,
        |  TRUE AS fit_recorded
        |FROM v, nd WHERE n_docs > 0""".stripMargin,

    // n_words/n_cps are tokenizer-independent (token count and code
    // point count), so the oracle computes them declaratively; the
    // three lifecycle booleans are the CONTRACT (append_serve
    // discipline): stored encode ≡ fresh encode, the learned merge
    // count stays within the requested budget and consistent across
    // manifests (a hard = 32 pin would red on a low-diversity corpus
    // where learn() exhausts pair candidates early — ADVICE r14), and
    // a same-corpus refresh is never stale.
    "text_bpe_store_roundtrip" ->
      """WITH toks AS (
        |  SELECT source, unnest(list_filter(regexp_split_to_array(
        |    lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(length(tok)) AS BIGINT) AS n_cps,
        |  TRUE AS stored_equals_fresh,
        |  TRUE AS merges_bounded,
        |  FALSE AS fit_stale
        |FROM toks GROUP BY source ORDER BY source""".stripMargin,

    "text_zipf_fit" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
        |    '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |top AS (
        |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
        |  ORDER BY cnt DESC, tok LIMIT 100),
        |ranked AS (
        |  SELECT
        |    CAST(ROUND(ln(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok)
        |      AS DOUBLE)) * 1e6) AS BIGINT) AS lx,
        |    CAST(ROUND(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS ly
        |  FROM top),
        |s AS (
        |  SELECT COUNT(*) AS n_ranks, SUM(lx) AS sx, SUM(ly) AS sy,
        |    SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx
        |  FROM ranked),
        |sl AS (
        |  SELECT CAST(n_ranks AS BIGINT) AS n_ranks, sx, sy,
        |    ROUND(CAST(n_ranks * sxy - sx * sy AS DOUBLE) /
        |      CAST(n_ranks * sxx - sx * sx AS DOUBLE), 4) + 0.0 AS zipf_slope
        |  FROM s)
    |SELECT n_ranks, zipf_slope,
        |  ROUND((CAST(sy AS DOUBLE) / 1e6 -
        |    zipf_slope * (CAST(sx AS DOUBLE) / 1e6)) / n_ranks, 4)
        |    + 0.0 AS intercept
        |FROM sl""".stripMargin,

    "text_heaps_fit" ->
      s"""WITH $tokCte,
         |pd AS (SELECT doc_id, COUNT(*) AS ntok FROM tk GROUP BY 1),
         |ft AS (SELECT MIN(doc_id) AS doc_id FROM tk GROUP BY tok),
         |nt AS (SELECT doc_id, COUNT(*) AS nnew FROM ft GROUP BY 1),
         |curve AS (
         |  SELECT pd.doc_id,
         |    CAST(SUM(pd.ntok) OVER w AS BIGINT) AS cn,
         |    CAST(SUM(COALESCE(nt.nnew, 0)) OVER w AS BIGINT) AS cv
         |  FROM pd LEFT JOIN nt USING (doc_id)
         |  WINDOW w AS (ORDER BY pd.doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |q AS (
         |  SELECT cn, cv,
         |    CAST(ROUND(ln(CAST(cn AS DOUBLE)) * 1e6) AS BIGINT) AS lx,
         |    CAST(ROUND(ln(CAST(cv AS DOUBLE)) * 1e6) AS BIGINT) AS ly
         |  FROM curve),
         |g AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    MAX(cn) AS total_tokens, MAX(cv) AS total_types,
         |    SUM(CAST(lx AS HUGEINT)) AS sx,
         |    SUM(CAST(ly AS HUGEINT)) AS sy,
         |    SUM(CAST(lx AS HUGEINT) * ly) AS sxy,
         |    SUM(CAST(lx AS HUGEINT) * lx) AS sxx
         |  FROM q),
         |b AS (
         |  SELECT *, ROUND(CAST(n_docs * sxy - sx * sy AS DOUBLE)
         |    / CAST(n_docs * sxx - sx * sx AS DOUBLE), 4) + 0.0
         |    AS heaps_beta
         |  FROM g)
         |SELECT n_docs, total_tokens, total_types, heaps_beta,
         |  ROUND((CAST(sy AS DOUBLE) / 1e6
         |    - heaps_beta * (CAST(sx AS DOUBLE) / 1e6)) / n_docs, 4)
         |    + 0.0 AS heaps_lnk
         |FROM b""".stripMargin,

    "doc_filter_reasons" ->
      s"""WITH $tokCte,
         |c AS (SELECT doc_id, tok, COUNT(*) AS c
         |      FROM tk GROUP BY doc_id, tok),
         |m AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |    ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 4) AS entropy,
         |    ROUND(CAST(SUM(CASE WHEN tok IN (${sqlList(stopEn)})
         |                        THEN c ELSE 0 END) AS DOUBLE) / SUM(c), 4)
         |      AS stop_ratio
         |  FROM c GROUP BY doc_id)
         |SELECT doc_id, n_tokens, entropy, stop_ratio,
         |  CASE WHEN n_tokens < 10 THEN 'too_short'
         |       WHEN entropy < 3.0 THEN 'low_entropy'
         |       WHEN stop_ratio < 0.05 THEN 'low_stopword'
         |       ELSE 'kept' END AS verdict
         |FROM m ORDER BY doc_id""".stripMargin,

    "text_entropy" ->
      s"""WITH $tokCte,
         |c AS (SELECT doc_id, tok, COUNT(*) AS c
         |      FROM tk GROUP BY doc_id, tok)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |  ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 4) AS entropy
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""WITH $tokCte
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  COUNT(DISTINCT tok) AS n_types,
         |  ROUND(CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*), 4) AS ttr,
         |  ROUND(CAST(SUM(CASE WHEN tok IN (${sqlList(stopEn)})
         |                      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4)
         |    AS stop_ratio,
         |  ROUND(CAST(SUM(len(tok)) AS DOUBLE) / COUNT(*), 4) AS avg_tok_len
         |FROM tk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      s"""$langidCte
         |SELECT doc_id, pred_lang, s_en, s_de, s_es, s_fr
         |FROM lp ORDER BY doc_id""".stripMargin,

    "text_langid_eval" ->
      s"""$langidCte,
         |cells AS (
         |  SELECT d.lang, COALESCE(lp.pred_lang, 'none') AS pred_lang,
         |    COUNT(*) AS n
         |  FROM documents d LEFT JOIN lp USING (doc_id)
         |  GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true
         |        FROM cells GROUP BY lang)
         |SELECT lang, pred_lang, n,
         |  ROUND(CAST(n AS DOUBLE) / n_true, 4) AS share
         |FROM cells JOIN tot USING (lang)
         |ORDER BY lang, pred_lang""".stripMargin,

    "text_langid_auc" ->
      s"""WITH $tokCte,
         |sc AS (
         |  SELECT t.doc_id, MAX(d.lang) AS lang, COUNT(*) AS n,
         |    CAST(SUM(CASE WHEN tok IN (${sqlList(stopEn)}) THEN 1 ELSE 0 END) AS BIGINT) AS s_en,
         |    CAST(SUM(CASE WHEN tok IN (${sqlList(stopDe)}) THEN 1 ELSE 0 END) AS BIGINT) AS s_de,
         |    CAST(SUM(CASE WHEN tok IN (${sqlList(stopEs)}) THEN 1 ELSE 0 END) AS BIGINT) AS s_es,
         |    CAST(SUM(CASE WHEN tok IN (${sqlList(stopFr)}) THEN 1 ELSE 0 END) AS BIGINT) AS s_fr
         |  FROM tk t JOIN documents d USING (doc_id) GROUP BY t.doc_id),
         |g AS (
         |  SELECT (s_en - GREATEST(s_de, s_es, s_fr)) * 1000000 // n AS s_e6,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |    CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nn
         |  FROM sc GROUP BY 1),
         |w AS (
         |  SELECT np, nn,
         |    COALESCE(SUM(nn) OVER (ORDER BY s_e6
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
         |  FROM g)
         |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
         |  CAST(SUM(nn) AS BIGINT) AS n_neg,
         |  ROUND(CAST(SUM(CAST(np AS HUGEINT) * (2 * cnb + nn)) AS DOUBLE)
         |    / (CAST(SUM(np) AS DOUBLE) * SUM(nn) * 2.0), 4) AS auc
         |FROM w""".stripMargin,

    "text_langid_calibration" ->
      s"""WITH $tokCte,
         |sc AS (
         |  SELECT t.doc_id, MAX(d.lang) AS lang,
         |    CAST(SUM(CASE WHEN tok IN (${sqlList(stopEn)}) THEN 1 ELSE 0 END) AS BIGINT) AS s_en,
         |    CAST(SUM(CASE WHEN tok IN (${sqlList(stopDe)}) THEN 1 ELSE 0 END) AS BIGINT) AS s_de,
         |    CAST(SUM(CASE WHEN tok IN (${sqlList(stopEs)}) THEN 1 ELSE 0 END) AS BIGINT) AS s_es,
         |    CAST(SUM(CASE WHEN tok IN (${sqlList(stopFr)}) THEN 1 ELSE 0 END) AS BIGINT) AS s_fr
         |  FROM tk t JOIN documents d USING (doc_id) GROUP BY t.doc_id),
         |conf AS (
         |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         |    CASE WHEN s_en + s_de + s_es + s_fr = 0 THEN 0
         |         ELSE s_en * 1000000 // (s_en + s_de + s_es + s_fr)
         |    END AS c_e6
         |  FROM sc),
         |b AS (
         |  SELECT LEAST(c_e6 // 100000, 9) AS bin, COUNT(*) AS n,
         |    CAST(SUM(pos) AS BIGINT) AS n_pos,
         |    SUM(CAST(c_e6 AS HUGEINT)) AS sconf
         |  FROM conf GROUP BY 1)
         |SELECT bin, n, n_pos,
         |  ROUND(CAST(sconf AS DOUBLE) / (n * 1e6), 4) AS conf,
         |  ROUND(CAST(n_pos AS DOUBLE) / n, 4) AS acc,
         |  ROUND(CAST(abs(n_pos * CAST(1000000 AS HUGEINT) - sconf)
         |    AS DOUBLE) / (n * 1e6), 4) AS gap,
         |  ROUND(CAST(SUM(abs(n_pos * CAST(1000000 AS HUGEINT) - sconf))
         |      OVER (ROWS BETWEEN UNBOUNDED PRECEDING
         |            AND UNBOUNDED FOLLOWING) AS DOUBLE)
         |    / (SUM(n) OVER (ROWS BETWEEN UNBOUNDED PRECEDING
         |                    AND UNBOUNDED FOLLOWING) * 1e6), 4) AS ece
         |FROM b ORDER BY bin""".stripMargin,

    "text_fertility" ->
      """WITH c AS (
        |  SELECT lang,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                         x -> x <> '')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(lower(text),
        |                                '[a-z]+|[0-9]+|[^a-z0-9\s]'))
        |         AS BIGINT) AS p,
        |    n_chars
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS n_words,
        |  CAST(SUM(p) AS BIGINT) AS n_pieces,
        |  ROUND(CAST(SUM(p) AS DOUBLE) / SUM(w), 4) AS fertility,
        |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(p), 4) AS chars_per_piece
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    "text_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                       x -> x <> '')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
        |       AS BIGINT) AS n_bpe_pieces,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_vocab_coverage" ->
      s"""WITH $tokCte,
         |vocab AS (
         |  SELECT tok FROM (
         |    SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok
         |    ORDER BY cnt DESC, tok LIMIT 1000)),
         |v AS (SELECT tok, 1 AS in_vocab FROM vocab)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(COALESCE(in_vocab, 0)) AS BIGINT) AS n_in_vocab,
         |  ROUND(CAST(SUM(COALESCE(in_vocab, 0)) AS DOUBLE) / COUNT(*), 4)
         |    AS coverage
         |FROM tk LEFT JOIN v USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
      s"""WITH $tokCte,
         |tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf
         |       FROM tk GROUP BY doc_id, tok),
         |dft AS (SELECT tok AS term, COUNT(DISTINCT doc_id) AS df
         |        FROM tk GROUP BY tok),
         |nn AS (SELECT COUNT(*) AS n FROM documents)
         |SELECT doc_id, term, tf,
         |  ROUND(tf * ln(CAST(n + 1 AS DOUBLE) / (df + 1)), 6) AS tfidf
         |FROM tf JOIN dft USING (term), nn
         |ORDER BY doc_id, term""".stripMargin,

    "text_keywords" ->
      s"""WITH $tokCte,
         |tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf
         |       FROM tk GROUP BY doc_id, tok),
         |dft AS (SELECT tok AS term, COUNT(DISTINCT doc_id) AS df
         |        FROM tk GROUP BY tok),
         |nn AS (SELECT COUNT(*) AS n FROM documents),
         |scored AS (
         |  SELECT doc_id, term,
         |    ROUND(tf * ln(CAST(n + 1 AS DOUBLE) / (df + 1)), 6) AS tfidf
         |  FROM tf JOIN dft USING (term), nn),
         |ranked AS (
         |  SELECT doc_id, term, tfidf,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |                       ORDER BY tfidf DESC, term) AS rank
         |  FROM scored)
         |SELECT doc_id, term, tfidf, rank FROM ranked
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "text_winnow" -> (winnowCteSql +
      """
        |SELECT doc_id, COUNT(*) AS n_fp,
        |  CAST(SUM(fp) AS BIGINT) AS fp_checksum
        |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                x -> x <> ''))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_rake_keyphrases" -> {
      val stop = sqlList(stopEn)
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                x -> x <> '') AS toks
         |  FROM documents),
         |t0 AS (
         |  SELECT doc_id, i, toks[i] AS tok,
         |    CASE WHEN toks[i] IN ($stop) THEN 1 ELSE 0 END AS is_stop
         |  FROM d, unnest(generate_series(1, len(toks))) AS t(i)),
         |isl AS (
         |  SELECT doc_id, i, tok, is_stop,
         |    SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY i) AS isl
         |  FROM t0),
         |occ AS (
         |  SELECT doc_id, isl,
         |    string_agg(tok, ' ' ORDER BY i) AS phrase,
         |    COUNT(*) AS len
         |  FROM isl WHERE is_stop = 0 GROUP BY doc_id, isl),
         |ws AS (
         |  SELECT tok,
         |    CAST((2 * degree * 1000000 + freq) // (2 * freq) AS BIGINT)
         |      AS s_e6
         |  FROM (
         |    SELECT tok, COUNT(*) AS freq, CAST(SUM(len) AS BIGINT)
         |      AS degree
         |    FROM (SELECT unnest(regexp_split_to_array(phrase, ' '))
         |            AS tok, len
         |          FROM occ)
         |    GROUP BY tok)),
         |ph AS (SELECT DISTINCT phrase FROM occ),
         |sc AS (
         |  SELECT p.phrase, COUNT(*) AS n_words,
         |    CAST(SUM(w.s_e6) AS BIGINT) AS score_e6
         |  FROM (SELECT phrase,
         |          unnest(regexp_split_to_array(phrase, ' ')) AS tok
         |        FROM ph) p
         |  JOIN ws w USING (tok)
         |  GROUP BY p.phrase)
         |SELECT phrase, n_words, CAST(score_e6 AS DOUBLE) / 1e6 AS score
         |FROM sc ORDER BY score_e6 DESC, phrase LIMIT 20""".stripMargin
    },

    "text_gopher_rules" -> {
      val stop = sqlList(stopEn)
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(toks, t -> length(t)))
        |      AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(toks, t -> t IN (STOPLIST)))
        |      AS BIGINT) AS n_stopwords
        |  FROM d)
        |SELECT doc_id, n_words,
        |  ROUND(CAST(sum_len AS DOUBLE) / n_words, 4) AS mean_word_len,
        |  ROUND(CAST(n_alpha AS DOUBLE) / n_words, 4) AS alpha_share,
        |  n_stopwords,
        |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
        |       THEN 1 ELSE 0 END AS BIGINT) AS r_count,
        |  CAST(CASE WHEN sum_len >= n_words * 3 AND sum_len <= n_words * 10
        |       THEN 1 ELSE 0 END AS BIGINT) AS r_wordlen,
        |  CAST(CASE WHEN n_alpha * 5 >= n_words * 4
        |       THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
        |  CAST(CASE WHEN n_stopwords >= 2
        |       THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
        |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
        |        AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
        |        AND n_alpha * 5 >= n_words * 4 AND n_stopwords >= 2
        |       THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
        |FROM m ORDER BY doc_id""".stripMargin
        .replace("STOPLIST", stop)
    },

    "text_ttr" ->
      s"""WITH $tokCte,
         |c AS (SELECT doc_id, tok, COUNT(*) AS c
         |      FROM tk GROUP BY doc_id, tok),
         |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
         |        COUNT(*) AS n_types,
         |        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_hapax
         |      FROM c GROUP BY doc_id)
         |SELECT doc_id, n_toks, n_types, n_hapax,
         |  ROUND(CAST(n_types AS DOUBLE) / n_toks, 4) AS ttr,
         |  ROUND(CAST(n_hapax AS DOUBLE) / n_types, 4) AS hapax_share
         |FROM a ORDER BY doc_id""".stripMargin,

    "text_kl_source_drift" ->
      """WITH tk AS (
        |  SELECT source, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))
        |    AS tok
        |  FROM documents),
        |sw AS (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |ww AS (
        |  SELECT source, tok, c,
        |    CAST(SUM(c) OVER (PARTITION BY tok) AS BIGINT) AS cw
        |  FROM sw),
        |rs AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS vocab,
        |    CAST(SUM(CAST(ROUND((c * ln(CAST(c AS DOUBLE) / cw)) * 1e6)
        |      AS BIGINT)) AS BIGINT) AS a_e6
        |  FROM ww GROUP BY source),
        |wn AS (SELECT *, CAST(SUM(n_tokens) OVER () AS BIGINT) AS nn
        |       FROM rs)
        |SELECT source, n_tokens, vocab,
        |  ROUND((CAST(a_e6 AS DOUBLE) / 1e6) / n_tokens
        |        + ln(CAST(nn AS DOUBLE) / n_tokens), 4) + 0.0 AS kl
        |FROM wn ORDER BY source""".stripMargin,

    "text_log_odds" ->
      """WITH tk AS (
        |  SELECT source, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))
        |    AS token
        |  FROM documents),
        |sw AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS y1
        |       FROM tk GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
        |       FROM tk GROUP BY 1),
        |w AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS y_w
        |      FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM tk),
        |grid AS (
        |  SELECT ns.source, w.token,
        |    COALESCE(sw.y1, 0) AS y1, w.y_w, ns.n_s, tot.n_tot
        |  FROM ns CROSS JOIN w CROSS JOIN tot
        |  LEFT JOIN sw ON sw.source = ns.source AND sw.token = w.token)
        |SELECT source, token, y1 AS y, y_w,
        |  ROUND(
        |    (ln(CAST(y1 + y_w AS DOUBLE)
        |        / CAST(n_s + n_tot - y1 - y_w AS DOUBLE))
        |     - ln(CAST(y_w * 2 - y1 AS DOUBLE)
        |        / CAST(n_tot * 2 - n_s - y_w * 2 + y1 AS DOUBLE)))
        |    / sqrt(CAST(1 AS DOUBLE) / CAST(y1 + y_w AS DOUBLE)
        |         + CAST(1 AS DOUBLE) / CAST(y_w * 2 - y1 AS DOUBLE)),
        |    4) + 0.0 AS z_logodds
        |FROM grid ORDER BY source, token""".stripMargin,

    "text_simpson_index" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))
        |    AS tok
        |  FROM documents),
        |cw AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM tk GROUP BY 1, 2),
        |ag AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS vocab,
        |    CAST(SUM(c * (c - 1)) AS BIGINT) AS dnum
        |  FROM cw GROUP BY 1)
        |SELECT doc_id, n_tokens, vocab,
        |  ROUND(CAST(dnum AS DOUBLE)
        |    / CAST(n_tokens * (n_tokens - 1) AS DOUBLE), 4) + 0.0
        |    AS simpson
        |FROM ag WHERE n_tokens >= 2 ORDER BY doc_id""".stripMargin,

    "text_burrows_delta" ->
      """WITH tk AS (
        |  SELECT source, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))
        |    AS tok
        |  FROM documents),
        |sw AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS y
        |       FROM tk GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
        |       FROM tk GROUP BY 1),
        |top AS (SELECT tok FROM (
        |    SELECT tok, COUNT(*) AS cw FROM tk GROUP BY 1)
        |  ORDER BY cw DESC, tok LIMIT 15),
        |f AS (
        |  SELECT ns.source, top.tok,
        |    (COALESCE(sw.y, 0) * 1000000000) // ns.n_s AS f_e9
        |  FROM ns CROSS JOIN top
        |  LEFT JOIN sw ON sw.source = ns.source AND sw.tok = top.tok),
        |st AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS ss,
        |    CAST(SUM(f_e9) AS BIGINT) AS sum_e9,
        |    SUM(CAST(f_e9 AS HUGEINT) * f_e9) AS v2
        |  FROM f GROUP BY 1),
        |z AS (
        |  SELECT f.source, f.tok,
        |    CASE WHEN CAST(st.ss AS HUGEINT) * st.v2
        |            = CAST(st.sum_e9 AS HUGEINT) * st.sum_e9 THEN 0
        |    ELSE CAST(ROUND(
        |      CAST(f.f_e9 * st.ss - st.sum_e9 AS DOUBLE) * 1e6
        |      / sqrt(CAST(CAST(st.ss AS HUGEINT) * st.v2
        |             - CAST(st.sum_e9 AS HUGEINT) * st.sum_e9
        |             AS DOUBLE))) AS BIGINT) END AS z_e6
        |  FROM f JOIN st USING (tok))
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_words,
        |  ROUND(CAST(SUM(abs(a.z_e6 - b.z_e6)) AS DOUBLE)
        |    / (COUNT(*) * 1e6), 4) + 0.0 AS delta
        |FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    "text_pmi_top" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '')
        |    AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT w, COUNT(*) AS cw
        |  FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY w),
        |bi AS (
        |  SELECT bigram, COUNT(*) AS cxy FROM (
        |    SELECT array_to_string(toks[i : i + 1], ' ') AS bigram
        |    FROM tk, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        |    WHERE len(toks) >= 2)
        |  GROUP BY bigram HAVING COUNT(*) >= 5),
        |tot AS (
        |  SELECT CAST(SUM(len(toks) - 1) AS BIGINT) AS nn
        |  FROM tk WHERE len(toks) - 1 >= 1),
        |sc AS (
        |  SELECT str_split(bigram, ' ')[1] AS w1,
        |    str_split(bigram, ' ')[2] AS w2, cxy, nn
        |  FROM bi, tot),
        |j AS (
        |  SELECT sc.w1, sc.w2, sc.cxy, ux.cw AS cx, uy.cw AS cy,
        |    CAST(ROUND(ln(((CAST(sc.cxy AS DOUBLE) * sc.nn) / ux.cw)
        |      / uy.cw) * 1e10) AS BIGINT) AS pmi_e10
        |  FROM sc JOIN uni ux ON ux.w = sc.w1
        |  JOIN uni uy ON uy.w = sc.w2)
        |SELECT w1, w2, cxy, cx, cy,
        |  ROUND(CAST(pmi_e10 AS DOUBLE) / 1e10, 4) AS pmi
        |FROM j ORDER BY pmi_e10 DESC, w1, w2 LIMIT 20""".stripMargin)
}
