package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.engine.Artifact

/** Corpus-preparation operators a large-scale training-data pipeline runs
  * between raw documents and training shards (SURVEY.md §2.5 extensions):
  * fixed-window chunking, deterministic train/val/test splitting,
  * within-document repetition scoring, and n-gram containment
  * (decontamination). All pure map + 2-phase-agg / equi-join shapes —
  * nothing holds per-doc state beyond a shuffle key, so every operator
  * scales linearly with executors.
  */
object PipelineOps {

  /** Non-empty whitespace tokens of lower(text). */
  private[graft] def toksCol: Column =
    expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")

  private[graft] val toksSql =
    """list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                     x -> x <> '')""".stripMargin

  /** Token-currency packing fold shared by doc_pack_bpe and its exact
    * spec (PipelineInvariantsSpec pins the full output, including the
    * BPE pack count, on a hand-built corpus with a KNOWN merge table):
    * per-doc (words, code points, BPE tokens with `ranks`) from ONE
    * distributed encode pass, then doc_pack's concat-and-chunk cumsum
    * in BOTH currencies riding one (source, doc_id) sort/exchange.
    * @return (source, n_docs, ws_tokens, n_cps, bpe_tokens,
    *         n_packs_bpe, n_packs_ws), unsorted. */
  private[graft] def bpePackCounts(s: SparkSession, docs: DataFrame,
      ranks: Map[(String, String), Int]): DataFrame = {
    import s.implicits._
    val counts = docs
      .select($"source", $"doc_id", toksCol.as("toks"))
      .as[(String, Long, Seq[String])]
      .mapPartitions { it =>
        it.map { case (src, id, toks) =>
          val (w, c, tk) = graft.engine.BpeTokenizer.countsFor(toks, ranks)
          (src, id, w, c, tk)
        }
      }
      .toDF("source", "doc_id", "n_ws", "n_cps", "n_bpe")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    counts
      .withColumn("prior_bpe", coalesce(sum($"n_bpe").over(w), lit(0L)))
      .withColumn("prior_ws", coalesce(sum($"n_ws").over(w), lit(0L)))
      .withColumn("prior_cps", coalesce(sum($"n_cps").over(w), lit(0L)))
      .withColumn("pack_bpe", ($"prior_bpe" / 512).cast("long"))
      .withColumn("pack_ws", ($"prior_ws" / 512).cast("long"))
      .withColumn("pack_cps", ($"prior_cps" / 512).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_ws").as("ws_tokens"),
        sum($"n_cps").as("n_cps"), sum($"n_bpe").as("bpe_tokens"),
        countDistinct($"pack_bpe").as("n_packs_bpe"),
        countDistinct($"pack_ws").as("n_packs_ws"),
        countDistinct($"pack_cps").as("n_packs_cps"))
  }

  /** SQL boolean: 1-based char position `i` of `text` ends an 8-char
    * window whose md5-integer (8 hex digits) ≡ 0 (mod 64) — THE CDC
    * cut rule, stated once for the SQL chunk contract
    * ([[cdcChunksSqlPath]]) AND the engine chunker's replay test
    * (CdcChunkerSpec) so the two can never cut differently. */
  private[graft] def cdcCutSql(i: String): String =
    s"cast(conv(substring(md5(cast(substring(text, cast($i - 7 as int)," +
      s" 8) as binary)), 1, 8), 16, 10) as bigint) % 64 = 0"

  /** CDC chunk table (doc_id, source, clen, chash) shared by the
    * doc_cdc_* trio — since r12 this runs on the engine chunker
    * ([[graft.engine.CdcChunker]] Md5Cut, one imperative scan per doc
    * inside its split: no per-char explode row, no boundary window,
    * no rejoin), while the DuckDB oracles keep replaying the SQL
    * contract below — so the round gate re-proves engine ≡ contract
    * on every run, and CdcChunkerSpec pins frame-level equality
    * against [[cdcChunksSqlPath]] directly. */
  private def cdcChunks(s: SparkSession, d: String): DataFrame =
    graft.engine.CdcChunker.chunks(
      t(s, d, "documents").select(col("doc_id"), col("source"),
        col("text")).filter(length(col("text")) > 0),
      graft.engine.CdcChunker.Md5Cut)

  /** The rolling-hash fast path (same geometry, no md5 per char) —
    * not oracle-expressible; invariant-tested in CdcChunkerSpec and
    * benched as doc_cdc_chunks_poly_raw. */
  private[graft] def cdcChunksPoly(s: SparkSession, d: String): DataFrame =
    graft.engine.CdcChunker.chunks(
      t(s, d, "documents").select(col("doc_id"), col("source"),
        col("text")).filter(length(col("text")) > 0),
      graft.engine.CdcChunker.PolyCut)

  /** The original declarative CDC chunk build — THE md5-rule contract
    * the DuckDB oracle replays (one row + one md5 per character
    * through explode/Window; CPU-heavy, kept as the spec/bench
    * reference for the engine path). Boundary rows are ~len/64 per
    * doc; the only wide column (text) is re-joined doc-keyed for the
    * substring extraction and dropped before any shuffle on chash. */
  private[graft] def cdcChunksSqlPath(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // fan out before the per-character md5 rule scan: the single-file
    // scan would otherwise evaluate every candidate boundary in ONE
    // task (engine.Layout.fanOut — guarded no-op at scale)
    val docs = graft.engine.Layout.fanOut(s, t(s, d, "documents")
        .select($"doc_id", $"source", $"text",
          length($"text").cast("long").as("len"))
        .filter($"len" > 0))
    val bpos = docs.filter($"len" >= 8)
      .select($"doc_id", $"text",
        explode(expr("sequence(8, len)")).as("i"))
      .filter(expr(cdcCutSql("i")))
      .select($"doc_id", $"i")
    val bounds = bpos
      .union(docs.select($"doc_id", $"len".as("i")))
      .distinct()
    val wd = Window.partitionBy($"doc_id").orderBy($"i")
    bounds
      .withColumn("prev", coalesce(lag($"i", 1).over(wd), lit(0L)))
      .filter($"i" > $"prev")
      .join(docs.select($"doc_id", $"source", $"text"), Seq("doc_id"))
      .select($"doc_id", $"source", ($"i" - $"prev").as("clen"),
        expr("cast(conv(substring(md5(cast(substring(text," +
          " cast(prev + 1 as int), cast(i - prev as int)) as binary))," +
          " 1, 15), 16, 10) as bigint)").as("chash"))
  }

  /** DuckDB twin of [[cdcChunks]] — CTE chain ending in `ck`. */
  private val cdcChunksSql: String =
    """d AS (
      |  SELECT doc_id, source, text, CAST(LENGTH(text) AS BIGINT)
      |    AS len
      |  FROM documents WHERE LENGTH(text) > 0),
      |pos AS (
      |  SELECT doc_id, i FROM (
      |    SELECT doc_id, text, unnest(range(8, len + 1)) AS i
      |    FROM d WHERE len >= 8)
      |  WHERE ('0x' || substring(md5(substring(text,
      |      CAST(i - 7 AS INTEGER), 8)), 1, 8))::BIGINT % 64 = 0),
      |b AS (SELECT doc_id, i FROM pos
      |      UNION SELECT doc_id, len FROM d),
      |ck0 AS (
      |  SELECT doc_id, i, COALESCE(LAG(i) OVER (PARTITION BY doc_id
      |    ORDER BY i), 0) AS prev
      |  FROM b),
      |ck AS (
      |  SELECT c.doc_id, d.source, c.i - c.prev AS clen,
      |    ('0x' || substring(md5(substring(d.text,
      |      CAST(c.prev + 1 AS INTEGER),
      |      CAST(c.i - c.prev AS INTEGER))), 1, 15))::BIGINT AS chash
      |  FROM ck0 c JOIN d USING (doc_id) WHERE c.i > c.prev)""".stripMargin

  /** Parameterized twin of [[cdcChunksSql]] for the boundary-stability
    * oracle: the chunk CTE chain over a base CTE `src`(doc_id, text,
    * len), every CTE name prefixed `p`, ending in `<p>ck`(doc_id,
    * chash). Stated once so the two chunkings (original and edited
    * text) can never drift apart in the oracle. */
  private def cdcCkSqlOver(p: String, src: String): String =
    s"""${p}pos AS (
       |  SELECT doc_id, i FROM (
       |    SELECT doc_id, text, unnest(range(8, len + 1)) AS i
       |    FROM $src WHERE len >= 8)
       |  WHERE ('0x' || substring(md5(substring(text,
       |      CAST(i - 7 AS INTEGER), 8)), 1, 8))::BIGINT % 64 = 0),
       |${p}b AS (SELECT doc_id, i FROM ${p}pos
       |      UNION SELECT doc_id, len FROM $src),
       |${p}ck0 AS (
       |  SELECT doc_id, i, COALESCE(LAG(i) OVER (PARTITION BY doc_id
       |    ORDER BY i), 0) AS prev
       |  FROM ${p}b),
       |${p}ck AS (
       |  SELECT c.doc_id,
       |    ('0x' || substring(md5(substring(d.text,
       |      CAST(c.prev + 1 AS INTEGER),
       |      CAST(c.i - c.prev AS INTEGER))), 1, 15))::BIGINT AS chash
       |  FROM ${p}ck0 c JOIN $src d USING (doc_id)
       |  WHERE c.i > c.prev)""".stripMargin

  /** The epoch water-fill core (doc_epoch_plan's solve), shared with
    * doc_epoch_expand: per source, tokens, the e4 quality weight, and
    * the solved e10 fixed-point epochs `ep` = min(4, m·w). See
    * doc_epoch_plan's header comment for the closed-form derivation. */
  private def epochPlanFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val src = t(s, d, "documents")
      .select($"source", size(toksCol).cast("long").as("n"))
      .groupBy($"source").agg(sum($"n").as("tok"))
      .withColumn("w_e4", (lit(1L) + expr(
        "cast(conv(substring(md5(cast(source as binary)), 1, 1)," +
          " 16, 10) as bigint) % 5")) * 5000L)
      // the corpus folds to this bounded source table ONCE; without
      // pinning it, every downstream reference (totals, candidates,
      // final join) re-plans the full documents scan
      .localCheckpoint()
    val tot = src.agg(sum($"tok").as("ttok"),
      sum($"tok" * $"w_e4").as("t4"))
    val wo = Window.orderBy($"w_e4".desc, $"source".asc)
    val cum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = src.crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(wo))
      .withColumn("cum_tok", sum($"tok").over(cum))
      .withColumn("cum_tw", sum($"tok" * $"w_e4").over(cum))
      .withColumn("w_next", lead($"w_e4", 1).over(wo))
    val kCand = ranked.select($"rn".as("k"), $"cum_tok".as("c"),
        $"cum_tw", $"w_e4".as("w_k"), $"w_next", $"ttok", $"t4")
      .unionByName(ranked.filter($"rn" === 1)
        .select(lit(0L).as("k"), lit(0L).as("c"), lit(0L).as("cum_tw"),
          lit(null).cast("long").as("w_k"), $"w_e4".as("w_next"),
          $"ttok", $"t4"))
    val chosen = kCand
      .withColumn("s4", $"t4" - $"cum_tw")
      .withColumn("rem", lit(3L) * $"ttok" - lit(4L) * $"c")
      .withColumn("m_e6", expr(
        "case when s4 > 0 then cast((cast(rem as decimal(38,0))" +
          " * 10000000000) div cast(s4 as decimal(38,0)) as bigint)" +
          " else null end"))
      // Boundary checks use the EXACT rational comparison m_k·w ≥ 4 ⇔
      // rem·w_e4 ≥ 4·S4 (pure integers, no flooring) — selecting on
      // the floored m_e6 can reject EVERY candidate when the true
      // multiplier lands within 1e-6 of a cap point, which would
      // silently diverge the engines (review finding r8: Spark's
      // null-skipping least() would cap everything while the SQL twin
      // returned zero rows). The floored m_e6 is only ever an epoch
      // VALUE, never a selector.
      .filter($"rem" >= 0L)
      .filter($"w_k".isNull || ($"s4" === 0L) ||
        ($"rem" * $"w_k" >= lit(4L) * $"s4"))
      .filter(($"s4" === 0L) || $"w_next".isNull ||
        ($"rem" * $"w_next" < lit(4L) * $"s4"))
      .agg(min(struct($"k", $"m_e6")).as("ch"))
      .select($"ch.k".as("k"), $"ch.m_e6".as("m_e6"))
    ranked.crossJoin(broadcast(chosen))
      .withColumn("ep", when($"rn" <= $"k", 40000000000L)
        .otherwise(least(lit(40000000000L), $"m_e6" * $"w_e4")))
  }

  /** Corpus bigram LM scored over its own documents (text_bigram_lm's
    * body, shared with text_perplexity_tiers): per-doc mean log2 of the
    * corpus-wide conditional bigram probability c(w1 w2)/c(w1 ·). The
    * hashed bigram stream feeds THREE consumers (doc stream + both
    * count aggs) — materialized once via eager localCheckpoint, the
    * tokenize-once discipline any real corpus pipeline uses (the
    * executed plan `graft.Profile` prints shows AQE does not merge the
    * differently-keyed subtrees); 24 bytes/bigram, executor-resident. */
  private[graft] def lmScoresRaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NO fanOut here (r17, reverting half of f3c2ba9 per VERDICT r16
    // item 2): the driver measured this row 0.77 → 1.15 s at 32 cores
    // after the r16 fanOut, and an interleaved 3-round A/B on the r17
    // host confirmed it reproducibly loses at 32 cores (tiers min
    // 1.87 s with vs 0.87 s without; bigram_lm 0.94 vs 0.69) while the
    // 8-core runs are a wash. Unlike the md5-per-char CDC sites, the
    // bigram map work is light per text byte, so the round-robin
    // exchange ships the whole text column for less map time than the
    // shuffle itself costs.
    val bg = t(s, d, "documents")
        .select($"doc_id", $"text")
      .select($"doc_id", toksCol.as("toks"))
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(toks) - 1)," +
          " i -> struct(element_at(toks, i) AS w1," +
          " element_at(toks, i) || ' ' || element_at(toks, i + 1) AS bg))"))
        .as("p"))
      .select($"doc_id", xxhash64($"p.w1").as("w1"), xxhash64($"p.bg").as("bg"))
      .localCheckpoint()
    val c2 = bg.groupBy($"bg").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy($"w1").agg(count(lit(1)).as("c1"))
    bg.join(c2, "bg").join(c1, "w1")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log2($"c2".cast("double") / $"c1")), 4).as("avg_logprob"))
      .orderBy($"doc_id")
  }

  /** The corpus-LM score table, computed ONCE per (session, dir) and
    * shared by its two declared consumers (text_bigram_lm reads it
    * whole, text_perplexity_tiers ranks it) — the same build-once
    * shared-index discipline as the shingle/winnow/LSH tables. The
    * checkpointed frame is small (one row per scored doc), so the
    * storage cost is negligible next to re-running the corpus bigram
    * aggs per consumer. Like every Artifact, its build is priced by
    * construction, as the text_bigram_lm_raw Bench row. */
  private val lmScoresShared = Artifact("text_bigram_lm")(lmScoresRaw)

  /** Per-doc duplicated-span summary (doc_id, source, n_toks, n_spans,
    * dup_tokens, max_span) — the span-level dedup core shared by
    * doc_dup_spans (the per-doc removal plan) and doc_dup_savings (the
    * per-source roll-up). A token position is duplicated when its
    * 8-gram occurs >= 2 times ANYWHERE in the corpus (Lee et al. 2022's
    * suffix-array criterion, blocked here by the linear gram-frequency
    * pass); overlapping/adjacent duplicated windows merge into maximal
    * spans via gaps-and-islands (consecutive duplicated start positions
    * p1 < p2 overlap-or-touch iff p2 - p1 <= 8). Shapes at 100 TB: the
    * gram pass is the linear groupBy every dedup op runs; the island
    * window partitions BY DOC over only the duplicated positions
    * (bounded by doc length — never a global window); no pair work, so
    * this scales where a literal suffix array (a global sort of every
    * suffix) would not. Spark keys grams by xxhash64, the oracle by the
    * raw string — 64-bit collisions at corpus scale are the accepted
    * house tradeoff (text_dup_ngram_rate precedent). */
  private def dupSpansRaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val grams = graft.engine.Layout.fanOut(s, t(s, d, "documents")
        .select($"doc_id", $"source", $"text"))
      .select($"doc_id", $"source", toksCol.as("toks"))
      .filter(size($"toks") >= 8)
      .select($"doc_id", $"source", size($"toks").cast("long").as("n_toks"),
        posexplode(expr(
          "transform(sequence(1, size(toks) - 7)," +
            " i -> xxhash64(array_join(slice(toks, i, 8), ' ')))")))
      .select($"doc_id", $"source", $"n_toks",
        ($"pos" + 1).cast("long").as("p"), $"col".as("g"))
    val dupGrams = grams.groupBy($"g").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" > 1L).select($"g")
    val w = Window.partitionBy($"doc_id").orderBy($"p")
    grams.join(dupGrams, "g")
      .select($"doc_id", $"source", $"n_toks", $"p")
      .withColumn("newi",
        when(coalesce($"p" - lag($"p", 1).over(w), lit(9L)) > 8L, 1L)
          .otherwise(0L))
      .withColumn("iid", sum($"newi")
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"source", $"n_toks", $"iid")
      .agg(min($"p").as("sp"), (max($"p") + 7L).as("ep"))
      .groupBy($"doc_id", $"source", $"n_toks")
      .agg(count(lit(1)).as("n_spans"),
        sum($"ep" - $"sp" + 1L).as("dup_tokens"),
        max($"ep" - $"sp" + 1L).as("max_span"))
  }

  /** Materialized span summary, built ONCE per (session, dir) for its
    * two declared consumers; one small row per span-bearing doc. Like
    * every Artifact, its build is priced by construction, as the
    * doc_dup_spans_raw Bench row. */
  private[graft] val dupSpansShared = Artifact("doc_dup_spans")(dupSpansRaw)

  /** DSIR importance scores (doc_id, lang, n_toks, dsir_score), built
    * ONCE per (session, dir) for doc_dsir_weights AND doc_dsir_select
    * (r17 — each query re-ran the tokenize + bucket + LLR build); one
    * narrow row per doc, the dupSpansShared discipline. Bench prices
    * the real build as the doc_dsir_raw row. */
  private def dsirScoresRaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val db = graft.engine.Layout.fanOut(s, t(s, d, "documents")
        .select($"doc_id", $"lang", $"text"))
      .select($"doc_id", $"lang", explode(toksCol).as("tok"))
      .withColumn("b", expr(
        "cast(conv(substring(md5(cast(tok as binary)), 1, 4), 16, 10)" +
          " as bigint) % 64"))
      .groupBy($"doc_id", $"lang", $"b").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // raw and target counts fold in ONE pass over the bucket table (a
    // conditional sum beats a second scan + left join at any scale)
    val model = db.groupBy($"b").agg(sum($"cnt").as("r_cnt"),
      sum(when($"lang" === "en", $"cnt").otherwise(0L)).as("t_cnt"))
    val totals = model.agg(sum($"r_cnt").as("R"), sum($"t_cnt").as("T"))
    // Float discipline (the text_perplexity_tiers pattern): the raw
    // LLR is a difference of log()s whose last ulp differs between
    // Spark's Math.log and DuckDB's libm ln, and double summation
    // order differs across engines — a weighted mean of raw doubles
    // rounds differently at the 4-dp boundary (the r7 hash failure).
    // Quantize each bucket's LLR to a fixed-point BIGINT first: the
    // weighted sum is then an exact integer (order-independent), and
    // exactly ONE float op (the final divide + round) remains.
    val llr = model.crossJoin(broadcast(totals))
      .select($"b",
        expr("cast(round((ln((t_cnt + 1.0) / (T + 64.0)) - " +
          "ln((r_cnt + 1.0) / (R + 64.0))) * 1e6) as bigint)")
          .as("llr_e6"))
    db.join(broadcast(llr), "b")
      .groupBy($"doc_id", $"lang")
      .agg(sum($"cnt").as("n_toks"),
        round(sum($"cnt" * $"llr_e6").cast("double") /
          (sum($"cnt") * 1e6), 4).as("dsir_score"))
  }

  private val dsirScoresShared = Artifact("doc_dsir")(dsirScoresRaw)

  /** The tiering rank stage over an LM score table — the GLOBAL rank is
    * integer-exact and needs no global window: the 4-dp score quantizes
    * to an exact integer bucket (round(score·1e4)), strictly-better-
    * bucket doc counts get a tiny running sum over the bounded score
    * domain, and each doc adds a within-bucket row_number — the same
    * two-level design as doc_token_budget. Tier = 1 + (3·(rank-1))
    * div n, integer division on both engines. Takes the lm frame as an
    * argument so `text_perplexity_tiers_raw` drives the raw pipeline. */
  private[graft] def perplexityTiers(lm: DataFrame): DataFrame = {
    val s = lm.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = lm
      .select($"doc_id", $"avg_logprob".as("lm_score"),
        round($"avg_logprob" * 10000, 0).cast("long").as("b"))
    val wq = Window.orderBy($"b".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = scored.groupBy($"b").agg(count(lit(1)).as("nb"))
      .withColumn("hprefix", coalesce(sum($"nb").over(wq), lit(0L)))
    val ww = Window.partitionBy($"b").orderBy($"doc_id".asc)
    val n = scored.agg(count(lit(1)).as("n_docs_total"))
    scored.join(broadcast(prefix.select($"b", $"hprefix")), "b")
      .withColumn("rnk", $"hprefix" + row_number().over(ww))
      .crossJoin(broadcast(n))
      .select($"doc_id", $"lm_score", $"rnk",
        when(expr("1 + (3 * (rnk - 1)) div n_docs_total") === 1, "head")
          .when(expr("1 + (3 * (rnk - 1)) div n_docs_total") === 2, "middle")
          .otherwise("tail").as("tier"))
      .orderBy($"doc_id")
  }

  /** The shared SQL CTE chain producing lmScoresRaw's (doc_id,
    * n_bigrams, avg_logprob) — spliced into both consumers' oracles. */
  /** Oracle SQL of doc_dsir_weights, factored so doc_dsir_select can
    * wrap the identical scoring chain as a CTE (one definition of the
    * hashed-unigram LLR model across scorer and selector). */
  private lazy val dsirWeightsSql: String = {
    // 4-hex-digit md5 window → integer bucket, via the positional
    // strpos expansion (DuckDB has no conv())
    val h16 = (1 to 4).map { i =>
      val w = math.pow(16, 4 - i).toLong
      s"(strpos('0123456789abcdef', substring(md5(tok), $i, 1)) - 1) * $w"
    }.mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, lang, tok, ($h16) % 64 AS b
       |  FROM (SELECT doc_id, lang, unnest($toksSql) AS tok
       |        FROM documents)),
       |db AS (
       |  SELECT doc_id, lang, b, COUNT(*) AS cnt
       |  FROM toks GROUP BY doc_id, lang, b),
       |model AS (
       |  SELECT b, SUM(cnt) AS r_cnt,
       |    SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS t_cnt
       |  FROM db GROUP BY b),
       |totals AS (
       |  SELECT CAST(SUM(r_cnt) AS BIGINT) AS R,
       |         CAST(SUM(t_cnt) AS BIGINT) AS T FROM model),
       |llr AS (
       |  SELECT b, CAST(ROUND((ln((t_cnt + 1.0) / (T + 64.0))
       |            - ln((r_cnt + 1.0) / (R + 64.0))) * 1e6) AS BIGINT)
       |    AS llr_e6
       |  FROM model, totals)
       |SELECT doc_id, lang, CAST(SUM(cnt) AS BIGINT) AS n_toks,
       |  ROUND(CAST(SUM(cnt * llr_e6) AS DOUBLE) / (SUM(cnt) * 1e6), 4)
       |    + 0.0 AS dsir_score
       |FROM db JOIN llr USING (b)
       |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin
  }

  private val lmSql =
    s"""d AS (
       |  SELECT doc_id, $toksSql AS toks
       |  FROM documents),
       |bgs AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bg
       |  FROM d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
       |  WHERE len(toks) >= 2),
       |c2 AS (SELECT bg, COUNT(*) AS c2 FROM bgs GROUP BY bg),
       |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bgs GROUP BY w1),
       |lm AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    ROUND(AVG(log2(CAST(c2 AS DOUBLE) / c1)), 4) + 0.0 AS avg_logprob
       |  FROM bgs JOIN c2 USING (bg) JOIN c1 USING (w1)
       |  GROUP BY doc_id)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Pareto-frontier (skyline) selection over per-doc curation
    // metrics — "which documents are undominated on (length, lexical
    // diversity)" is the canonical multi-objective pick a curation
    // pipeline runs before trading corpus size against quality.
    // Metrics are exact integers: a = n_tokens, b = the e4
    // exact-rational TTR floor (n_types·10⁴ div n_tokens). A naive
    // skyline is an O(n²) dominance anti-join; this plans the scale
    // shape instead: (1) a coarse 64-token-bucket prefilter — per-
    // bucket max(b) plus a running max over strictly-greater buckets
    // (a window over the TINY bucket domain, broadcast back) drops
    // every doc dominated from a higher bucket, and a surviving doc's
    // dominator provably sits in its OWN bucket and survives with it
    // (the dominator beats the same greater-bucket max its victim
    // beat); (2) the exact same-a / greater-a window test then runs
    // on the surviving sliver only. At 100 TB the corpus-wide work is
    // one per-doc agg + one broadcast bucket join; the global-order
    // windows touch survivors (≈ the frontier staircase), never the
    // corpus.
    "doc_pareto_frontier" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val m = t(s, d, "documents")
        .select($"doc_id", explode(toksCol).as("tok"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("a"), countDistinct($"tok").as("nt"))
        .select($"doc_id", $"a", expr("(nt * 10000) div a").as("b"))
      val bk = m.withColumn("bucket", expr("a div 64"))
      val gmax = bk.groupBy($"bucket").agg(max($"b").as("mb"))
        .withColumn("gm", max($"mb").over(Window.orderBy($"bucket".desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
        .select($"bucket", $"gm")
      val surv = bk.join(broadcast(gmax), Seq("bucket"))
        .filter($"gm".isNull || $"b" > $"gm")
      val mGt = max($"b").over(Window.orderBy($"a")
        .rangeBetween(1L, Window.unboundedFollowing))
      val mSame = max($"b").over(Window.partitionBy($"a"))
      surv
        .withColumn("m_same", mSame).withColumn("m_gt", mGt)
        .filter($"b" === $"m_same" && ($"m_gt".isNull || $"b" > $"m_gt"))
        .select($"doc_id", $"a".as("n_tokens"),
          ($"b".cast("double") / 1e4).as("ttr_q"))
        .orderBy($"n_tokens".desc, $"doc_id")
    }),

    // Content-defined chunking (the rsync/LBFS rolling-cut family) —
    // the dedup-stable alternative to doc_chunks' fixed windows: a cut
    // lands after position i whenever the hash of the trailing 8-char
    // window ≡ 0 (mod 64), so an edit only re-chunks its neighborhood
    // (expected chunk ≈ 64 chars) instead of shifting every downstream
    // fixed window — THE property chunk-level dedup at 100 TB needs.
    // The window hash is the house md5-window integer (8 hex digits),
    // computed by the engine chunker in ONE imperative scan per doc
    // inside its input split (graft.engine.CdcChunker — no per-char
    // explode row, no boundary window/rejoin; the oracle replays the
    // declarative contract, so the gate re-proves engine ≡ contract).
    // A sentinel cut at len closes the final partial chunk; docs
    // shorter than the 8-char window emit one whole-doc chunk through
    // the same sentinel path.
    "doc_cdc_chunks" -> ((s, d) => {
      import s.implicits._
      cdcChunks(s, d)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"), sum($"clen").as("sum_len"),
          max($"clen").as("max_len"), min($"clen").as("min_len"))
        .select($"doc_id", $"n_chunks",
          round($"sum_len".cast("double") / $"n_chunks", 4).as("avg_len"),
          $"max_len", $"min_len")
        .orderBy($"doc_id")
    }),

    // PolyCut geometry pin (verdict r12 ask #3): the production
    // rolling-hash chunker folds wrapping 64-bit arithmetic DuckDB
    // cannot replay, so its oracle is a FROZEN FIXTURE — the engine
    // chunks graft.engine.PolyCutFixture's deterministic multilingual
    // corpus (every UTF-8 width), and the oracle SQL carries the
    // expected (doc_id, chunk_idx, clen, chash) rows as literal VALUES
    // generated once by GenPolyFixtureSql and never regenerated after
    // a chunker change. The sfDir argument is deliberately unused: a
    // cross-engine geometry pin needs an input identical on both
    // sides and across scale factors.
    "doc_cdc_poly_fixture" -> ((s, _) => {
      import s.implicits._
      s.createDataset(graft.engine.PolyCutFixture.corpus)
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, tx) =>
            graft.engine.CdcChunker
              .chunkOne(md, id, "fx", tx, graft.engine.CdcChunker.PolyCut)
              .zipWithIndex
              .map { case (c, i) => (id, i.toLong, c.clen, c.chash) }
          }
        }
        .toDF("doc_id", "chunk_idx", "clen", "chash")
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // Chunk-level dedup over the content-defined chunks — what
    // doc_cdc_chunks' cut stability is FOR: hash every CDC chunk
    // (60-bit md5, the kmv width) and measure how many chunk
    // instances repeat corpus-wide — per-source duplicated-byte share
    // plus the corpus dedup savings Σ_h (cnt_h − 1)·len_h / Σ bytes,
    // the number a chunk-store would actually reclaim. Scale shape:
    // chunk rows are boundary-bounded (~len/64 per doc), the ONE real
    // shuffle is the chunk-hash agg (the dedup shuffle itself), and
    // the per-source rollup joins chunk rows to the ≤|hashes| count
    // frame on the same key. The 1-row corpus-savings scalar is a
    // broadcast. Identical-hash chunks have identical text, so
    // max(clen) per hash is THE chunk length, not an approximation.
    // ONE chunker pass (r17, guide §2.3/§2.4): the r16 form evaluated
    // the `chunks` subtree twice — once under the freq agg and once as
    // the corpus-scale join side shuffled by chash (two full md5-chunker
    // executions; the exchanges differ so ReuseExchange cannot merge
    // them). Now everything reduces off a single (chash, source)
    // pre-aggregation; the corpus-wide instance count per hash and the
    // one-clen-per-hash marker come from windows over that aggregated
    // frame, and the global-savings scalar folds off the per-source
    // rollup (bd = ba − Σ_h clen_h, exactly the old sum((cnt−1)·clen1)).
    // Identical-hash chunks have identical text, so bytes per source =
    // Σ cnt_cs·clen1 is exact, not an approximation.
    "doc_cdc_dedup" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"chash")
      val cs = cdcChunks(s, d)
        .groupBy($"chash", $"source")
        .agg(count(lit(1)).as("cnt_cs"), max($"clen").as("clen1"))
        .withColumn("cnt", sum($"cnt_cs").over(w))
        .withColumn("first_of_hash", $"source" === min($"source").over(w))
      val perSource = cs.groupBy($"source")
        .agg(sum($"cnt_cs").as("n_chunks"),
          sum($"cnt_cs" * $"clen1").as("bytes"),
          sum(when($"cnt" > 1, $"cnt_cs").otherwise(0L))
            .as("n_dup_chunks"),
          sum(when($"cnt" > 1, $"cnt_cs" * $"clen1").otherwise(0L))
            .as("dup_bytes"),
          sum(when($"first_of_hash", $"clen1").otherwise(0L))
            .as("uniq_bytes"))
      val global = perSource
        .agg(sum($"bytes").as("ba"),
          (sum($"bytes") - sum($"uniq_bytes")).as("bd"))
        .select(round($"bd".cast("double") / $"ba", 4)
          .as("global_savings_share"))
      perSource
        .crossJoin(broadcast(global))
        .select($"source", $"n_chunks", $"bytes", $"n_dup_chunks",
          round($"dup_bytes".cast("double") / $"bytes", 4)
            .as("dup_byte_share"),
          $"global_savings_share")
        .orderBy($"source")
    }),

    // Per-doc chunk-level containment — the asymmetric question
    // dedup_containment answers pairwise, asked corpus-wide at chunk
    // granularity: what share of THIS doc's bytes exists (as CDC
    // chunks) in at least one OTHER doc? Cross-doc spread uses
    // countDistinct(doc_id) per hash, so within-doc repetition never
    // inflates containment. `mostly_shared` flags ≥half containment
    // by exact integer cross-multiplication (2·shared ≥ bytes) — no
    // float enters the verdict. Scale shape: one chunk-hash agg (the
    // same dedup shuffle), one equi-join back, one doc-keyed agg.
    // ONE chunker pass (r17, same restructure as doc_cdc_dedup): the
    // (chash, doc_id) pre-aggregation replaces both the spread agg and
    // the corpus-scale join-back; nd = rows per chash over that frame
    // IS countDistinct(doc_id) (the group key dedupes), and per-doc
    // byte sums reconstruct exactly from cnt_cd·clen1 (identical-hash
    // chunks have identical text, hence identical length).
    "doc_chunk_containment" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"chash")
      cdcChunks(s, d)
        .groupBy($"chash", $"doc_id")
        .agg(count(lit(1)).as("cnt_cd"), max($"clen").as("clen1"))
        .withColumn("nd", count(lit(1)).over(w))
        .groupBy($"doc_id")
        .agg(sum($"cnt_cd").as("n_chunks"),
          sum($"cnt_cd" * $"clen1").as("bytes"),
          sum(when($"nd" > 1, $"cnt_cd" * $"clen1").otherwise(0L))
            .as("shared_bytes"))
        .select($"doc_id", $"n_chunks", $"bytes", $"shared_bytes",
          round($"shared_bytes".cast("double") / $"bytes", 4)
            .as("containment"),
          ($"shared_bytes" * 2 >= $"bytes").cast("bigint")
            .as("mostly_shared"))
        .orderBy($"doc_id")
    }),

    // CDC edit-locality, measured corpus-wide (the property the
    // rolling-cut family EXISTS for, asserted as data rather than only
    // by a unit test): chunk every doc AND its 10-char-prefix-dropped
    // twin under the SAME md5 contract rule, and report per source the
    // share of the original's DISTINCT chunk hashes that survive the
    // edit. A fixed-window chunker scores ~0 here (every boundary
    // shifts by 10); CDC scores near 1 − E[chunk]/len because only the
    // edit's cut neighborhood re-chunks — the number that justifies
    // doc_cdc_dedup's incremental story at 100 TB. Runs the engine
    // chunker twice (one mapPartitions scan per variant, no shuffle
    // before the per-doc distinct agg); the oracle replays the
    // declarative contract on both texts.
    "doc_cdc_boundary_stability" -> ((s, d) => {
      import s.implicits._
      val base = t(s, d, "documents")
        .filter(length($"text") > 10)
        .select($"doc_id", $"source", $"text")
      val orig = graft.engine.CdcChunker.chunks(base,
        graft.engine.CdcChunker.Md5Cut)
      val edit = graft.engine.CdcChunker.chunks(
        base.withColumn("text", expr("substring(text, 11)")),
        graft.engine.CdcChunker.Md5Cut)
      val ho = orig.select($"doc_id", $"chash").distinct()
      val he = edit.select($"doc_id", $"chash").distinct()
      val no = ho.groupBy($"doc_id").agg(count(lit(1)).as("n_orig"))
      val sh = ho.join(he, Seq("doc_id", "chash"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
      base.select($"doc_id", $"source")
        .join(no, "doc_id")
        .join(sh, Seq("doc_id"), "left")
        .withColumn("n_shared", coalesce($"n_shared", lit(0L)))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_orig").as("chunks_orig"),
          sum($"n_shared").as("chunks_survived"))
        .select($"source", $"n_docs", $"chunks_orig",
          $"chunks_survived",
          round($"chunks_survived".cast("double") / $"chunks_orig", 4)
            .as("survival_share"))
        .orderBy($"source")
    }),

    // Fixed-window chunking: 50-token chunks on a 40-token stride (10
    // tokens of overlap), the standard pre-tokenization shard prep.
    // Chunk starts explode from an in-row `sequence` — one narrow map
    // stage, no shuffle until the final presentation sort; chunk
    // identity is the md5 of the joined token window.
    "doc_chunks" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", toksCol.as("toks"))
        .filter(size($"toks") >= 1)
        .select($"doc_id", $"toks",
          explode(expr("sequence(0, size(toks) - 1, 40)")).as("start"))
        .select($"doc_id",
          ($"start" / 40).cast("long").as("chunk_id"),
          expr("size(slice(toks, start + 1, 50))").cast("long")
            .as("n_chunk_tokens"),
          md5(expr("array_join(slice(toks, start + 1, 50), ' ')")
            .cast("binary")).as("chunk_hash"))
        .orderBy($"doc_id", $"chunk_id")
    }),

    // Deterministic train/val/test split: the first md5 hex digit of the
    // doc id buckets 13/2/1 sixteenths into train/val/test. Content-
    // independent and reproducible across runs and engines — the split
    // Token-budget selection: take documents best-first (n_chars DESC,
    // doc_id ASC) until half the corpus' tokens are consumed — the
    // "best data under a training budget" curation op. The global
    // running sum is NOT a global window: docs bucket by a coarse range
    // key monotone in the order (n_chars div 50), bucket token totals
    // get their own tiny running sum (window over |buckets| rows, not
    // |docs|), and each doc adds a within-bucket running sum to its
    // bucket's higher-prefix — an exact global prefix sum from one
    // bucket-keyed shuffle plus two broadcasts. The oracle states the
    // same thing as a plain SQL running-sum window.
    "doc_token_budget" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
        .select($"doc_id", $"n_chars",
          size(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
            .cast("long").as("n_tokens"))
      val bucketed = docs.withColumn("b", expr("n_chars div 50"))
      // strictly-higher-bucket prefix: bucket b's docs all outrank bucket
      // b-1's (floor-div is monotone in n_chars), so cross-bucket order
      // never interleaves
      val wq = Window.orderBy($"b".desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val prefix = bucketed.groupBy($"b").agg(sum($"n_tokens").as("btok"))
        .withColumn("hprefix", coalesce(sum($"btok").over(wq), lit(0L)))
      val ww = Window.partitionBy($"b")
        .orderBy($"n_chars".desc, $"doc_id".asc)
      val total = docs.agg(
        floor(sum($"n_tokens") / 2).cast("long").as("budget"))
      bucketed.join(broadcast(prefix.select($"b", $"hprefix")), "b")
        .withColumn("cum", $"hprefix" + sum($"n_tokens").over(ww))
        .crossJoin(broadcast(total))
        .select($"doc_id", $"n_tokens", $"cum".as("cum_tokens"),
          ($"cum" <= $"budget").as("selected"))
        .orderBy($"doc_id")
    }),

    // of a doc never changes when other docs are added (critical for
    // incremental corpus builds).
    "doc_split" -> ((s, d) => {
      import s.implicits._
      val h = substring(md5($"doc_id".cast("string").cast("binary")), 1, 1)
      t(s, d, "documents")
        .select($"doc_id", $"n_chars",
          when(h.isin("d", "e"), "val")
            .when(h === "f", "test")
            .otherwise("train").as("split"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
        .orderBy($"split")
    }),

    // Within-doc repetition score (the Gopher/C4-style quality signal):
    // fraction of bigram mass taken by the single most-repeated bigram,
    // plus the distinct-bigram ratio. High max_ratio / low distinct
    // ratio flags boilerplate and degenerate repetition.
    "text_repetition" -> ((s, d) => {
      import s.implicits._
      val bg = t(s, d, "documents")
        .select($"doc_id", toksCol.as("toks"))
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(toks) - 1)," +
            " i -> element_at(toks, i) || ' ' || element_at(toks, i + 1))"))
          .as("bigram"))
      bg.groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("cnt"))
        .groupBy($"doc_id")
        .agg(sum($"cnt").as("n_bigrams"), max($"cnt").as("max_cnt"),
          count(lit(1)).as("n_distinct"))
        .select($"doc_id", $"n_bigrams",
          round($"max_cnt".cast("double") / $"n_bigrams", 4).as("max_ratio"),
          round($"n_distinct".cast("double") / $"n_bigrams", 4)
            .as("distinct_ratio"))
        .orderBy($"doc_id")
    }),

    // Sequence packing (concat-and-chunk): documents are concatenated in
    // (source, doc_id) order into fixed 512-token training sequences; a
    // doc belongs to the pack where its first token lands
    // (pack_id = prior_tokens div 512). The cumulative sum is windowed
    // PER SOURCE SHARD — the global-order variant would be a single
    // sort task at 100 TB, while per-shard packing keeps one window
    // partition per input shard and packs shards independently (exactly
    // how a sharded tokenizer run behaves).
    "doc_pack" -> ((s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      t(s, d, "documents")
        .select($"source", $"doc_id", toksCol.as("toks"))
        .select($"source", $"doc_id", size($"toks").cast("long").as("n_toks"))
        .withColumn("prior", coalesce(sum($"n_toks").over(w), lit(0L)))
        .withColumn("pack_id", ($"prior" / 512).cast("long"))
        .groupBy($"source", $"pack_id")
        .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
        .orderBy($"source", $"pack_id")
    }),

    // Greedy whole-doc sequence packing + padding accounting — the
    // OTHER packing regime every training pipeline weighs against
    // doc_pack's concat-and-chunk: documents are never split, each
    // 128-token sequence holds whole docs in (source, doc_id) order,
    // a doc that doesn't fit closes the bin (the padding cost), and
    // oversize docs (> 96 tokens) are routed to a long-sequence
    // bucket instead of a bin. The fold is inherently sequential per
    // source, so it runs as the MrPipeline discipline: hash-partition
    // by source, sort within partitions on (source, doc_id), ONE
    // linear mapPartitions pass holding O(1) state per open source —
    // no per-group buffering, scales to any docs-per-source. The
    // oracle replays the identical fold as a per-source recursive CTE
    // (the sim_kcenter_init pattern). All outputs are exact integers
    // except pad_ratio (one divide of exact integers, ≥ 0).
    "doc_pack_greedy" -> ((s, d) => {
      import s.implicits._
      val folded = t(s, d, "documents")
        .select($"source", $"doc_id", size(toksCol).cast("long").as("tk"))
        .repartition($"source")
        .sortWithinPartitions($"source", $"doc_id")
        .as[(String, Long, Long)]
        .mapPartitions { it =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Long)]
          var cur: String = null
          var n = 0L; var ov = 0L; var bins = 0L; var pad = 0L
          var fill = 0L
          def close(): Unit = if (cur != null) {
            if (fill > 0) { pad += 128 - fill; bins += 1 }
            out += ((cur, n, ov, bins, pad))
          }
          it.foreach { case (src, _, tk) =>
            if (src != cur) {
              close(); cur = src; n = 0; ov = 0; bins = 0; pad = 0
              fill = 0
            }
            n += 1
            if (tk > 96) ov += 1
            else if (fill + tk <= 128) fill += tk
            else { pad += 128 - fill; bins += 1; fill = tk }
          }
          close()
          out.iterator
        }
        .toDF("source", "n_docs", "n_oversize", "bins_used",
          "padding_tokens")
      folded.select($"source", $"n_docs", $"n_oversize", $"bins_used",
          $"padding_tokens",
          when($"bins_used" === 0L, lit(null).cast("double")).otherwise(
            round($"padding_tokens".cast("double") /
              ($"bins_used" * 128), 4)).as("pad_ratio"))
        .orderBy($"source")
    }),

    // Tokenizer-consistent packing (r14 verdict ask #4): doc_pack's
    // concat-and-chunk fold with the PERSISTED BPE artifact
    // (engine.BpeStore, the write-once TextAnalysis.bpeFixture) as
    // the token currency — real pipelines budget sequences by
    // tokenizer tokens, and whitespace counts understate them by the
    // fertility factor. Both the BPE and whitespace cumsums ride ONE
    // (source, doc_id) sort/exchange (the doc_pack window-reuse
    // discipline). Oracle split (the BPE precedent): n_docs /
    // ws_tokens / n_cps / n_packs_ws are tokenizer-independent and
    // recomputed exactly; the BPE-valued results ride invariant
    // contract booleans — encode never emits fewer tokens than words
    // nor more than code points (bpe_bounds_ok), and the distinct
    // pack count stays within [1, n_docs] (packs_bounded, docs are
    // never split). EXACT pack arithmetic under a known merge table
    // is pinned by PipelineInvariantsSpec on a hand-built corpus.
    // Shapes at 100 TB: one distributed encode pass (ranks in the
    // task closure), one per-source window, one agg — no pair work.
    "doc_pack_bpe" -> ((s, d) => {
      import s.implicits._
      if (t(s, d, "documents").head(1).isEmpty)
        Seq.empty[(String, Long, Long, Long, Long, Boolean, Boolean)]
          .toDF("source", "n_docs", "ws_tokens", "n_cps", "n_packs_ws",
            "bpe_bounds_ok", "packs_bounded")
      else {
        val ranks = graft.engine.BpeStore
          .loadRanks(s, TextAnalysis.bpeFixture(s, d))
        bpePackCounts(s, t(s, d, "documents"), ranks)
          .select($"source", $"n_docs", $"ws_tokens", $"n_cps",
            $"n_packs_ws",
            ($"bpe_tokens" >= $"ws_tokens" && $"bpe_tokens" <= $"n_cps")
              .as("bpe_bounds_ok"),
            ($"n_packs_bpe" >= 1L && $"n_packs_bpe" <= $"n_docs")
              .as("packs_bounded"))
          .orderBy($"source")
      }
    }),

    // Packing efficiency in the tokenizer's OWN currency (r15 verdict
    // ask #6) — the twin of doc_pack_efficiency that quantifies what
    // budgeting in whitespace tokens actually wastes once sequences
    // are billed in BPE tokens. Exact cross-engine BPE token counts
    // don't exist (the tokenizer is corpus-fit; the BPE/MG precedent),
    // so the row quantifies the ENVELOPE exactly and pins the engine's
    // BPE packing inside it by provable contract: the ws-currency and
    // code-point-currency 512-packings both replay exactly (one shared
    // windowed fold, three cumsums), and since per doc
    // ws <= bpe <= cps, any tokenizer's fill pressure lives between
    // ws_fill and cps_fill — the published band IS the budget-waste
    // quantification (at sf0.01, cps pressure runs ~5-6x ws pressure:
    // a 512-ws-token budget under-fills BPE-billed sequences by that
    // envelope). The booleans are provable invariants of the engine's
    // actual BPE packing, not tautologies: no pack is empty
    // ((n_packs-1)·512 < bpe_tokens — each pack id is some doc's
    // first-token slot), and the pack count cannot exceed the
    // code-point ceiling (n_packs_bpe <= n_cps div 512 + 1, from
    // bpe_tokens <= n_cps). Fertility drift between fit and corpus is
    // the adjacent text_bpe_fertility_drift row; the per-currency pack
    // counts ride ONE shared fold with doc_pack_bpe.
    "doc_pack_bpe_efficiency" -> ((s, d) => {
      import s.implicits._
      if (t(s, d, "documents").head(1).isEmpty)
        Seq.empty[(String, Long, Long, Long, Long, Boolean, Boolean)]
          .toDF("source", "n_packs_ws", "ws_fill_e4", "n_packs_cps",
            "cps_fill_e4", "bpe_packs_nonempty", "bpe_in_envelope")
      else {
        val ranks = graft.engine.BpeStore
          .loadRanks(s, TextAnalysis.bpeFixture(s, d))
        bpePackCounts(s, t(s, d, "documents"), ranks)
          .select($"source", $"n_packs_ws",
            expr("ws_tokens * 10000 div (512 * n_packs_ws)")
              .as("ws_fill_e4"),
            $"n_packs_cps",
            expr("n_cps * 10000 div (512 * n_packs_cps)")
              .as("cps_fill_e4"),
            (($"n_packs_bpe" - 1) * 512 < $"bpe_tokens")
              .as("bpe_packs_nonempty"),
            ($"n_packs_bpe" >= 1L &&
              $"n_packs_bpe" <= expr("n_cps div 512 + 1"))
              .as("bpe_in_envelope"))
          .orderBy($"source")
      }
    }),

    // Corpus bigram language model scored over its own documents: the
    // per-doc mean log2 of the corpus-wide conditional bigram
    // probability c(w1 w2)/c(w1 ·). Degenerate/boilerplate docs score
    // high (their bigrams dominate the corpus), rare-construction docs
    // score low — the classic cheap LM-quality signal. Counts are exact
    // integers via two 2-phase aggs; docs join the model on 8-byte
    // xxhash64 keys so the shuffle carries no shingle strings. The
    // hashed bigram stream feeds THREE consumers (the doc stream and
    // both count aggs) — without a barrier the scan + regex tokenize +
    // explode runs three times (`graft.Profile`'s executed plan: AQE
    // does not merge the differently-keyed subtrees), so it is
    // materialized once via eager localCheckpoint — the tokenize-once
    // discipline any real corpus pipeline uses; 24 bytes/bigram.
    "text_bigram_lm" -> ((s, d) => lmScoresShared(s, d)),

    // CCNet-style perplexity tiering: rank every scored doc by its
    // corpus-LM score (best = rank 1) and cut the corpus into
    // head/middle/tail thirds — the curation split CCNet feeds to
    // training-mix decisions. Rides the shared LM table; the rank
    // stage lives in perplexityTiers below.
    "text_perplexity_tiers" -> ((s, d) => perplexityTiers(lmScoresShared(s, d))),

    // Boilerplate detection (C4-style): split each doc into
    // non-overlapping 10-token units, count how many DISTINCT docs each
    // exact unit appears in corpus-wide, and report per doc the
    // fraction of its units shared with at least one other doc. The
    // unit table is (md5, doc) pairs — state bounded by corpus token
    // count, two-phase aggs throughout.
    "text_boilerplate" -> ((s, d) => {
      import s.implicits._
      val units = t(s, d, "documents")
        .select($"doc_id", toksCol.as("toks"))
        .filter(size($"toks") >= 10)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(toks) - 9, 10)," +
            " i -> array_join(slice(toks, i, 10), ' '))")).as("unit"))
        .select($"doc_id", md5($"unit".cast("binary")).as("h"))
      // ONE tokenize+md5 pass (r17, the doc_chunk_containment
      // restructure): the r16 form evaluated `units` twice — once
      // under the distinct+spread agg and once as the corpus-scale
      // join side keyed on h (different exchange keys, so
      // ReuseExchange could not merge them). The (h, doc_id)
      // pre-aggregation replaces both: n_docs_with = rows per h over
      // that frame (the group key dedupes — exactly the old
      // distinct+count), and per-doc unit counts reconstruct exactly
      // from the per-(h, doc) instance counts.
      import org.apache.spark.sql.expressions.Window
      units.groupBy($"h", $"doc_id").agg(count(lit(1)).as("cnt"))
        .withColumn("n_docs_with",
          count(lit(1)).over(Window.partitionBy($"h")))
        .groupBy($"doc_id")
        .agg(sum($"cnt").as("n_units"),
          sum(when($"n_docs_with" >= 2, $"cnt").otherwise(0L))
            .as("n_boiler"))
        .select($"doc_id", $"n_units", $"n_boiler",
          round($"n_boiler".cast("double") / $"n_units", 4).as("boiler_ratio"))
        .orderBy($"doc_id")
    }),

    // PII scrubbing: count and redact emails/phone numbers. The fixture
    // corpus is PII-free word soup, so the op would be vacuously zero on
    // it — a deterministic doc_id-keyed suffix injects synthetic PII
    // into 1-in-7 (email) and 1-in-11 (phone) docs so the regexes, the
    // counts, and the redaction length delta are all genuinely
    // exercised. Pure per-row map — no shuffle until the final sort.
    "text_pii_scrub" -> ((s, d) => {
      import s.implicits._
      val withPii = t(s, d, "documents")
        .withColumn("t2", concat($"text",
          when($"doc_id" % 7 === 0,
            concat(lit(" reach me at user"), $"doc_id", lit("@example.com")))
            .otherwise(lit("")),
          when($"doc_id" % 11 === 0, lit(" or call 555-867-5309"))
            .otherwise(lit(""))))
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
      withPii
        .select($"doc_id",
          regexp_count($"t2", lit(email)).cast("long").as("n_emails"),
          regexp_count($"t2", lit(phone)).cast("long").as("n_phones"),
          length($"t2").cast("long").as("len_raw"),
          length(regexp_replace(regexp_replace($"t2", email, "<EMAIL>"),
            phone, "<PHONE>")).cast("long").as("len_scrubbed"))
        .orderBy($"doc_id")
    }),

    // Shard manifests with ADDITIVE content checksums (the reference
    // verifies every chunk transfer with md5, SURVEY §2.2 M10 — this is
    // that integrity surface as a scale-correct query): per source
    // shard, doc count, byte mass, and the SUM of a 32-bit md5 window
    // per doc id. Addition is commutative, so the checksum is
    // order-independent with O(1) aggregation state — a concatenated
    // id-list digest would need the whole shard sorted in memory.
    // Detects any lost/duplicated/substituted doc across a copy.
    "doc_manifest" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"source", $"n_chars", expr(
          "cast(conv(substring(md5(cast(cast(doc_id as string) as binary))," +
            " 1, 8), 16, 10) as bigint)").as("h32"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"),
          sum($"h32").as("checksum"))
        .orderBy($"source")
    }),

    // Upsert/MERGE classification — the CDC step of an incremental
    // corpus build, expressed relationally (no table format needed): a
    // deterministic change batch (updates for doc_id%5, no-op echoes
    // for doc_id%3, fresh ids for doc_id%17) FULL OUTER JOINs the
    // target on doc_id and every row is classified
    // inserted/updated/unchanged/retained; the rollup reports doc and
    // final-char mass per action. The join is the scale shape of MERGE
    // INTO: one equi-shuffle on the key (broadcast if the batch is
    // small), classification is a pure projection, and the same plan
    // writes the merged snapshot if the aggregate is replaced by a
    // sink.
    "doc_upsert" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val batch = docs.filter($"doc_id" % 5 === 0)
          .select($"doc_id", concat($"text", lit(" v2")).as("text"))
        .unionAll(docs.filter($"doc_id" % 3 === 0 && $"doc_id" % 5 =!= 0)
          .select($"doc_id", $"text"))
        .unionAll(docs.filter($"doc_id" % 17 === 0)
          .select(($"doc_id" + 10000000L).as("doc_id"), $"text"))
      docs.as("t").join(batch.as("b"), Seq("doc_id"), "full_outer")
        .select(
          when($"t.text".isNull, "inserted")
            .when($"b.text".isNull, "retained")
            .when($"b.text" === $"t.text", "unchanged")
            .otherwise("updated").as("action"),
          length(coalesce($"b.text", $"t.text")).cast("long").as("chars"))
        .groupBy($"action")
        .agg(count(lit(1)).as("n_docs"), sum($"chars").as("total_chars"))
        .orderBy($"action")
    }),

    // Deterministic global training-order shuffle: every doc gets a
    // pseudorandom shard (md5 window % 32) and a within-shard position
    // (rank by hash) — the classic shuffle-then-sort-within-shard
    // layout (`repartitionAndSortWithinPartitions` semantics expressed
    // relationally: one hash shuffle + per-shard sort, never a global
    // order). Re-running over the same corpus reproduces the identical
    // permutation on any cluster size — the property a resumable
    // training run needs. The output folds each shard's full order
    // into an order-SENSITIVE checksum (sum of pos × hash-residue), so
    // the oracle pins the permutation itself, not just membership.
    "doc_shuffle" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val h = t(s, d, "documents").select($"doc_id", expr(
        "cast(conv(substring(md5(cast(cast(doc_id as string) as binary))," +
          " 1, 8), 16, 10) as bigint)").as("h32"))
      val w = Window.partitionBy($"shard").orderBy($"h32", $"doc_id")
      h.withColumn("shard", $"h32" % 32)
        .withColumn("pos", row_number().over(w))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"),
          sum($"pos" * ($"h32" % 1000003)).as("ord_checksum"))
        .orderBy($"shard")
    }),

    // Exact stratified sampling — k docs per stratum (source), the
    // audit/eval-set draw every curation pipeline needs ("give me 10
    // uniform-random docs from each source"). Deterministic: rank
    // within stratum by (md5 hash, doc_id) and keep rank <= k, so the
    // same corpus yields the same sample on any cluster. The
    // rank<=k-over-window shape is exactly what the TopKPerKey
    // extension plans as a map-side partial top-k per stratum
    // (TopKPlanSpec pins this query's EXECUTED plan, so a silent
    // decline to full WindowExec fails the build) — no
    // stratum ever sorts more than k rows per partition, so a stratum
    // with a billion docs costs the same shuffle as one with a
    // thousand (vs. sampleBy, which is probabilistic and cannot
    // promise exactly k).
    "doc_sample_stratified" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val h = t(s, d, "documents").select($"source", $"doc_id", expr(
        "cast(conv(substring(md5(cast(cast(doc_id as string) as binary))," +
          " 1, 8), 16, 10) as bigint)").as("h32"))
      val w = Window.partitionBy($"source").orderBy($"h32", $"doc_id")
      h.withColumn("pos", row_number().over(w))
        .filter($"pos" <= 10)
        .select($"source", $"pos".cast("long").as("pos"), $"doc_id")
        .orderBy($"source", $"pos")
    }),

    // Weighted sampling without replacement — systematic PPS
    // (probability proportional to size): lay the docs out on a line
    // segment of total weight W in a fixed order, stamp k equally
    // spaced marks (step = W div k), and a doc is drawn once per mark
    // inside its [cum-w, cum) span — docs heavier than the step can be
    // drawn multiple times (n_copies), exactly like epoch-weighted
    // mixture sampling. Integer-exact throughout (no transcendental
    // keys to disagree across engines, unlike Efraimidis-Spirakis).
    // The running sum deliberately avoids ONE global window: docs are
    // bucketed by n_chars div 50 (floor-div is monotone, so
    // cross-bucket order never interleaves), the per-bucket subtotal
    // prefix broadcasts, and the within-bucket cumsum runs partitioned
    // — the same two-level design as doc_token_budget.
    "doc_sample_weighted" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").select($"doc_id", $"n_chars")
      val bucketed = docs.withColumn("b", expr("n_chars div 50"))
      val wq = Window.orderBy($"b".desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val prefix = bucketed.groupBy($"b").agg(sum($"n_chars").as("bw"))
        .withColumn("hprefix", coalesce(sum($"bw").over(wq), lit(0L)))
      val ww = Window.partitionBy($"b")
        .orderBy($"n_chars".desc, $"doc_id".asc)
      val total = docs.agg(expr("sum(n_chars) div 50").as("step"))
      bucketed.join(broadcast(prefix.select($"b", $"hprefix")), "b")
        .withColumn("cum", $"hprefix" + sum($"n_chars").over(ww))
        .crossJoin(broadcast(total))
        .select($"doc_id", $"n_chars",
          expr("cum div step - (cum - n_chars) div step").as("n_copies"))
        .filter($"n_copies" > 0)
        .orderBy($"doc_id")
    }),

    // Weighted multi-source mixture sampling — the training-mix step
    // that turns N raw sources into one corpus with per-source epoch
    // counts (w > 1 oversamples by whole-doc repetition, w < 1
    // downsamples): n_copies = floor(w) + 1{hash_frac < frac(w)}. The
    // weight here is a deterministic function of the source name (md5
    // digit % 5 → 0.5..2.5) so the oracle can reproduce it; a real run
    // would broadcast-join a tiny weights table, same plan. Selection
    // is a stateless per-row hash — no shuffle before the per-source
    // rollup, and any executor can re-derive a lost partition (the
    // repetition is exploded downstream, never materialized here).
    // hash_frac is a 28-bit md5 window / 2^28: exact in a double, and
    // compared strictly against frac(w) ∈ {0, .5}, so both engines
    // make bit-identical keep/drop decisions.
    "doc_mixture" -> ((s, d) => {
      import s.implicits._
      val wt = (lit(1) + expr(
        "cast(conv(substring(md5(cast(source as binary)), 1, 1), 16, 10)" +
          " as int) % 5")) / 2.0
      val hfrac = expr(
        "cast(conv(substring(md5(cast(cast(doc_id as string) as binary))," +
          " 9, 7), 16, 10) as double) / 268435456.0")
      t(s, d, "documents")
        .select($"doc_id", $"source", $"n_chars", wt.as("w"), hfrac.as("hf"))
        .withColumn("n_copies",
          (floor($"w") + when($"hf" < $"w" - floor($"w"), 1).otherwise(0))
            .cast("long"))
        .groupBy($"source")
        .agg(round(max($"w"), 1).as("weight"),
          count(lit(1)).as("n_docs"),
          sum($"n_copies").as("n_examples"),
          sum($"n_copies" * $"n_chars").as("n_chars_out"))
        .orderBy($"source")
    }),

    // The corpus-build composition: exact-dedup (keep lowest doc_id per
    // content hash) → quality gate (token count and distinct-token
    // ratio) → deterministic split assignment — three pipeline stages
    // fused into one declared query, reporting corpus size per split
    // plus what each stage dropped. Each stage is a shuffle-bounded
    // map/agg; fusing them costs nothing extra (Catalyst pipelines the
    // narrow stages between the two shuffles).
    "doc_pipeline_summary" -> ((s, d) => {
      import s.implicits._
      val base = t(s, d, "documents")
        .select($"doc_id", md5($"text".cast("binary")).as("h"),
          toksCol.as("toks"))
        .select($"doc_id", $"h", size($"toks").cast("long").as("n_toks"),
          size(array_distinct($"toks")).cast("long").as("n_distinct"))
      val keeper = base.groupBy($"h").agg(min($"doc_id").as("keep_id"))
      val deduped = base.join(keeper,
        base("h") === keeper("h") && base("doc_id") === keeper("keep_id"))
        .select($"doc_id", $"n_toks", $"n_distinct")
      val passed = deduped
        .filter($"n_toks" >= 10 &&
          $"n_distinct" * 5 >= $"n_toks") // distinct ratio ≥ 0.2, integer-exact
      val hex = substring(md5($"doc_id".cast("string").cast("binary")), 1, 1)
      passed
        .select($"doc_id", $"n_toks",
          when(hex.isin("d", "e"), "val")
            .when(hex === "f", "test")
            .otherwise("train").as("split"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"))
        .orderBy($"split")
    }),

    // Decontamination containment: for doc pairs sharing ≥1 word-5-gram,
    // the DIRECTIONAL overlap |A∩B|/|A| (a benchmark document "leaks"
    // into training data when most of ITS shingles appear in a training
    // doc, regardless of the training doc's size — Jaccard misses
    // small-into-large containment). Pairs kept when either side is
    // ≥half contained, tested as exact integer cross-multiplication
    // (2·shared ≥ n) so the boundary is engine-independent. Same
    // shingle-equi-join scale shape as dedup_jaccard_pairs: no O(n²).
    "dedup_containment" -> ((s, d) => {
      import s.implicits._
      // the hashed 5-shingle table is the shared materialized index
      // (identical tokenization; also read by dedup_jaccard_pairs)
      val sh = Dedup.shingles5Shared(s, d)
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      sh.as("a").join(sh.as("b"),
          $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
        .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
        .filter($"shared" * 2 >= $"na" || $"shared" * 2 >= $"nb")
        .select($"doc_a", $"doc_b", $"shared",
          round($"shared".cast("double") / $"na", 4).as("cont_a"),
          round($"shared".cast("double") / $"nb", 4).as("cont_b"))
        .orderBy($"doc_a", $"doc_b")
    }),

    // Paragraph-level exact dedup (the Dolma/RefinedWeb sub-document
    // pass): the unit is a non-overlapping 20-token block, hashed with
    // md5; a block is a duplicate when the same hash occurred at an
    // earlier (doc_id, offset) anywhere in the corpus, and only the
    // first occurrence is kept. "First" is min(struct(doc_id, start))
    // — lexicographic struct min, identical semantics in both engines
    // and exact at ANY doc_id (an integer packing like doc_id·1e6+start
    // silently corrupts the policy once ids or offsets outgrow the
    // factor — the ADVICE r7 hole). Shapes: one narrow explode, a
    // 2-phase min per hash, an equi-join back on the hash, a per-doc
    // agg — every stage shuffle-bounded on a key, nothing quadratic, so
    // a corpus where 30% of blocks are shared boilerplate dedups at
    // scan cost.
    "doc_dedup_paragraphs" -> ((s, d) => {
      import s.implicits._
      val blocks = t(s, d, "documents")
        .select($"doc_id", toksCol.as("toks"))
        .filter(size($"toks") >= 1)
        .select($"doc_id",
          explode(expr("sequence(0, size(toks) - 1, 20)")).as("start"), $"toks")
        .select($"doc_id", $"start",
          expr("size(slice(toks, start + 1, 20))").cast("long").as("n_toks"),
          md5(expr("array_join(slice(toks, start + 1, 20), ' ')")
            .cast("binary")).as("h"))
      // ONE tokenize+md5 pass (r17): the r16 form evaluated `blocks`
      // twice — under the min-per-hash agg and as the join side (the
      // partial-agg exchange and the raw-row exchange differ, so
      // ReuseExchange could not merge them). The same h-keyed exchange
      // now feeds a per-hash window min — identical lexicographic
      // struct-min semantics, no join-back, half the scans.
      import org.apache.spark.sql.expressions.Window
      blocks
        .withColumn("fo", min(struct($"doc_id", $"start"))
          .over(Window.partitionBy($"h")))
        .withColumn("is_first",
          struct($"doc_id", $"start") === $"fo")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(!$"is_first", 1L).otherwise(0L)).as("n_dup_blocks"),
          sum(when($"is_first", $"n_toks").otherwise(0L))
            .as("kept_tokens"))
        .select($"doc_id", $"n_blocks", $"n_dup_blocks", $"kept_tokens",
          round($"n_dup_blocks".cast("double") / $"n_blocks", 4).as("dup_ratio"))
        .orderBy($"doc_id")
    }),

    // Epoch-allocation planner under a token budget — the
    // data-constrained-scaling decision table (Muennighoff et al. 2023,
    // "Scaling Data-Constrained Language Models": repeating data beyond
    // ~4 epochs returns ~nothing, so cap per-source epochs at 4 and
    // water-fill a global budget across sources by quality weight):
    // epochs_i = min(4, m·w_i) with one global multiplier m solved so
    // Σ tokens_i·epochs_i = B (here B = 3× corpus tokens — high enough
    // that the heaviest-weight sources actually hit the cap and the
    // budget redistributes; w_i is the
    // deterministic per-source weight shared with doc_mixture's idiom).
    // The solve is CLOSED-FORM, not iterative: sources sorted by weight
    // descending cap in prefix order, so for each candidate capped-
    // prefix k, m_k = (B − 4·Σ_{i≤k}tok_i) / Σ_{i>k}tok_i·w_i, and
    // exactly one k passes the two boundary checks (source k capped,
    // source k+1 not). Everything is integer arithmetic — cumsums,
    // the e6 fixed-point m (DECIMAL-widened numerator, floor division
    // in BOTH engines), the cap comparisons — so the plan is
    // bit-identical across engines; the two reported ratios are final
    // float divides. Scale shape: one corpus scan folds to a
    // source-keyed agg; every window runs over the bounded source
    // alphabet (the doc_sample_unimax discipline), and the chosen
    // (k, m) is a 1-row broadcast back onto that same bounded table.
    "doc_epoch_plan" -> ((s, d) => {
      import s.implicits._
      epochPlanFrame(s, d)
        .select($"source", $"tok".as("n_tokens"),
          round($"w_e4".cast("double") / 1e4, 4).as("weight"),
          round($"ep".cast("double") / 1e10, 4).as("epochs"),
          round($"tok".cast("double") * ($"ep".cast("double") / 1e10), 2)
            .as("alloc_tokens"),
          when($"ep" === 40000000000L, 1L).otherwise(0L).as("capped"))
        .orderBy($"source")
    }),

    // Materialize the epoch plan into a per-doc repeat manifest — the
    // step between planning and the training dataloader: a source with
    // epochs = 2.79 repeats every doc twice and a deterministic 79% of
    // docs a third time (doc_mixture's hash-fraction residual, here in
    // pure INTEGER e10 fixed-point so both engines pick the identical
    // doc subset). Expected Σ n_copies·doc_tokens = the planner's
    // per-source allocation. One doc-level projection + one broadcast
    // join onto the bounded plan table — the corpus never shuffles.
    "doc_epoch_expand" -> ((s, d) => {
      import s.implicits._
      val plan = epochPlanFrame(s, d).select($"source", $"ep")
      t(s, d, "documents")
        .select($"doc_id", $"source",
          // md5 chars 9-15 as a 28-bit fraction, scaled to e10 ticks
          expr("(cast(conv(substring(md5(cast(cast(doc_id as string)" +
            " as binary)), 9, 7), 16, 10) as bigint) * 10000000000)" +
            " div 268435456").as("hf_e10"))
        .join(broadcast(plan), "source")
        .select($"doc_id", $"source",
          expr("ep div 10000000000").as("full_copies"),
          (expr("ep div 10000000000") +
            when($"hf_e10" < $"ep" % 10000000000L, 1L).otherwise(0L))
            .as("n_copies"))
        .orderBy($"doc_id")
    }),

    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score each raw doc by
    // the log-likelihood ratio of a hashed bag-of-unigrams model of a
    // TARGET distribution (here the lang='en' slice stands in for the
    // curated target set) against the model of the raw corpus. Tokens
    // hash into 64 md5 buckets. The tokenize+hash explode — the
    // expensive stage — runs ONCE: the per-(doc, bucket) count table it
    // folds into is materialized (eager localCheckpoint, the same
    // tokenize-once discipline as the bigram LM) and feeds BOTH the
    // 64-row model build and the scoring agg; both model frames (counts
    // + totals, Laplace +1) broadcast, so scoring 100 TB is two compact
    // aggs over a table bounded by docs×64, never a second corpus scan.
    // The per-doc score sum(cnt·llr)/sum(cnt) (= the mean token LLR)
    // runs over ≤64 fixed bucket terms — tighter cross-engine float
    // discipline than a per-token average, rounded to 4 as usual.
    "doc_dsir_weights" -> ((s, d) =>
      dsirScoresShared(s, d).orderBy(col("doc_id"))),

    // DSIR selection — the resampling half that doc_dsir_weights only
    // scores: materialize the top-100 importance-ranked training
    // subset (score desc, doc_id ties) with its source composition
    // attached, the artifact a mixture planner actually consumes. The
    // global cut is TakeOrderedAndProject (orderBy+limit — the ONLY
    // scale-safe global top-k; no global rank window ever touches the
    // corpus), and the published rank is a window over the ALREADY
    // CUT k rows (bounded by k = 100 at any corpus size).
    "doc_dsir_select" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val scores = dsirScoresShared(s, d)
        .select($"doc_id", $"dsir_score")
      val src = t(s, d, "documents").select($"doc_id", $"source")
      scores.join(src, "doc_id")
        .orderBy($"dsir_score".desc, $"doc_id".asc)
        .limit(100)
        .withColumn("rank", row_number().over(
          Window.orderBy($"dsir_score".desc, $"doc_id".asc)).cast("long"))
        .select($"rank", $"doc_id", $"source", $"dsir_score")
        .orderBy($"rank")
    }),

    // Context-gain ("learnability") scoring — the cheap corpus-LM proxy
    // for RHO-style data selection (Mindermann et al. 2022 select by
    // the gap between two models' losses; here the two "models" are the
    // corpus bigram LM and the corpus unigram LM, both already implied
    // by the text_bigram_lm build): per doc, the mean over bigram
    // positions of log2(c(w1 w2)/c(w1 ·)) − log2(c(· w2)/N) — how much
    // knowing the previous token improves the prediction. Low gain =
    // memorized/boilerplate-ish text; high gain = structured prose.
    // Float discipline is the DSIR fixed-point pattern: each position's
    // term quantizes to an e6 BIGINT (both engines round the SAME
    // per-pair double — c2/c1/cu/N are integers, so the term value is
    // identical), the per-doc sum is an exact integer, and one float
    // divide + round(4) remains. One token explode feeds the stream;
    // the three count aggs and the scoring agg are all keyed shuffles
    // over compact hashes — the same one-scan shape as the bigram LM.
    "text_learnability" -> ((s, d) => {
      import s.implicits._
      val bg = t(s, d, "documents")
        .select($"doc_id", toksCol.as("toks"))
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(toks) - 1)," +
            " i -> struct(element_at(toks, i) AS w1," +
            " element_at(toks, i + 1) AS w2," +
            " element_at(toks, i) || ' ' || element_at(toks, i + 1) AS bg))"))
          .as("p"))
        .select($"doc_id", xxhash64($"p.w1").as("w1"),
          xxhash64($"p.w2").as("w2"), xxhash64($"p.bg").as("bg"))
        .localCheckpoint()
      val c2 = bg.groupBy($"bg").agg(count(lit(1)).as("c2"))
      val c1 = bg.groupBy($"w1").agg(count(lit(1)).as("c1"))
      val cu = bg.groupBy($"w2").agg(count(lit(1)).as("cu"))
      val n = bg.agg(count(lit(1)).as("nn"))
      bg.join(c2, "bg").join(c1, "w1").join(cu, "w2")
        .crossJoin(broadcast(n))
        .select($"doc_id", expr(
          "cast(round((log2(cast(c2 as double) / c1) - " +
            "log2(cast(cu as double) / nn)) * 1e6) as bigint)").as("t_e6"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum($"t_e6").cast("double") / (count(lit(1)) * 1e6), 4)
            .as("learn_score"))
        .orderBy($"doc_id")
    }),

    // Leakage-safe splitting: doc_split keys the train/val/test draw on
    // doc_id, so two byte-identical copies under different ids can land
    // in different splits — the classic train→eval leak. Here the draw
    // keys on the CONTENT group (md5(text) → canonical = min doc_id →
    // same md5-hex-char rule), so every copy of the same content rides
    // one split. Shapes at 100 TB: one content-hash groupBy (the
    // dedup_exact shuffle) then a 3-row re-agg — the text never
    // shuffles, only 16-byte hashes and counters do.
    "doc_split_safe" -> ((s, d) => {
      import s.implicits._
      val groups = t(s, d, "documents")
        .groupBy(md5($"text".cast("binary")).as("fp"))
        .agg(min($"doc_id").as("canon"), count(lit(1)).as("n_copies"),
          sum($"n_chars").as("g_chars"))
      val h = substring(md5($"canon".cast("string").cast("binary")), 1, 1)
      groups
        .select(when(h.isin("d", "e"), "val").when(h === "f", "test")
          .otherwise("train").as("split"), $"n_copies", $"g_chars")
        .groupBy($"split")
        .agg(count(lit(1)).as("n_groups"), sum($"n_copies").as("n_docs"),
          sum($"g_chars").as("total_chars"))
        .orderBy($"split")
    }),

    // Corpus snapshot diff (incremental-refresh accounting): compare
    // version 1 (documents) against a derived version 2 — docs with
    // doc_id % 17 = 3 dropped, docs with doc_id % 13 = 5 re-crawled
    // with edited text (upper()), docs with doc_id % 11 = 0 re-ingested
    // under fresh ids — and classify every id as added / removed /
    // changed / unchanged by CONTENT HASH, never by text equality.
    // Shapes at 100 TB: each side reduces to (doc_id, 16-byte fp)
    // before the full-outer join, so the join shuffles ids + hashes
    // only; the per-status rollup is a 4-row agg. In production v2 is
    // a second snapshot directory — the derived view here exists so
    // the oracle can state the same diff.
    "doc_delta" -> ((s, d) => {
      import s.implicits._
      val v1 = t(s, d, "documents")
        .select($"doc_id", md5($"text".cast("binary")).as("fp1"))
      val base = t(s, d, "documents")
      val kept = base.filter($"doc_id" % 17 =!= 3)
        .select($"doc_id",
          when($"doc_id" % 13 === 5, md5(upper($"text").cast("binary")))
            .otherwise(md5($"text".cast("binary"))).as("fp2"))
      val added = base.filter($"doc_id" % 11 === 0)
        .select(($"doc_id" + 5000000L).as("doc_id"),
          md5($"text".cast("binary")).as("fp2"))
      v1.join(kept.unionAll(added), Seq("doc_id"), "full_outer")
        .select($"doc_id",
          when($"fp2".isNull, "removed")
            .when($"fp1".isNull, "added")
            .when($"fp1" =!= $"fp2", "changed")
            .otherwise("unchanged").as("status"))
        .groupBy($"status")
        .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("id_checksum"))
        .orderBy($"status")
    }),

    // Packing-efficiency histogram — the shard-build QC metric next to
    // doc_pack: bucket every training pack by its fill (tokens per
    // 512-token target, integer-decile buckets so both engines cut
    // identically) and count packs per bucket. Middle packs hover at
    // the target (a doc spans pack boundaries), per-source tail packs
    // underfill — the histogram quantifies exactly how much budget the
    // packing wastes. Composes the declared doc_pack stage; the rollup
    // adds one bounded agg.
    "doc_pack_efficiency" -> ((s, d) => {
      import s.implicits._
      queries("doc_pack")(s, d)
        .withColumn("bucket", expr("(n_tokens * 10) div 512"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_packs"), sum($"n_tokens").as("tokens"),
          sum($"n_docs").as("docs"))
        .select($"bucket", $"n_packs", $"tokens", $"docs",
          round($"tokens".cast("double") / ($"n_packs" * 512), 4)
            .as("avg_fill"))
        .orderBy($"bucket")
    }),

    // Cross-source contamination matrix — the provider-overlap audit a
    // corpus intake runs when the same crawl shows up under several
    // vendors: for every source pair, how many DISTINCT 8-grams they
    // share, normalized by the smaller side (containment, so a small
    // feed wholly embedded in a big one scores 1.0). Shapes at 100 TB:
    // one gram explode → (source, hash) distinct → a gram-hash-keyed
    // self-equi-join (a hot gram shared by all S sources costs C(S,2)
    // pairs — bounded by the source alphabet, not the corpus) → a
    // ≤C(S,2)-row agg. Grams hash via xxhash64 WITHIN the engine; the
    // oracle joins raw strings — only counts must agree (the
    // decontamination precedent).
    "text_source_overlap" -> ((s, d) => {
      import s.implicits._
      // ONE gram-keyed exchange instead of distinct + self-join (r16
      // optimization, guide §2.3/2.4): the per-gram source set is
      // bounded by the source alphabet, so collect_set folds the
      // (source, gram) occurrences map-side and the a<b pairs explode
      // IN-ROW from the sorted set — the old plan shuffled the distinct
      // gram table twice more to feed the g-keyed self-join. array_sort
      // uses the same binary UTF8 ordering as the old `a.source <
      // b.source` predicate, so the pair set is identical.
      val gsets = graft.engine.Layout.fanOut(s, t(s, d, "documents")
          .select($"source", $"text"))
        .select($"source", toksCol.as("toks"))
        .filter(size($"toks") >= 8)
        .select($"source", explode(expr(
          "transform(sequence(1, size(toks) - 7)," +
            " i -> xxhash64(array_join(slice(toks, i, 8), ' ')))")).as("g"))
        .groupBy($"g").agg(sort_array(collect_set($"source")).as("ss"))
      val sizes = gsets.select(explode($"ss").as("source"))
        .groupBy($"source").agg(count(lit(1)).as("n"))
      gsets.filter(size($"ss") >= 2)
        .select(explode(expr(
          "flatten(transform(ss, (x, i) -> transform(slice(ss, i + 2," +
            " size(ss)), y -> struct(x AS a, y AS b))))")).as("p"))
        .groupBy($"p.a".as("src_a"), $"p.b".as("src_b"))
        .agg(count(lit(1)).as("shared_grams"))
        .join(broadcast(sizes.select($"source".as("src_a"), $"n".as("na"))),
          "src_a")
        .join(broadcast(sizes.select($"source".as("src_b"), $"n".as("nb"))),
          "src_b")
        .select($"src_a", $"src_b", $"shared_grams",
          round($"shared_grams".cast("double") / least($"na", $"nb"), 4)
            .as("overlap"))
        .orderBy($"src_a", $"src_b")
    }),

    // Canary-string scan — the memorization-governance op: given a
    // small registry of tracked canary strings (here the 3-token
    // prefixes of docs 0/7/13, so the fixture provably contains hits),
    // count the documents containing each canary and point at the
    // earliest. The pattern list BROADCASTS and the scan is one
    // substring pass per (doc, canary) — at a registry of thousands
    // you'd compile the patterns into one automaton per task, but the
    // plan shape (broadcast patterns × one corpus scan, no shuffle of
    // text) is already the scale-correct one.
    "doc_canary_scan" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val canaries = docs.filter($"doc_id".isin(0L, 7L, 13L))
        .select($"doc_id".as("canary_id"),
          expr("array_join(slice(filter(split(lower(text), '\\\\s+')," +
            " x -> x != ''), 1, 3), ' ')").as("pat"))
      docs.select($"doc_id", lower($"text").as("lt"))
        .crossJoin(broadcast(canaries))
        .filter(expr("instr(lt, pat) > 0"))
        .groupBy($"canary_id", $"pat")
        .agg(count(lit(1)).as("n_docs_hit"), min($"doc_id").as("first_doc"))
        .orderBy($"canary_id")
    }),

    // Per-source length profiling — the distribution sheet a corpus
    // intake publishes per provider: doc count, token mean/stddev (from
    // EXACT integer sum and sum-of-squares — the two-pass textbook
    // formula as a single float expression over exact operands, never
    // the engine's streaming stddev whose partial-merge order differs
    // across engines), and interpolated p50/p90 (the q_percentiles
    // precedent). One doc-level map + one source-keyed agg.
    "doc_source_profile" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"source",
          size(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
            .cast("long").as("n_tok"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("st"), sum($"n_tok" * $"n_tok").as("sq"),
          round(expr("percentile(n_tok, 0.5)"), 4).as("p50_tokens"),
          round(expr("percentile(n_tok, 0.9)"), 4).as("p90_tokens"))
        .select($"source", $"n_docs",
          round($"st".cast("double") / $"n_docs", 4).as("mean_tokens"),
          // var = (n·Σx² − (Σx)²) / (n(n−1)): the numerator stays an
          // EXACT integer (DECIMAL against overflow), one float divide
          when($"n_docs" > 1, round(sqrt(
            ($"n_docs".cast(org.apache.spark.sql.types.DecimalType(38, 0))
              * $"sq" - $"st".cast(
                org.apache.spark.sql.types.DecimalType(38, 0)) * $"st")
              .cast("double") / ($"n_docs" * ($"n_docs" - 1))), 4))
            .otherwise(0.0).as("sd_tokens"),
          $"p50_tokens", $"p90_tokens")
        .orderBy($"source")
    }),

    // Right-to-be-forgotten pass (the takedown/compliance op every
    // corpus pipeline eventually runs): given a deletion list (here the
    // deterministic doc_id % 23 = 1 slice), report per source what was
    // forgotten, what was retained (with an order-insensitive id
    // checksum for the retained manifest), and — the actual compliance
    // trap — how many RETAINED docs still carry a forgotten doc's exact
    // CONTENT under a different id (takedown by id alone leaks; the
    // audit joins retained rows against the distinct forgotten
    // fingerprint set). Shapes at 100 TB: one scan, the forgotten-fp
    // set reduces to distinct 16-byte hashes before a broadcast/hash
    // equi-join, one source rollup — no text shuffle, no pairs.
    "doc_forget" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .select($"doc_id", $"source", md5($"text".cast("binary")).as("fp"))
        .withColumn("forget", ($"doc_id" % 23 === 1).cast("long"))
      val delFps = docs.filter($"forget" === 1)
        .select($"fp").distinct().withColumn("dfp", lit(1L))
      docs.join(delFps, Seq("fp"), "left_outer")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"forget").as("n_forgotten"),
          sum(when($"forget" === 0 && $"dfp".isNotNull, 1L).otherwise(0L))
            .as("n_content_leaks"),
          sum(when($"forget" === 0, $"doc_id").otherwise(0L))
            .as("retained_checksum"))
        .orderBy($"source")
    }),

    // Capstone curation accounting — the per-source report a corpus
    // curation run publishes: docs in, docs surviving exact dedup
    // (first copy by content hash keeps), docs surviving dedup AND the
    // quality gate (the SAME too_short/low_entropy/low_stopword chain
    // as doc_filter_reasons), and the kept token mass. One token agg
    // per doc + one content-hash keep join + a per-source rollup —
    // every stage keyed, text never shuffles, thresholds applied to
    // 4-dp-rounded scores exactly as the filter query does (identical
    // operands both engines). This is the composition query proving
    // the dedup / quality / accounting operators snap together.
    "doc_curation_report" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val m = docs
        .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("tok"))
        .filter($"tok" =!= "")
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n"),
          sum(when(TextAnalysis.inList($"tok", TextAnalysis.stopEn), $"c")
            .otherwise(0L)).as("n_stop"),
          sum($"c".cast("double") * log(2.0, $"c")).as("clg"))
        .select($"doc_id", $"n".as("n_tokens"),
          round(log(2.0, $"n") - $"clg" / $"n", 4).as("entropy"),
          round($"n_stop".cast("double") / $"n", 4).as("stop_ratio"))
      val keep = docs
        .groupBy(md5($"text".cast("binary")).as("fp"))
        .agg(min($"doc_id").as("doc_id"))
        .select($"doc_id", lit(1L).as("is_first"))
      docs.select($"doc_id", $"source")
        .join(m, Seq("doc_id"), "left_outer")
        .join(keep, Seq("doc_id"), "left_outer")
        .select($"source",
          coalesce($"is_first", lit(0L)).as("first"),
          coalesce($"n_tokens", lit(0L)).as("n_tokens"),
          when($"n_tokens".isNull || $"n_tokens" < 10, lit(0L))
            .when($"entropy" < 3.0, lit(0L))
            .when($"stop_ratio" < 0.05, lit(0L))
            .otherwise(lit(1L)).as("quality_ok"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"first").as("n_unique"),
          sum($"first" * $"quality_ok").as("n_kept"),
          sum($"first" * $"quality_ok" * $"n_tokens").as("tokens_kept"))
        .select($"source", $"n_docs", $"n_unique", $"n_kept", $"tokens_kept",
          round($"n_kept".cast("double") / $"n_docs", 4).as("kept_ratio"))
        .orderBy($"source")
    }),

    // Deterministic source interleave (curriculum/mixture assembly):
    // emit the first 100 positions of the round-robin order that cycles
    // source_1, source_2, …, source_n, source_1, … — the write order a
    // training-shard assembler uses so no shard is ever a single-source
    // run. position = (rank_within_source − 1)·n_sources + source_idx:
    // integer, collision-free, and REQUIRES no global sort — the
    // within-source rank is a source-partitioned window pre-cut at the
    // constant 100 (TopKPerKey's map-side partial top-k shape), the
    // source index is a bounded window over the handful of distinct
    // sources, broadcast back. A billion-doc source contributes ≤100
    // rows to the shuffle.
    "doc_interleave" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val si = docs.select($"source").distinct()
        .withColumn("idx",
          row_number().over(Window.orderBy($"source")).cast("long"))
      val ns = si.agg(count(lit(1)).as("n_src"))
      val w = Window.partitionBy($"source").orderBy($"doc_id")
      docs.select($"source", $"doc_id")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 100)
        .join(broadcast(si), "source")
        .crossJoin(broadcast(ns))
        .select((($"rk" - 1) * $"n_src" + $"idx").as("pos"),
          $"source", $"doc_id")
        .filter($"pos" <= 100)
        .orderBy($"pos")
    }),

    // Temperature-scaled mixture sampling (the multilingual corpus
    // balancing rule from XLM-R: p_s ∝ n_s^0.7 flattens the source
    // distribution so head sources stop drowning the tail). Per-source
    // target k_s = floor(100·p_s); the draw is the deterministic
    // md5-rank used by doc_sample_stratified. The rank window is
    // pre-cut at the CONSTANT bound 100 (k_s ≤ 100 by construction),
    // which TopKPerKey plans as a map-side partial top-k — the
    // variable per-source cut then applies to ≤100 survivors per
    // source, so a billion-doc source costs the same shuffle as a
    // thousand-doc one.
    // Train→eval n-gram decontamination (the GPT-3/Dolma discipline:
    // before training, flag eval-split documents whose 8-grams leak
    // from the train split). Differs from dedup_containment (doc-pair
    // directional overlap): the unit here is SPLIT vs SPLIT — the
    // train side collapses to one distinct 8-gram set, eval docs count
    // hits against it. Splits reuse doc_split's deterministic md5
    // bucketing. Shapes at 100 TB: one token explode per side, a
    // distinct on the train grams (hash-keyed shuffle), one equi-join
    // keyed on the gram hash — linear, no doc pairs anywhere. The
    // contamination flag (>=10% grams hit) compares in integer
    // arithmetic; grams hash via xxhash64 WITHIN each engine (the
    // join is intra-engine, so only counts must agree — the LM-table
    // precedent).
    "text_contamination_ngrams" -> ((s, d) => {
      import s.implicits._
      val h = substring(md5($"doc_id".cast("string").cast("binary")), 1, 1)
      val grams = graft.engine.Layout.fanOut(s, t(s, d, "documents")
          .select($"doc_id", $"text"))
        .select($"doc_id", toksCol.as("toks"),
          when(h.isin("d", "e"), "val").when(h === "f", "test")
            .otherwise("train").as("split"))
        .filter(size($"toks") >= 8)
        .select($"doc_id", $"split", explode(expr(
          "transform(sequence(1, size(toks) - 7)," +
            " i -> xxhash64(array_join(slice(toks, i, 8), ' ')))")).as("g"))
      // ONE gram-stream pass (r17): the r16 form evaluated `grams`
      // twice — the train-side distinct and the eval-side probe carry
      // different filters, so ReuseExchange could not merge them. The
      // (g, doc_id, split) pre-aggregation (one row per doc per gram —
      // the dup-ngram anti-skew discipline: a viral gram contributes
      // one row per doc, occurrences folded map-side) feeds a per-gram
      // window that flags grams any train doc carries; identical
      // membership semantics, no join, half the tokenize+hash scans.
      import org.apache.spark.sql.expressions.Window
      grams.groupBy($"g", $"doc_id", $"split")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("hit", max(when($"split" === "train", 1L))
          .over(Window.partitionBy($"g")))
        .filter($"split" =!= "train")
        .groupBy($"doc_id", $"split")
        .agg(sum($"cnt").as("n_grams"),
          sum(when($"hit" === 1L, $"cnt").otherwise(0L)).as("n_hit"))
        .select($"doc_id", $"split", $"n_grams", $"n_hit",
          round($"n_hit".cast("double") / $"n_grams", 4).as("hit_ratio"),
          ($"n_hit" * 10 >= $"n_grams").as("contaminated"))
        .orderBy($"doc_id")
    }),

    // Duplicate-n-gram mass per source — the memorization-risk
    // accountant (Lee et al. 2022, "Deduplicating Training Data Makes
    // Language Models Better", measures exactly this before/after
    // dedup): of a source's 8-gram OCCURRENCES, how much mass sits in
    // grams that occur more than once corpus-wide (near-dup text the
    // doc-level dedup family can miss when the duplication is
    // sub-document and cross-source). Grams hash to 8 bytes in-row
    // before any shuffle (the contamination build's discipline).
    // ACCEPTED COLLISION RISK: the oracle counts gram STRINGS while
    // this side counts xxhash64(gram) — a 64-bit collision between two
    // distinct corpus grams would inflate cnt/n_src on the Spark side
    // only. P(any collision) ≈ m²/2⁶⁵ stays < 1e-7 up to ~10⁹ distinct
    // grams; shuffling full 8-gram strings corpus-wide to close that
    // channel would multiply shuffle bytes ~8×, so the hash is the
    // deliberate trade (unlike per-doc text_ttr, where vocab is tiny
    // and we group on the string). The
    // corpus-wide gram counts and the per-source rollup are two
    // keyed aggs — no pairwise anything. dup_share divides exact
    // integers (≥ 0); x_source_share isolates the mass shared ACROSS
    // sources (dup grams seen in ≥ 2 sources) — the signal that
    // boilerplate rides syndication, not re-posts within one site.
    // JOIN SHAPE (r14 re-plan of the r13 regression): the exploded
    // occurrence stream (~8× corpus tokens) is pre-aggregated to ONE
    // row per (source, gram) BEFORE anything joins — the frequency
    // table then derives from that same pre-agg (cnt = Σ per-source
    // occs, n_src = row count per gram), and the join carries
    // distinct per-source grams instead of raw occurrences. A viral
    // boilerplate gram no longer funnels its entire occurrence stream
    // onto a single join key: at 100 TB its join contribution is one
    // row per source that carries it, with the occurrence count
    // folded map-side — the hot-gram skew channel is closed by
    // construction, not by AQE. The two consumers of `occ` share its
    // (source, g) exchange via Spark's ReuseExchange.
    "text_dup_ngram_rate" -> ((s, d) => {
      import s.implicits._
      val occ = graft.engine.Layout.fanOut(s, t(s, d, "documents")
          .select($"source", $"text"))
        .select($"source", toksCol.as("toks"))
        .filter(size($"toks") >= 8)
        .select($"source", explode(expr(
          "transform(sequence(1, size(toks) - 7)," +
            " i -> xxhash64(array_join(slice(toks, i, 8), ' ')))")).as("g"))
        .groupBy($"source", $"g")
        .agg(count(lit(1)).as("n_occ"))
      // ONE gram-keyed exchange instead of agg + re-join on g (r16
      // optimization, guide §2.3/2.4): the per-gram (source, n_occ)
      // list is bounded by the source alphabet, so the corpus-wide
      // occurrence count (cnt) and source spread (n_src) fold in-row
      // and the per-source rollup reads the exploded list — the old
      // plan shuffled the occ table a second time to feed the join.
      occ.groupBy($"g")
        .agg(collect_list(struct($"source", $"n_occ")).as("os"))
        .select(expr("aggregate(os, 0L, (a, o) -> a + o.n_occ)").as("cnt"),
          size($"os").cast("long").as("n_src"), explode($"os").as("o"))
        .groupBy($"o.source".as("source"))
        .agg(sum($"o.n_occ").as("n_grams"),
          sum(when($"cnt" > 1L, $"o.n_occ").otherwise(0L)).as("n_dup_occ"),
          sum(when($"n_src" > 1L, $"o.n_occ").otherwise(0L))
            .as("n_xsrc_occ"))
        .select($"source", $"n_grams", $"n_dup_occ", $"n_xsrc_occ",
          round($"n_dup_occ".cast("double") / $"n_grams", 4)
            .as("dup_share"),
          round($"n_xsrc_occ".cast("double") / $"n_grams", 4)
            .as("x_source_share"))
        .orderBy($"source")
    }),

    // Span-level exact-substring dedup (Lee et al. 2022): where
    // text_dup_ngram_rate reports per-SOURCE duplication shares, this
    // is the REMOVAL PLAN — each document's maximal duplicated token
    // spans, i.e. exactly the regions span-level dedup would cut.
    // Design + scale shape on [[dupSpansRaw]] (the shared build).
    "doc_dup_spans" -> ((s, d) => {
      import s.implicits._
      dupSpansShared(s, d)
        .select($"doc_id", $"n_toks", $"n_spans", $"dup_tokens",
          $"max_span",
          round($"dup_tokens".cast("double") / $"n_toks", 4)
            .as("dup_share"))
        .orderBy($"doc_id")
    }),

    // The corpus-level consequence of the span removal plan — what the
    // curation dashboard reports per source: total tokens, tokens
    // inside duplicated spans (0 for span-free docs), the share, and
    // the post-cut budget. Same scale shape as doc_dup_spans (it reads
    // the shared span frame); the per-source roll-up is a bounded agg.
    "doc_dup_savings" -> ((s, d) => {
      import s.implicits._
      val tot = t(s, d, "documents")
        .select($"source", size(toksCol).cast("long").as("n_toks"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("total_tokens"))
      val dup = dupSpansShared(s, d)
        .groupBy($"source").agg(sum($"dup_tokens").as("dup_tokens"))
      tot.join(dup, Seq("source"), "left")
        .select($"source", $"n_docs", $"total_tokens",
          coalesce($"dup_tokens", lit(0L)).as("dup_tokens"),
          round(coalesce($"dup_tokens", lit(0L)).cast("double")
            / $"total_tokens", 4).as("dup_share"),
          ($"total_tokens" - coalesce($"dup_tokens", lit(0L)))
            .as("tokens_after"))
        .orderBy($"source")
    }),

    // UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    // More Effective Language Sampling for Large-Scale Multilingual
    // Pretraining"): distribute a total budget B over sources with a
    // per-source epoch cap E, smallest sources first — a source gets
    // its full cap n·E when even giving every remaining source that
    // much fits the remaining budget, else all remaining (larger)
    // sources split the remainder equally. The sequential-looking
    // recurrence has a closed form over the size-ascending prefix: with
    // sizes ascending, once one source is uncapped every later one is
    // too, and the equal share stays constant — so capped rows are
    // exactly those with cap·(k-rn+1) <= B - prefix_cap_sum, and the
    // share is one integer division at the first uncapped row. All
    // arithmetic is INTEGER (doc units, floor share; the sub-share
    // remainder stays unallocated by spec), so both engines agree
    // exactly. The window runs over #sources rows (bounded — sources
    // are languages/domains, not data), never over docs.
    "doc_sample_unimax" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val B = 1000L
      val w = Window.orderBy($"n_docs".asc, $"source".asc)
      val ranked = t(s, d, "documents").groupBy($"source")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("cap", $"n_docs" * 2)
        .withColumn("rn", row_number().over(w))
        .withColumn("cumcap", coalesce(
          sum($"cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      val k = ranked.agg(count(lit(1)).as("k"))
      val flagged = ranked.crossJoin(broadcast(k))
        .withColumn("is_capped",
          $"cap" * ($"k" - $"rn" + 1) <= lit(B) - $"cumcap")
      val istar = flagged.filter(!$"is_capped")
        .agg(min(struct($"rn", $"cumcap")).as("fo"))
        .select($"fo.rn".as("rn0"), $"fo.cumcap".as("cum0"))
      flagged.crossJoin(broadcast(istar))
        .withColumn("alloc_docs", when($"is_capped", $"cap")
          .otherwise(expr(s"($B - cum0) div (k - rn0 + 1)")))
        .select($"source", $"n_docs", $"cap".as("cap_docs"), $"alloc_docs",
          round($"alloc_docs".cast("double") / $"n_docs", 4).as("epochs"))
        .orderBy($"source")
    }),

    "doc_sample_temperature" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val sizes = docs.groupBy($"source").agg(count(lit(1)).as("n_s"))
        .withColumn("w", pow($"n_s", lit(0.7)))
      val tot = sizes.agg(sum($"w").as("wsum"))
      // +1e-9 before floor: equal-size sources put 100·w/wsum exactly ON
      // an integer, where FP summation-order noise (Spark's partial aggs
      // vs DuckDB's sequential sum) flips floor() across engines — the
      // epsilon absorbs the last-bit wobble on both sides identically
      val ks = sizes.crossJoin(broadcast(tot))
        .select($"source",
          floor(lit(100.0) * $"w" / $"wsum" + lit(1e-9)).cast("long")
            .as("k_target"))
      val h = docs.select($"source", $"doc_id", expr(
        "cast(conv(substring(md5(cast(cast(doc_id as string) as binary))," +
          " 1, 8), 16, 10) as bigint)").as("h32"))
      val w = Window.partitionBy($"source").orderBy($"h32", $"doc_id")
      h.withColumn("pos", row_number().over(w))
        .filter($"pos" <= 100)
        .join(broadcast(ks), "source")
        .filter($"pos" <= $"k_target")
        .select($"source", $"k_target", $"pos".cast("long").as("pos"), $"doc_id")
        .orderBy($"source", $"pos")
    }),

    // Rendezvous (highest-random-weight) shard placement — the block-
    // placement policy the reference DFS solves with a controller
    // (reference: controller/controller.go node pick; here the
    // coordinator-free classic): every doc's owner is the node whose
    // md5(doc:node) digest ranks highest, so placement needs NO central
    // table and any reader recomputes it locally. The query audits the
    // defining elasticity property: re-running with a 9th node moves
    // ~1/9 of docs and EVERY moved doc lands on the new node (n_moved_out
    // == n_moved_to_new per row — consistent-hash-grade minimal
    // movement). Shapes at 100 TB: both owners come from one per-row
    // fold over the bounded node list (no explode, no join, no shuffle
    // until the ≤8-row rollup); a million-node ring would swap the fold
    // for a jump-hash expression, same plan shape. Digests compare as
    // hex strings — identical lexicographic order in both engines.
    "doc_shard_assign" -> ((s, d) => {
      import s.implicits._
      def owner(nMax: Int) = expr(
        s"array_max(transform(sequence(0, $nMax), n -> struct(" +
          "md5(cast(concat(cast(doc_id as string), ':', cast(n as string))" +
          " as binary)) as h, n as node))).node")
      t(s, d, "documents")
        .select($"doc_id", owner(7).cast("long").as("owner8"),
          owner(8).cast("long").as("owner9"))
        .groupBy($"owner8".as("node"))
        .agg(count(lit(1)).as("n_before"),
          sum(when($"owner9" === $"owner8", 1L).otherwise(0L)).as("n_kept"),
          sum(when($"owner9" =!= $"owner8", 1L).otherwise(0L))
            .as("n_moved_out"),
          sum(when($"owner9" =!= $"owner8" && $"owner9" === 8L, 1L)
            .otherwise(0L)).as("n_moved_to_new"))
        .orderBy($"node")
    }),

    // Per-source robust length outliers — the intake QC that survives
    // the heavy-tailed length distributions mean/stddev screens drown
    // in: flag docs whose token count sits more than 5 MADs from the
    // source median. All comparisons run in a scaled-integer domain
    // (med2 = 2·median and mad4 = 4·MAD are exact integers because a
    // median of integers is integral or half-integral), so the outlier
    // verdict is bit-identical across engines — no float boundary.
    // Shapes at 100 TB: the corpus tokenizes ONCE into a one-row-per-doc
    // frame (checkpointed, ~24 bytes/doc); medians are per-source aggs
    // that broadcast back; nothing shuffles text.
    "doc_length_outliers" -> ((s, d) => {
      import s.implicits._
      val lens = t(s, d, "documents")
        .select($"source", $"doc_id",
          size(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
            .cast("long").as("n_tok"))
        .localCheckpoint()
      val med = lens.groupBy($"source")
        .agg(expr("cast(round(percentile(n_tok, 0.5) * 2) as bigint)")
          .as("med2"))
      val dev = lens.join(broadcast(med), "source")
        .withColumn("dev2", abs($"n_tok" * 2 - $"med2"))
      val mad = dev.groupBy($"source")
        .agg(expr("cast(round(percentile(dev2, 0.5) * 2) as bigint)")
          .as("mad4"))
      dev.join(broadcast(mad), "source")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          round(min($"med2").cast("double") / 2, 1).as("median_tokens"),
          round(min($"mad4").cast("double") / 4, 2).as("mad_tokens"),
          sum(when($"dev2" * 2 > $"mad4" * 5, 1L).otherwise(0L))
            .as("n_outliers"),
          coalesce(max(when($"dev2" * 2 > $"mad4" * 5, $"n_tok")), lit(0L))
            .as("max_outlier_tokens"))
        .orderBy($"source")
    }),

    // Quality-vs-duplication calibration — the curation diagnostic that
    // decides whether a quality filter is doing hidden dedup work (and
    // vice versa): bucket docs into type-token-ratio deciles and report
    // the exact-duplicate share of each. Composes the declared
    // text_quality score with the dedup_exact fingerprint logic. The
    // decile cut runs on the e4-quantized score (integer div — a raw
    // float floor at a 0.1 boundary flips across engines), the dup flag
    // is a semi-join against the >1-occurrence fingerprint set, and the
    // rollup is a ≤10-row agg: one corpus scan per input, nothing
    // pairwise.
    "doc_quality_vs_dup" -> ((s, d) => {
      import s.implicits._
      val q = TextAnalysis.queries("text_quality")(s, d)
        .select($"doc_id", expr(
          "least(cast(9 as bigint), cast(round(ttr * 1e4) as bigint)" +
            " div 1000)").as("decile"))
      val fp = t(s, d, "documents")
        .select($"doc_id", md5($"text".cast("binary")).as("fp"))
      val dupfp = fp.groupBy($"fp").agg(count(lit(1)).as("k"))
        .filter($"k" > 1).select($"fp")
      val flags = fp.join(dupfp, Seq("fp"), "left_semi")
        .select($"doc_id", lit(1L).as("is_dup"))
      q.join(flags, Seq("doc_id"), "left_outer")
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce($"is_dup", lit(0L))).as("n_dups"))
        .select($"decile", $"n_docs", $"n_dups",
          round($"n_dups".cast("double") / $"n_docs", 4).as("dup_share"))
        .orderBy($"decile")
    }),

    // Bloom-filter decontamination — the constant-state scale path next
    // to text_contamination_ngrams' exact join: the train split folds
    // into a fixed 258,048-bit Bloom filter (4 md5-window probes;
    // ~0.5% FP at this corpus, sized to the expected distinct-gram
    // count per deployment), eval docs probe the BROADCAST filter, and
    // the query publishes the exact counts NEXT to the bloom counts so
    // the false-positive cost of dropping the distinct-gram shuffle is
    // measured, not assumed. At 100 TB the exact path's distinct set
    // grows with the corpus while the filter stays ~32 KB — this query
    // is the evidence table for making that trade. No false negatives
    // by construction (invariant-tested).
    "doc_bloom_decontaminate" -> ((s, d) => {
      import s.implicits._
      val MB = 258048
      def posC(r: Int) = expr(
        s"cast(conv(substring(md5(cast(gs as binary)), ${5 * r + 1}, 5)," +
          s" 16, 10) as bigint) % $MB")
      val h = substring(md5($"doc_id".cast("string").cast("binary")), 1, 1)
      val grams = graft.engine.Layout.fanOut(s, t(s, d, "documents")
          .select($"doc_id", $"text"))
        .select($"doc_id", toksCol.as("toks"),
          when(h.isin("d", "e"), "val").when(h === "f", "test")
            .otherwise("train").as("split"))
        .filter(size($"toks") >= 8)
        .select($"doc_id", $"split", posexplode(expr(
          "transform(sequence(1, size(toks) - 7)," +
            " i -> array_join(slice(toks, i, 8), ' '))")))
        .select($"doc_id", $"split", $"pos".cast("long").as("occ"),
          $"col".as("gs"))
        .localCheckpoint()
      val tg = grams.filter($"split" === "train").select($"gs").distinct()
      val bits = tg
        .select(explode(array((0 until 4).map(posC): _*)).as("p"))
        .groupBy(expr("cast(p div 63 as int)").as("word_j"))
        .agg(expr("bit_or(shiftleft(cast(1 as bigint), p % 63))").as("bits"))
      val eg = grams.filter($"split" =!= "train")
        .join(tg.withColumn("ex", lit(1L)), Seq("gs"), "left_outer")
        .select($"doc_id", $"split", $"occ",
          coalesce($"ex", lit(0L)).as("exact_hit"), $"gs")
      eg.select($"doc_id", $"split", $"occ", $"exact_hit",
          explode(array((0 until 4).map(posC): _*)).as("p"))
        .withColumn("word_j", expr("cast(p div 63 as int)"))
        .join(broadcast(bits), Seq("word_j"), "left_outer")
        .groupBy($"doc_id", $"split", $"occ")
        .agg(min(when($"bits".isNotNull &&
            expr("bits & shiftleft(cast(1 as bigint), p % 63)") =!= 0, 1L)
          .otherwise(0L)).as("bloom_hit"),
          min($"exact_hit").as("exact_hit"))
        .groupBy($"doc_id", $"split")
        .agg(count(lit(1)).as("n_grams"), sum($"bloom_hit").as("n_bloom"),
          sum($"exact_hit").as("n_exact"))
        .select($"doc_id", $"split", $"n_grams", $"n_bloom", $"n_exact",
          ($"n_bloom" - $"n_exact").as("n_false_pos"),
          ($"n_bloom" * 10 >= $"n_grams").as("contaminated"))
        .orderBy($"doc_id")
    }),

    // Marginal-novelty curve — the diminishing-returns audit behind
    // every "do we need another crawl" decision: split the corpus into
    // 10 id-ordered ingest batches and report, per batch, the fraction
    // of its distinct 8-grams never seen in an earlier batch (plus the
    // cumulative distinct-gram count). Novelty decaying toward zero
    // says new data is re-paying for old grams. Shapes at 100 TB: gram
    // explode → (batch, gram) distinct → first-batch min agg keyed on
    // the gram hash → 10-row rollup; the only ordered window runs over
    // the 10 batch rows. Grams hash intra-engine (xxhash64 vs hash) —
    // the counts are what must agree, the LM-table precedent.
    "doc_novelty_curve" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val mx = t(s, d, "documents").agg(max($"doc_id").as("mid"))
      val g = graft.engine.Layout.fanOut(s, t(s, d, "documents")
          .select($"doc_id", $"text"))
        .select($"doc_id", toksCol.as("toks"))
        .filter(size($"toks") >= 8)
        .crossJoin(broadcast(mx))
        .select(expr("least(cast(9 as bigint), (doc_id * 10) div (mid + 1))")
          .as("batch"), explode(expr(
          "transform(sequence(1, size(toks) - 7)," +
            " i -> xxhash64(array_join(slice(toks, i, 8), ' ')))")).as("gh"))
      // ONE gram-keyed exchange instead of distinct + min-agg + re-join
      // (r16 optimization, guide §2.3/2.4): the per-gram batch set is
      // bounded by the 10-batch domain, so collect_set dedups map-side,
      // the first-batch min folds in-row, and the per-batch rollup
      // reads the exploded set — identical counts to the old
      // distinct/join plan, two fewer full exchanges of the gram table.
      g.groupBy($"gh").agg(collect_set($"batch").as("bs"))
        .select(array_min($"bs").as("b0"), explode($"bs").as("batch"))
        .groupBy($"batch")
        .agg(count(lit(1)).as("n_grams"),
          sum(when($"b0" === $"batch", 1L).otherwise(0L)).as("n_new"))
        .withColumn("novelty",
          round($"n_new".cast("double") / $"n_grams", 4))
        .withColumn("cum_distinct",
          sum($"n_new").over(Window.orderBy($"batch")))
        .orderBy($"batch")
    }),

    // Curriculum-phase assignment — the "order the data easy→hard"
    // step of curriculum training: within each source, docs are
    // ntile(3)'d by lexical quality (type-token ratio, the text_quality
    // signal) into phases 1..3, and the rollup reports what each phase
    // actually holds (docs, tokens, the TTR range it spans). Ordering
    // discipline: the ntile key is the ROUNDED 4-dp ttr with doc_id as
    // total tie-break, so both engines rank the identical sequence.
    // Scale shape: one tokenize agg (doc-keyed), then the ntile window
    // and the phase rollup share ONE source-keyed Exchange — per-source
    // frames, never a global sort.
    "doc_curriculum_phases" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val perDoc = t(s, d, "documents")
        .select($"doc_id", $"source", explode(toksCol).as("tok"))
        .groupBy($"doc_id", $"source")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct($"tok").as("n_types"))
        .select($"doc_id", $"source", $"n_tokens",
          round($"n_types".cast("double") / $"n_tokens", 4).as("ttr"))
      perDoc
        .withColumn("phase", ntile(3).over(Window.partitionBy($"source")
          .orderBy($"ttr".desc, $"doc_id".asc)).cast("long"))
        .groupBy($"source", $"phase")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"),
          min($"ttr").as("min_ttr"), max($"ttr").as("max_ttr"))
        .orderBy($"source", $"phase")
    }),

    // Per-source language mixture — how multilingual is each feed
    // (the routing table that decides which sources need per-language
    // pipelines vs a single-language fast path): language count,
    // dominant language with its share, and the mixture entropy. No
    // tokenize — this reads the `lang` label column directly, so the
    // whole query is one (source, lang) agg plus a source rollup.
    // Dominant-language ties break to the lexicographically smallest
    // lang via a min-struct over (−count, lang); entropy terms are
    // e10-quantized before the cross-engine sum (text_entropy's
    // discipline at the source level).
    "doc_lang_mix" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .groupBy($"source", $"lang").agg(count(lit(1)).as("nd"))
        .groupBy($"source")
        .agg(sum($"nd").as("n_docs"), count(lit(1)).as("n_langs"),
          min(struct((-$"nd").as("neg"), $"lang")).as("dom"),
          sum(expr(
            "cast(round(cast(nd as double) * log2(nd) * 1e10)" +
              " as bigint)")).as("te10"))
        .select($"source", $"n_docs", $"n_langs",
          $"dom.lang".as("dominant_lang"),
          round((-$"dom.neg").cast("double") / $"n_docs", 4)
            .as("dom_share"),
          round(log2($"n_docs")
            - ($"te10".cast("double") / 1e10) / $"n_docs", 4)
            .as("lang_entropy"))
        .orderBy($"source")
    }),

    // Mixture-rebalance planner — close the gap between the corpus's
    // ACTUAL per-source token shares and a uniform target: per
    // source, the up/down-sampling factor (capped at 3× — unbounded
    // upsampling of a tiny source just clones it), the effective
    // token budget after resampling, and the achieved share the cap
    // leaves you with. Exactness: the factor is the EXACT-RATIONAL
    // floor (ttok·10⁴) div (n_src·stok) — the doc_epoch_plan
    // discipline (never compare floored fixed-point against floats);
    // effective tokens are integer products/floors; shares are the
    // only floats. Scale shape: one tokenize agg; every window runs
    // on the source-alphabet frame.
    "doc_mixture_targets" -> ((s, d) => {
      import s.implicits._
      // corpus totals as broadcast scalars, not three global windows
      // (r17, verdict ask #7): two scalar stages because teff depends
      // on the factor derived from the first totals row; the tokenize
      // agg subtree is shared via ReuseExchange, never re-derived
      t(s, d, "documents")
        .select($"source", explode(toksCol).as("tok"))
        .groupBy($"source").agg(count(lit(1)).as("stok"))
        .transform(sa => sa.crossJoin(broadcast(sa.agg(
          count(lit(1)).as("n_src"), sum($"stok").as("ttok")))))
        .withColumn("factor_e4", least(lit(30000L),
          expr("(ttok * 10000) div (n_src * stok)")))
        .withColumn("eff_tok", expr("(stok * factor_e4) div 10000"))
        .transform(fa => fa.crossJoin(broadcast(fa.agg(
          sum($"eff_tok").as("teff")))))
        .select($"source", $"stok".as("n_tokens"),
          round($"stok".cast("double") / $"ttok", 4)
            .as("actual_share"),
          round($"factor_e4".cast("double") / 1e4, 4).as("factor"),
          ($"factor_e4" === 30000L).as("capped"),
          $"eff_tok".as("eff_tokens"),
          round($"eff_tok".cast("double") / $"teff", 4)
            .as("achieved_share"))
        .orderBy($"source")
    }))

  /** Oracle twin of [[epochPlanFrame]]: the water-fill CTE chain
    * ending in `plan(source, tok, w_e4, ep)`. Shared by
    * doc_epoch_plan and doc_epoch_expand. */
  private val epochPlanSql: String =
    """WITH s0 AS (
        |  SELECT source,
        |    CAST(SUM(CAST(len(list_filter(regexp_split_to_array(
        |      lower(text), '\s+'), x -> x <> '')) AS BIGINT)) AS BIGINT)
        |      AS tok
        |  FROM documents GROUP BY source),
        |s1 AS (
        |  SELECT source, tok,
        |    CAST((1 + (strpos('0123456789abcdef',
        |      substring(md5(source), 1, 1)) - 1) % 5) * 5000 AS BIGINT)
        |      AS w_e4
        |  FROM s0),
        |tot AS (SELECT CAST(SUM(tok) AS BIGINT) AS ttok,
        |               CAST(SUM(tok * w_e4) AS BIGINT) AS t4 FROM s1),
        |rk AS (
        |  SELECT source, tok, w_e4,
        |    ROW_NUMBER() OVER wo AS rn,
        |    CAST(SUM(tok) OVER (wo ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS cum_tok,
        |    CAST(SUM(tok * w_e4) OVER (wo ROWS UNBOUNDED PRECEDING)
        |         AS BIGINT) AS cum_tw,
        |    LEAD(w_e4) OVER wo AS w_next
        |  FROM s1 WINDOW wo AS (ORDER BY w_e4 DESC, source ASC)),
        |kc AS (
        |  SELECT rn AS k, cum_tok AS c, cum_tw, w_e4 AS w_k, w_next,
        |    ttok, t4
        |  FROM rk, tot
        |  UNION ALL
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    NULL, w_e4, ttok, t4
        |  FROM rk, tot WHERE rn = 1),
        |c2 AS (
        |  SELECT k, (t4 - cum_tw) AS s4, (3 * ttok - 4 * c) AS rem,
        |    CASE WHEN (t4 - cum_tw) > 0
        |         THEN CAST((CAST((3 * ttok - 4 * c) AS HUGEINT)
        |                    * 10000000000) // (t4 - cum_tw) AS BIGINT)
        |         ELSE NULL END AS m_e6,
        |    w_k, w_next
        |  FROM kc),
        |ch AS (
        |  SELECT k, m_e6 FROM c2
        |  WHERE rem >= 0
        |    AND (w_k IS NULL OR s4 = 0 OR rem * w_k >= 4 * s4)
        |    AND (s4 = 0 OR w_next IS NULL OR rem * w_next < 4 * s4)
        |  ORDER BY k LIMIT 1),
        |plan AS (
        |  SELECT rk.source, rk.tok, rk.w_e4,
        |    CASE WHEN rk.rn <= ch.k THEN 40000000000
        |         ELSE least(40000000000, ch.m_e6 * rk.w_e4) END AS ep
        |  FROM rk, ch)""".stripMargin

  val oracle: Map[String, String] = Map(

    "doc_pareto_frontier" ->
      """WITH tk AS (
        |  SELECT doc_id, tok
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |        FROM documents) WHERE tok <> ''),
        |m AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS a,
        |    CAST((COUNT(DISTINCT tok) * 10000) // COUNT(*) AS BIGINT)
        |      AS b
        |  FROM tk GROUP BY doc_id)
        |SELECT m1.doc_id, m1.a AS n_tokens,
        |  CAST(m1.b AS DOUBLE) / 1e4 AS ttr_q
        |FROM m m1
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM m m2
        |  WHERE m2.a >= m1.a AND m2.b >= m1.b
        |    AND (m2.a > m1.a OR m2.b > m1.b))
        |ORDER BY n_tokens DESC, m1.doc_id""".stripMargin,

    // frozen-fixture oracle for the PolyCut geometry pin — the
    // literal rows were generated ONCE by GenPolyFixtureSql (see the
    // declared query's comment; never regenerate after a chunker edit)
    "doc_cdc_poly_fixture" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, CAST(clen AS BIGINT) AS clen, CAST(chash AS BIGINT) AS chash FROM (VALUES (0,0,140,83839368711842866),(0,1,32,265372049490543071),(0,2,28,28654938689963503),(1,0,16,830085656873238981),(1,1,221,356980915128358035),(2,0,31,819043663866030122),(2,1,46,716545675838612205),(2,2,146,1130155429856154452),(2,3,32,531774912892179380),(2,4,19,1147792426025455298),(3,0,259,107574095735122927),(3,1,13,1043185488153261333),(3,2,30,1110416576505778261),(3,3,9,436787259605582147),(4,0,45,1139062660189058654),(4,1,303,565602411837739161),(5,0,11,337536603758098322),(5,1,164,198026088519079922),(5,2,77,270045055421319577),(5,3,4,70098311353782759),(5,4,53,47337133254364544),(5,5,76,774430490536070288),(6,0,85,472843838595740543),(6,1,4,204579308184036551),(6,2,16,926360749021539427),(6,3,29,578324997459184205),(6,4,58,659585807223963167),(6,5,15,320052499399868996),(6,6,3,68067370069237837),(6,7,12,919514013134919408),(6,8,107,430943341391152263),(6,9,91,683009269756512684),(6,10,2,53794965770850074),(7,0,69,9908332581147999),(7,1,54,945895516438250891),(7,2,28,1000632121571489723),(7,3,79,1031560544037343012),(7,4,22,902719562930308591),(7,5,43,416872329713072409),(7,6,27,1001277144263850460),(7,7,19,184121258662957819),(7,8,118,244674633727618468),(8,0,72,548189272392762026),(8,1,126,220606739923249019),(8,2,116,164612131897186149),(8,3,122,104456531669905624),(8,4,24,63813805330692071),(8,5,36,629309020584949022),(9,0,64,24662006418754326),(9,1,62,862901946594775815),(9,2,71,423829988518993920),(9,3,28,885193006729265249),(9,4,8,1033152986497932176),(10,0,39,276796921184401848),(10,1,3,588050909237950812),(10,2,180,1082962944709277288),(10,3,48,360891093429099543),(11,0,15,685015149779133933),(11,1,47,604650014019144424),(11,2,84,612668450809440846),(11,3,24,998808137629941824),(11,4,39,1149870150758761764),(11,5,34,1050617313267779739),(11,6,43,199645272048682967),(11,7,21,334503505797006781),(12,0,171,924168242111889753),(12,1,90,214381196885090899),(12,2,83,782544662306119197),(13,0,42,788293803453934272),(13,1,47,1066818160127633806),(13,2,27,129585413063519507),(13,3,48,299781671193783157),(13,4,47,599492543761879292),(13,5,21,583818845697587837),(13,6,7,67911921848569903),(13,7,67,233983403466910307),(13,8,28,1012329744652673329),(13,9,12,781915833339739288),(13,10,35,193837494311347660),(14,0,69,538875975384803600),(14,1,18,10080882811407670),(14,2,17,727583145225073045),(14,3,17,286579010406324855),(14,4,9,188353143729652589),(14,5,3,111468753707176811),(14,6,58,778020270059304670),(14,7,23,152215662381799024),(14,8,51,1097299272148783484),(14,9,11,130610798952550789),(14,10,63,193026580073453286),(14,11,50,874909021538226812),(14,12,29,69558775808464137),(15,0,95,655579421027749095),(15,1,5,200523718932009413),(15,2,58,127388992257782476),(15,3,58,1093011017634940236),(15,4,25,43007611375595644),(15,5,62,955302351348336376),(15,6,8,667910722112147546),(15,7,80,170759473232436073),(15,8,64,1097075511385397988)) t(doc_id, chunk_idx, clen, chash) ORDER BY doc_id, chunk_idx""",

    "doc_cdc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(LENGTH(text) AS BIGINT) AS len
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, text, unnest(range(8, len + 1)) AS i
        |    FROM d WHERE len >= 8)
        |  WHERE ('0x' || substring(md5(substring(text,
        |      CAST(i - 7 AS INTEGER), 8)), 1, 8))::BIGINT % 64 = 0),
        |b AS (SELECT doc_id, i FROM pos
        |      UNION SELECT doc_id, len FROM d),
        |ck AS (
        |  SELECT doc_id, i - COALESCE(LAG(i) OVER (PARTITION BY doc_id
        |    ORDER BY i), 0) AS clen
        |  FROM b),
        |f AS (SELECT doc_id, clen FROM ck WHERE clen > 0)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  ROUND(CAST(SUM(clen) AS DOUBLE) / COUNT(*), 4) AS avg_len,
        |  CAST(MAX(clen) AS BIGINT) AS max_len,
        |  CAST(MIN(clen) AS BIGINT) AS min_len
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "doc_cdc_dedup" ->
      s"""WITH $cdcChunksSql,
        |fr AS (SELECT chash, COUNT(*) AS cnt, MAX(clen) AS clen1
        |       FROM ck GROUP BY chash),
        |g AS (SELECT ROUND(CAST(SUM((cnt - 1) * clen1) AS DOUBLE)
        |        / SUM(cnt * clen1), 4) AS global_savings_share
        |      FROM fr),
        |ps AS (
        |  SELECT ck.source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |    CAST(SUM(ck.clen) AS BIGINT) AS bytes,
        |    CAST(SUM(CASE WHEN fr.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_chunks,
        |    CAST(SUM(CASE WHEN fr.cnt > 1 THEN ck.clen ELSE 0 END)
        |      AS BIGINT) AS dup_bytes
        |  FROM ck JOIN fr USING (chash) GROUP BY ck.source)
        |SELECT source, n_chunks, bytes, n_dup_chunks,
        |  ROUND(CAST(dup_bytes AS DOUBLE) / bytes, 4)
        |    AS dup_byte_share,
        |  global_savings_share
        |FROM ps, g ORDER BY source""".stripMargin,

    "doc_chunk_containment" ->
      s"""WITH $cdcChunksSql,
        |sp AS (SELECT chash, COUNT(DISTINCT doc_id) AS nd
        |       FROM ck GROUP BY chash),
        |pd AS (
        |  SELECT ck.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |    CAST(SUM(ck.clen) AS BIGINT) AS bytes,
        |    CAST(SUM(CASE WHEN sp.nd > 1 THEN ck.clen ELSE 0 END)
        |      AS BIGINT) AS shared_bytes
        |  FROM ck JOIN sp USING (chash) GROUP BY ck.doc_id)
        |SELECT doc_id, n_chunks, bytes, shared_bytes,
        |  ROUND(CAST(shared_bytes AS DOUBLE) / bytes, 4)
        |    AS containment,
        |  CAST(CASE WHEN shared_bytes * 2 >= bytes THEN 1 ELSE 0 END
        |    AS BIGINT) AS mostly_shared
        |FROM pd ORDER BY doc_id""".stripMargin,

    "doc_cdc_boundary_stability" ->
      s"""WITH d0 AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE LENGTH(text) > 10),
        |oa AS (SELECT doc_id, text,
        |       CAST(LENGTH(text) AS BIGINT) AS len FROM d0),
        |ob AS (SELECT doc_id, substring(text, 11) AS text,
        |       CAST(LENGTH(text) - 10 AS BIGINT) AS len FROM d0),
        |${cdcCkSqlOver("a", "oa")},
        |${cdcCkSqlOver("b", "ob")},
        |ha AS (SELECT DISTINCT doc_id, chash FROM ack),
        |hb AS (SELECT DISTINCT doc_id, chash FROM bck),
        |no AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_orig
        |       FROM ha GROUP BY 1),
        |sh AS (SELECT ha.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |       FROM ha JOIN hb USING (doc_id, chash) GROUP BY 1),
        |per AS (
        |  SELECT d0.source, no.n_orig,
        |    COALESCE(sh.n_shared, 0) AS n_shared
        |  FROM d0 JOIN no USING (doc_id) LEFT JOIN sh USING (doc_id))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_orig) AS BIGINT) AS chunks_orig,
        |  CAST(SUM(n_shared) AS BIGINT) AS chunks_survived,
        |  ROUND(CAST(SUM(n_shared) AS DOUBLE) / SUM(n_orig), 4)
        |    AS survival_share
        |FROM per GROUP BY source ORDER BY source""".stripMargin,

    "doc_chunks" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks
         |  FROM documents)
         |SELECT doc_id, CAST(start // 40 AS BIGINT) AS chunk_id,
         |  CAST(len(list_slice(toks, start + 1, start + 50)) AS BIGINT)
         |    AS n_chunk_tokens,
         |  md5(array_to_string(list_slice(toks, start + 1, start + 50), ' '))
         |    AS chunk_hash
         |FROM d, unnest(generate_series(0, len(toks) - 1, 40)) AS t(start)
         |WHERE len(toks) >= 1
         |ORDER BY doc_id, chunk_id""".stripMargin,

    "doc_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                         x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (SELECT CAST(FLOOR(SUM(n_tokens) / 2) AS BIGINT) AS budget
        |      FROM d),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS cum_tokens
        |  FROM d)
        |SELECT doc_id, n_tokens, cum_tokens,
        |  (cum_tokens <= budget) AS selected
        |FROM c, t ORDER BY doc_id""".stripMargin,

    "doc_split" ->
      """SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |              IN ('d', 'e') THEN 'val'
        |            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'
        |              THEN 'test'
        |            ELSE 'train' END AS split,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY split ORDER BY split""".stripMargin,

    "doc_split_safe" ->
      """WITH g AS (
        |  SELECT md5(text) AS fp, MIN(doc_id) AS canon,
        |    COUNT(*) AS n_copies, SUM(n_chars) AS g_chars
        |  FROM documents GROUP BY md5(text))
        |SELECT CASE WHEN substring(md5(CAST(canon AS VARCHAR)), 1, 1)
        |              IN ('d', 'e') THEN 'val'
        |            WHEN substring(md5(CAST(canon AS VARCHAR)), 1, 1) = 'f'
        |              THEN 'test'
        |            ELSE 'train' END AS split,
        |  COUNT(*) AS n_groups, CAST(SUM(n_copies) AS BIGINT) AS n_docs,
        |  CAST(SUM(g_chars) AS BIGINT) AS total_chars
        |FROM g GROUP BY split ORDER BY split""".stripMargin,

    "doc_delta" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS fp1 FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 5 THEN md5(upper(text))
        |         ELSE md5(text) END AS fp2
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 5000000, md5(text)
        |  FROM documents WHERE doc_id % 11 = 0),
        |j AS (
        |  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |    CASE WHEN fp2 IS NULL THEN 'removed'
        |         WHEN fp1 IS NULL THEN 'added'
        |         WHEN fp1 <> fp2 THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT status, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM j GROUP BY status ORDER BY status""".stripMargin,

    "doc_pack_efficiency" ->
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    CAST(len($toksSql) AS BIGINT) AS n_toks
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, n_toks,
         |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS prior
         |  FROM d),
         |packs AS (
         |  SELECT source, CAST(prior // 512 AS BIGINT) AS pack_id,
         |    COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
         |  FROM c GROUP BY source, pack_id)
         |SELECT CAST((n_tokens * 10) // 512 AS BIGINT) AS bucket,
         |  COUNT(*) AS n_packs, CAST(SUM(n_tokens) AS BIGINT) AS tokens,
         |  CAST(SUM(n_docs) AS BIGINT) AS docs,
         |  ROUND(CAST(SUM(n_tokens) AS DOUBLE) / (COUNT(*) * 512), 4)
         |    AS avg_fill
         |FROM packs GROUP BY bucket ORDER BY bucket""".stripMargin,

    "text_source_overlap" ->
      s"""WITH d AS (
         |  SELECT source, $toksSql AS toks FROM documents),
         |g AS (
         |  SELECT DISTINCT source,
         |    array_to_string(list_slice(toks, i, i + 7), ' ') AS g
         |  FROM d, unnest(generate_series(1, len(toks) - 7)) AS t(i)
         |  WHERE len(toks) >= 8),
         |sizes AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
         |sh AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    COUNT(*) AS shared_grams
         |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, shared_grams,
         |  ROUND(CAST(shared_grams AS DOUBLE) / LEAST(na.n, nb.n), 4)
         |    AS overlap
         |FROM sh
         |JOIN sizes na ON na.source = src_a
         |JOIN sizes nb ON nb.source = src_b
         |ORDER BY src_a, src_b""".stripMargin,

    "doc_canary_scan" ->
      s"""WITH canaries AS (
         |  SELECT doc_id AS canary_id,
         |    array_to_string(list_slice($toksSql, 1, 3), ' ') AS pat
         |  FROM documents WHERE doc_id IN (0, 7, 13))
         |SELECT canary_id, pat, COUNT(*) AS n_docs_hit,
         |  MIN(d.doc_id) AS first_doc
         |FROM documents d, canaries c
         |WHERE strpos(lower(d.text), c.pat) > 0
         |GROUP BY canary_id, pat ORDER BY canary_id""".stripMargin,

    "doc_source_profile" ->
      s"""WITH d AS (
         |  SELECT source,
         |    CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |a AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS st,
         |    CAST(SUM(n_tok * n_tok) AS BIGINT) AS sq,
         |    ROUND(quantile_cont(n_tok, 0.5), 4) AS p50_tokens,
         |    ROUND(quantile_cont(n_tok, 0.9), 4) AS p90_tokens
         |  FROM d GROUP BY source)
         |SELECT source, n_docs,
         |  ROUND(CAST(st AS DOUBLE) / n_docs, 4) AS mean_tokens,
         |  CASE WHEN n_docs > 1 THEN
         |    ROUND(sqrt(CAST(CAST(n_docs AS DECIMAL(38,0)) * sq
         |                    - CAST(st AS DECIMAL(38,0)) * st AS DOUBLE)
         |               / (n_docs * (n_docs - 1))), 4)
         |  ELSE 0.0 END AS sd_tokens,
         |  p50_tokens, p90_tokens
         |FROM a ORDER BY source""".stripMargin,

    "doc_forget" ->
      """WITH d AS (
        |  SELECT doc_id, source, md5(text) AS fp,
        |    CASE WHEN doc_id % 23 = 1 THEN 1 ELSE 0 END AS forget
        |  FROM documents),
        |delfp AS (SELECT DISTINCT fp FROM d WHERE forget = 1),
        |j AS (
        |  SELECT d.source, d.forget, d.doc_id,
        |    CASE WHEN delfp.fp IS NOT NULL THEN 1 ELSE 0 END AS dfp
        |  FROM d LEFT JOIN delfp ON d.fp = delfp.fp)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(forget) AS BIGINT) AS n_forgotten,
        |  CAST(SUM(CASE WHEN forget = 0 AND dfp = 1 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_content_leaks,
        |  CAST(SUM(CASE WHEN forget = 0 THEN doc_id ELSE 0 END)
        |       AS BIGINT) AS retained_checksum
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "doc_curation_report" -> {
      val stop = TextAnalysis.sqlList(TextAnalysis.stopEn)
      s"""WITH tk AS (
         |  SELECT doc_id, tok
         |  FROM (SELECT doc_id,
         |          unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
         |        FROM documents) WHERE tok <> ''),
         |c AS (SELECT doc_id, tok, COUNT(*) AS c
         |      FROM tk GROUP BY doc_id, tok),
         |m AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |    ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 4) AS entropy,
         |    ROUND(CAST(SUM(CASE WHEN tok IN ($stop)
         |                        THEN c ELSE 0 END) AS DOUBLE) / SUM(c), 4)
         |      AS stop_ratio
         |  FROM c GROUP BY doc_id),
         |keep AS (
         |  SELECT MIN(doc_id) AS doc_id, 1 AS is_first
         |  FROM documents GROUP BY md5(text)),
         |pd AS (
         |  SELECT d.source,
         |    COALESCE(keep.is_first, 0) AS first,
         |    COALESCE(m.n_tokens, 0) AS n_tokens,
         |    CASE WHEN m.n_tokens IS NULL OR m.n_tokens < 10 THEN 0
         |         WHEN m.entropy < 3.0 THEN 0
         |         WHEN m.stop_ratio < 0.05 THEN 0
         |         ELSE 1 END AS quality_ok
         |  FROM documents d
         |  LEFT JOIN m USING (doc_id) LEFT JOIN keep USING (doc_id))
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(first) AS BIGINT) AS n_unique,
         |  CAST(SUM(first * quality_ok) AS BIGINT) AS n_kept,
         |  CAST(SUM(first * quality_ok * n_tokens) AS BIGINT) AS tokens_kept,
         |  ROUND(CAST(SUM(first * quality_ok) AS DOUBLE) / COUNT(*), 4)
         |    AS kept_ratio
         |FROM pd GROUP BY source ORDER BY source""".stripMargin
    },

    "doc_interleave" ->
      """WITH si AS (
        |  SELECT source, ROW_NUMBER() OVER (ORDER BY source) AS idx
        |  FROM (SELECT DISTINCT source FROM documents)),
        |n AS (SELECT COUNT(*) AS n_src FROM si),
        |r AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        |  FROM documents)
        |SELECT CAST((rk - 1) * n_src + idx AS BIGINT) AS pos,
        |  source, doc_id
        |FROM r JOIN si USING (source), n
        |WHERE (rk - 1) * n_src + idx <= 100 ORDER BY pos""".stripMargin,

    "text_repetition" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram
         |  FROM d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
         |  WHERE len(toks) >= 2),
         |cnts AS (
         |  SELECT doc_id, bigram, COUNT(*) AS cnt
         |  FROM bg GROUP BY doc_id, bigram)
         |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         |  ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 4) AS max_ratio,
         |  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 4) AS distinct_ratio
         |FROM cnts GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "doc_pack" ->
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    CAST(len($toksSql) AS BIGINT) AS n_toks
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, n_toks,
         |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS prior
         |  FROM d)
         |SELECT source, CAST(prior // 512 AS BIGINT) AS pack_id,
         |  COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin,

    "doc_pack_greedy" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT source, CAST(len($toksSql) AS BIGINT) AS tk,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS i
         |  FROM documents),
         |cnt AS (SELECT source, COUNT(*) AS m FROM d GROUP BY source),
         |r AS (
         |  SELECT source, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS fill,
         |    CAST(0 AS BIGINT) AS bins, CAST(0 AS BIGINT) AS pad,
         |    CAST(0 AS BIGINT) AS ov
         |  FROM cnt
         |  UNION ALL
         |  SELECT r.source, r.i + 1,
         |    CASE WHEN d.tk > 96 THEN r.fill
         |         WHEN r.fill + d.tk <= 128 THEN r.fill + d.tk
         |         ELSE d.tk END,
         |    CASE WHEN d.tk > 96 THEN r.bins
         |         WHEN r.fill + d.tk <= 128 THEN r.bins
         |         ELSE r.bins + 1 END,
         |    CASE WHEN d.tk > 96 THEN r.pad
         |         WHEN r.fill + d.tk <= 128 THEN r.pad
         |         ELSE r.pad + 128 - r.fill END,
         |    r.ov + CASE WHEN d.tk > 96 THEN 1 ELSE 0 END
         |  FROM r JOIN d ON d.source = r.source AND d.i = r.i + 1),
         |fin AS (
         |  SELECT r.source, cnt.m AS n_docs, r.ov AS n_oversize,
         |    CAST(r.bins + CASE WHEN r.fill > 0 THEN 1 ELSE 0 END
         |      AS BIGINT) AS bins_used,
         |    CAST(r.pad + CASE WHEN r.fill > 0 THEN 128 - r.fill ELSE 0 END
         |      AS BIGINT) AS padding_tokens
         |  FROM r JOIN cnt ON cnt.source = r.source AND r.i = cnt.m)
         |SELECT source, n_docs, n_oversize, bins_used, padding_tokens,
         |  CASE WHEN bins_used = 0 THEN NULL ELSE
         |    ROUND(CAST(padding_tokens AS DOUBLE) / (bins_used * 128), 4)
         |  END AS pad_ratio
         |FROM fin ORDER BY source""".stripMargin,

    // tokenizer-independent columns exactly (incl. the whitespace
    // pack count, replaying doc_pack's fold); the BPE-valued results
    // ride invariant booleans (see the query scaladoc — exact BPE
    // pack arithmetic is spec-pinned on a known merge table)
    "doc_pack_bpe" ->
      s"""WITH d AS (
         |  SELECT source, doc_id, $toksSql AS toks
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_ws,
         |    CAST(COALESCE(list_sum(list_transform(toks,
         |      x -> length(x))), 0) AS BIGINT) AS n_cps,
         |    COALESCE(SUM(CAST(len(toks) AS BIGINT)) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS prior_ws
         |  FROM d)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
         |  CAST(SUM(n_cps) AS BIGINT) AS n_cps,
         |  CAST(COUNT(DISTINCT prior_ws // 512) AS BIGINT) AS n_packs_ws,
         |  TRUE AS bpe_bounds_ok, TRUE AS packs_bounded
         |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // both envelope packings replay exactly (the same windowed fold in
    // ws and code-point currency); the two booleans are the engine's
    // provable BPE-packing invariants, pinned TRUE
    "doc_pack_bpe_efficiency" ->
      s"""WITH d AS (
         |  SELECT source, doc_id, $toksSql AS toks
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_ws,
         |    CAST(COALESCE(list_sum(list_transform(toks,
         |      x -> length(x))), 0) AS BIGINT) AS n_cps,
         |    COALESCE(SUM(CAST(len(toks) AS BIGINT)) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS prior_ws,
         |    COALESCE(SUM(CAST(COALESCE(list_sum(list_transform(toks,
         |        x -> length(x))), 0) AS BIGINT)) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS prior_cps
         |  FROM d),
         |g AS (
         |  SELECT source,
         |    CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
         |    CAST(SUM(n_cps) AS BIGINT) AS cps,
         |    CAST(COUNT(DISTINCT prior_ws // 512) AS BIGINT)
         |      AS n_packs_ws,
         |    CAST(COUNT(DISTINCT prior_cps // 512) AS BIGINT)
         |      AS n_packs_cps
         |  FROM c GROUP BY source)
         |SELECT source, n_packs_ws,
         |  CAST(ws_tokens * 10000 // (512 * n_packs_ws) AS BIGINT)
         |    AS ws_fill_e4,
         |  n_packs_cps,
         |  CAST(cps * 10000 // (512 * n_packs_cps) AS BIGINT)
         |    AS cps_fill_e4,
         |  TRUE AS bpe_packs_nonempty, TRUE AS bpe_in_envelope
         |FROM g ORDER BY source""".stripMargin,

    "text_bigram_lm" ->
      s"""WITH $lmSql
         |SELECT doc_id, n_bigrams, avg_logprob
         |FROM lm ORDER BY doc_id""".stripMargin,

    "text_perplexity_tiers" ->
      s"""WITH $lmSql,
         |n AS (SELECT COUNT(*) AS n_docs_total FROM lm),
         |r AS (
         |  SELECT doc_id, avg_logprob AS lm_score,
         |    ROW_NUMBER() OVER (ORDER BY avg_logprob DESC, doc_id) AS rnk
         |  FROM lm)
         |SELECT doc_id, lm_score, CAST(rnk AS BIGINT) AS rnk,
         |  CASE 1 + (3 * (rnk - 1)) // n_docs_total
         |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier
         |FROM r, n ORDER BY doc_id""".stripMargin,

    "text_boilerplate" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks
         |  FROM documents),
         |u AS (
         |  SELECT doc_id, array_to_string(list_slice(toks, i, i + 9), ' ')
         |    AS unit
         |  FROM d, unnest(generate_series(1, len(toks) - 9, 10)) AS t(i)
         |  WHERE len(toks) >= 10),
         |freq AS (
         |  SELECT unit, COUNT(DISTINCT doc_id) AS n_docs_with
         |  FROM u GROUP BY unit)
         |SELECT doc_id, COUNT(*) AS n_units,
         |  CAST(SUM(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_boiler,
         |  ROUND(CAST(SUM(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END)
         |      AS DOUBLE) / COUNT(*), 4) AS boiler_ratio
         |FROM u JOIN freq USING (unit)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN ' reach me at user' || doc_id || '@example.com'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |         THEN ' or call 555-867-5309' ELSE '' END AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t2,
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  CAST(length(t2) AS BIGINT) AS len_raw,
        |  CAST(length(regexp_replace(regexp_replace(t2,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS BIGINT)
        |    AS len_scrubbed
        |FROM p ORDER BY doc_id""".stripMargin,

    "doc_manifest" -> {
      // DuckDB has no conv(): expand the 8-hex-digit window into
      // positional strpos terms (same idiom as the sketch oracles)
      val h32 = (1 to 8).map { i =>
        val w = math.pow(16, 8 - i).toLong
        s"(strpos('0123456789abcdef', substring(" +
          s"md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * $w"
      }.mkString(" + ")
      s"""SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  CAST(SUM($h32) AS BIGINT) AS checksum
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    },

    "doc_sample_stratified" -> {
      val h32 = (1 to 8).map { i =>
        val w = math.pow(16, 8 - i).toLong
        s"(strpos('0123456789abcdef', substring(" +
          s"md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * $w"
      }.mkString(" + ")
      s"""WITH h AS (
         |  SELECT source, doc_id, CAST($h32 AS BIGINT) AS h32
         |  FROM documents),
         |p AS (
         |  SELECT source, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |                       ORDER BY h32, doc_id) AS pos
         |  FROM h)
         |SELECT source, CAST(pos AS BIGINT) AS pos, doc_id
         |FROM p WHERE pos <= 10 ORDER BY source, pos""".stripMargin
    },

    "doc_sample_weighted" ->
      """WITH d AS (SELECT doc_id, n_chars FROM documents),
        |t AS (SELECT CAST(SUM(n_chars) // 50 AS BIGINT) AS step FROM d),
        |c AS (
        |  SELECT doc_id, n_chars,
        |    CAST(SUM(n_chars) OVER (ORDER BY n_chars DESC, doc_id
        |                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS cum
        |  FROM d)
        |SELECT doc_id, n_chars,
        |  CAST(cum // step - (cum - n_chars) // step AS BIGINT) AS n_copies
        |FROM c, t
        |WHERE cum // step - (cum - n_chars) // step > 0
        |ORDER BY doc_id""".stripMargin,

    "doc_upsert" ->
      """WITH t AS (SELECT doc_id, text FROM documents),
        |b AS (
        |  SELECT doc_id, text || ' v2' AS text FROM t WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, text FROM t WHERE doc_id % 3 = 0 AND doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM t WHERE doc_id % 17 = 0),
        |m AS (
        |  SELECT CASE WHEN t.text IS NULL THEN 'inserted'
        |              WHEN b.text IS NULL THEN 'retained'
        |              WHEN b.text = t.text THEN 'unchanged'
        |              ELSE 'updated' END AS action,
        |    CAST(length(COALESCE(b.text, t.text)) AS BIGINT) AS chars
        |  FROM t FULL OUTER JOIN b USING (doc_id))
        |SELECT action, COUNT(*) AS n_docs,
        |  CAST(SUM(chars) AS BIGINT) AS total_chars
        |FROM m GROUP BY action ORDER BY action""".stripMargin,

    "doc_shuffle" -> {
      val h32 = (1 to 8).map { i =>
        val w = math.pow(16, 8 - i).toLong
        s"(strpos('0123456789abcdef', substring(" +
          s"md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * $w"
      }.mkString(" + ")
      s"""WITH h AS (SELECT doc_id, $h32 AS h32 FROM documents),
         |p AS (
         |  SELECT CAST(h32 % 32 AS BIGINT) AS shard, h32,
         |    ROW_NUMBER() OVER (PARTITION BY h32 % 32
         |                       ORDER BY h32, doc_id) AS pos
         |  FROM h)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(pos * (h32 % 1000003)) AS BIGINT) AS ord_checksum
         |FROM p GROUP BY shard ORDER BY shard""".stripMargin
    },

    "doc_mixture" -> {
      // same positional-strpos expansion of the 7-hex-digit window
      // (md5 chars 9-15) as the doc_manifest checksum idiom
      val h28 = (9 to 15).map { i =>
        val w = math.pow(16, 15 - i).toLong
        s"(strpos('0123456789abcdef', substring(" +
          s"md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * $w"
      }.mkString(" + ")
      s"""WITH b AS (
         |  SELECT doc_id, source, n_chars,
         |    (1 + (strpos('0123456789abcdef', substring(md5(source), 1, 1))
         |          - 1) % 5) / 2.0 AS w,
         |    ($h28) / 268435456.0 AS hf
         |  FROM documents),
         |c AS (
         |  SELECT source, n_chars, w,
         |    CAST(FLOOR(w) + CASE WHEN hf < w - FLOOR(w) THEN 1 ELSE 0 END
         |         AS BIGINT) AS n_copies
         |  FROM b)
         |SELECT source, ROUND(MAX(w), 1) AS weight, COUNT(*) AS n_docs,
         |  CAST(SUM(n_copies) AS BIGINT) AS n_examples,
         |  CAST(SUM(n_copies * n_chars) AS BIGINT) AS n_chars_out
         |FROM c GROUP BY source ORDER BY source""".stripMargin
    },

    "doc_pipeline_summary" ->
      s"""WITH base AS (
         |  SELECT doc_id, md5(text) AS h, $toksSql AS toks
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, h, CAST(len(toks) AS BIGINT) AS n_toks,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
         |  FROM base),
         |dedup AS (
         |  SELECT doc_id, n_toks, n_distinct
         |  FROM m JOIN (SELECT h, MIN(doc_id) AS keep_id FROM m GROUP BY h)
         |    k ON m.h = k.h AND m.doc_id = k.keep_id),
         |passed AS (
         |  SELECT doc_id, n_toks FROM dedup
         |  WHERE n_toks >= 10 AND n_distinct * 5 >= n_toks)
         |SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
         |              IN ('d', 'e') THEN 'val'
         |            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'
         |              THEN 'test'
         |            ELSE 'train' END AS split,
         |  COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
         |FROM passed GROUP BY split ORDER BY split""".stripMargin,

    "dedup_containment" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks
         |  FROM documents),
         |sh AS (
         |  -- raw shingle strings: only pair COUNTS reach the output, so
         |  -- the oracle needn't reproduce Spark's xxhash64 keys
         |  SELECT DISTINCT doc_id,
         |    toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
         |      || ' ' || toks[i + 3] || ' ' || toks[i + 4] AS shingle
         |  FROM d, unnest(generate_series(1, len(toks) - 4)) AS t(i)
         |  WHERE len(toks) >= 5),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |    AND a.doc_id < b.doc_id
         |  GROUP BY doc_a, doc_b)
         |SELECT doc_a, doc_b, shared,
         |  ROUND(CAST(shared AS DOUBLE) / sa.n, 4) AS cont_a,
         |  ROUND(CAST(shared AS DOUBLE) / sb.n, 4) AS cont_b
         |FROM pairs
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE shared * 2 >= sa.n OR shared * 2 >= sb.n
         |ORDER BY doc_a, doc_b""".stripMargin,

    "doc_dedup_paragraphs" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks
         |  FROM documents),
         |blocks AS (
         |  SELECT doc_id, start,
         |    CAST(len(list_slice(toks, start + 1, start + 20)) AS BIGINT)
         |      AS n_toks,
         |    md5(array_to_string(list_slice(toks, start + 1, start + 20), ' '))
         |      AS h
         |  FROM d, unnest(generate_series(0, len(toks) - 1, 20)) AS t(start)
         |  WHERE len(toks) >= 1),
         |first AS (SELECT h, MIN({'doc_id': doc_id, 'start': start}) AS fo
         |          FROM blocks GROUP BY h),
         |flagged AS (
         |  SELECT doc_id, n_toks,
         |    ({'doc_id': doc_id, 'start': start} = fo) AS is_first
         |  FROM blocks JOIN first USING (h))
         |SELECT doc_id, COUNT(*) AS n_blocks,
         |  CAST(SUM(CASE WHEN NOT is_first THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_blocks,
         |  CAST(SUM(CASE WHEN is_first THEN n_toks ELSE 0 END)
         |    AS BIGINT) AS kept_tokens,
         |  ROUND(CAST(SUM(CASE WHEN NOT is_first THEN 1 ELSE 0 END)
         |      AS DOUBLE) / COUNT(*), 4) AS dup_ratio
         |FROM flagged
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "doc_epoch_plan" ->
      s"""$epochPlanSql
        |SELECT source, tok AS n_tokens,
        |  ROUND(CAST(w_e4 AS DOUBLE) / 1e4, 4) AS weight,
        |  ROUND(CAST(ep AS DOUBLE) / 1e10, 4) AS epochs,
        |  ROUND(CAST(tok AS DOUBLE) * (CAST(ep AS DOUBLE) / 1e10), 2)
        |    AS alloc_tokens,
        |  CAST(CASE WHEN ep = 40000000000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS capped
        |FROM plan
        |ORDER BY source""".stripMargin,

    "doc_epoch_expand" -> {
      // md5 chars 9-15 as a 28-bit integer via the positional strpos
      // expansion (DuckDB has no conv()) — the doc_mixture idiom
      val h28 = (9 to 15).map { i =>
        val w = math.pow(16, 15 - i).toLong
        s"(strpos('0123456789abcdef', substring(" +
          s"md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * $w"
      }.mkString(" + ")
      s"""$epochPlanSql,
         |docs AS (
         |  SELECT doc_id, source,
         |    (CAST(($h28) AS BIGINT) * 10000000000) // 268435456 AS hf_e10
         |  FROM documents)
         |SELECT d.doc_id, d.source,
         |  CAST(p.ep // 10000000000 AS BIGINT) AS full_copies,
         |  CAST(p.ep // 10000000000
         |       + CASE WHEN d.hf_e10 < p.ep % 10000000000 THEN 1 ELSE 0
         |         END AS BIGINT) AS n_copies
         |FROM docs d JOIN plan p USING (source)
         |ORDER BY doc_id""".stripMargin
    },

    "doc_dsir_weights" -> dsirWeightsSql,

    "doc_dsir_select" ->
      s"""WITH dw AS (
         |$dsirWeightsSql
         |),
         |top AS (
         |  SELECT w.doc_id, d.source, w.dsir_score
         |  FROM dw w JOIN documents d ON d.doc_id = w.doc_id
         |  ORDER BY w.dsir_score DESC, w.doc_id LIMIT 100)
         |SELECT CAST(ROW_NUMBER() OVER (
         |    ORDER BY dsir_score DESC, doc_id) AS BIGINT) AS rank,
         |  doc_id, source, dsir_score
         |FROM top ORDER BY rank""".stripMargin,


    "text_dup_ngram_rate" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, $toksSql AS toks FROM documents),
         |gm AS (
         |  SELECT source,
         |    array_to_string(list_slice(toks, i, i + 7), ' ') AS g
         |  FROM d, unnest(generate_series(1, len(toks) - 7)) AS t(i)
         |  WHERE len(toks) >= 8),
         |fr AS (
         |  SELECT g, COUNT(*) AS cnt, COUNT(DISTINCT source) AS n_src
         |  FROM gm GROUP BY g),
         |a AS (
         |  SELECT source, COUNT(*) AS n_grams,
         |    CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dup_occ,
         |    CAST(SUM(CASE WHEN n_src > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_xsrc_occ
         |  FROM gm JOIN fr USING (g) GROUP BY source)
         |SELECT source, n_grams, n_dup_occ, n_xsrc_occ,
         |  ROUND(CAST(n_dup_occ AS DOUBLE) / n_grams, 4) AS dup_share,
         |  ROUND(CAST(n_xsrc_occ AS DOUBLE) / n_grams, 4)
         |    AS x_source_share
         |FROM a ORDER BY source""".stripMargin,

    "doc_dup_spans" ->
      s"""WITH dd AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |gm AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
         |    CAST(i AS BIGINT) AS p,
         |    array_to_string(list_slice(toks, i, i + 7), ' ') AS g
         |  FROM dd, unnest(generate_series(1, len(toks) - 7)) AS t(i)
         |  WHERE len(toks) >= 8),
         |fr AS (SELECT g FROM gm GROUP BY g HAVING COUNT(*) > 1),
         |dup AS (SELECT doc_id, n_toks, p FROM gm JOIN fr USING (g)),
         |isl AS (
         |  SELECT doc_id, n_toks, p,
         |    CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
         |           <= 8 THEN 0 ELSE 1 END AS newi
         |  FROM dup),
         |iid AS (
         |  SELECT doc_id, n_toks, p,
         |    SUM(newi) OVER (PARTITION BY doc_id ORDER BY p
         |                    ROWS UNBOUNDED PRECEDING) AS iid
         |  FROM isl),
         |sp AS (
         |  SELECT doc_id, n_toks, iid, MIN(p) AS sp, MAX(p) + 7 AS ep
         |  FROM iid GROUP BY 1, 2, 3)
         |SELECT doc_id, n_toks, CAST(COUNT(*) AS BIGINT) AS n_spans,
         |  CAST(SUM(ep - sp + 1) AS BIGINT) AS dup_tokens,
         |  CAST(MAX(ep - sp + 1) AS BIGINT) AS max_span,
         |  ROUND(CAST(SUM(ep - sp + 1) AS DOUBLE) / n_toks, 4)
         |    AS dup_share
         |FROM sp GROUP BY doc_id, n_toks ORDER BY doc_id""".stripMargin,

    "doc_dup_savings" ->
      s"""WITH dd AS (
         |  SELECT doc_id, source, $toksSql AS toks FROM documents),
         |gm AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS p,
         |    array_to_string(list_slice(toks, i, i + 7), ' ') AS g
         |  FROM dd, unnest(generate_series(1, len(toks) - 7)) AS t(i)
         |  WHERE len(toks) >= 8),
         |fr AS (SELECT g FROM gm GROUP BY g HAVING COUNT(*) > 1),
         |dup AS (SELECT doc_id, p FROM gm JOIN fr USING (g)),
         |isl AS (
         |  SELECT doc_id, p,
         |    CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
         |           <= 8 THEN 0 ELSE 1 END AS newi
         |  FROM dup),
         |iid AS (
         |  SELECT doc_id, p,
         |    SUM(newi) OVER (PARTITION BY doc_id ORDER BY p
         |                    ROWS UNBOUNDED PRECEDING) AS iid
         |  FROM isl),
         |sp AS (
         |  SELECT doc_id, iid, MIN(p) AS sp, MAX(p) + 7 AS ep
         |  FROM iid GROUP BY 1, 2),
         |perdoc AS (
         |  SELECT doc_id, CAST(SUM(ep - sp + 1) AS BIGINT) AS dup_tokens
         |  FROM sp GROUP BY doc_id),
         |tot AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(len(toks)) AS BIGINT) AS total_tokens
         |  FROM dd GROUP BY source),
         |dsum AS (
         |  SELECT dd.source,
         |    CAST(SUM(COALESCE(pd.dup_tokens, 0)) AS BIGINT) AS dup_tokens
         |  FROM dd LEFT JOIN perdoc pd ON pd.doc_id = dd.doc_id
         |  GROUP BY dd.source)
         |SELECT t.source, t.n_docs, t.total_tokens, s.dup_tokens,
         |  ROUND(CAST(s.dup_tokens AS DOUBLE) / t.total_tokens, 4)
         |    AS dup_share,
         |  t.total_tokens - s.dup_tokens AS tokens_after
         |FROM tot t JOIN dsum s USING (source)
         |ORDER BY t.source""".stripMargin,

    "text_contamination_ngrams" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks,
         |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
         |           IN ('d', 'e') THEN 'val'
         |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'
         |           THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, split,
         |    array_to_string(list_slice(toks, i, i + 7), ' ') AS g
         |  FROM d, unnest(generate_series(1, len(toks) - 7)) AS t(i)
         |  WHERE len(toks) >= 8),
         |tr AS (SELECT DISTINCT g FROM g WHERE split = 'train'),
         |ev AS (
         |  SELECT g.doc_id, g.split, (tr.g IS NOT NULL) AS hit
         |  FROM g LEFT JOIN tr ON g.g = tr.g
         |  WHERE g.split <> 'train'),
         |agg AS (
         |  SELECT doc_id, split, COUNT(*) AS n_grams,
         |    CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM ev GROUP BY doc_id, split)
         |SELECT doc_id, split, n_grams, n_hit,
         |  ROUND(CAST(n_hit AS DOUBLE) / n_grams, 4) AS hit_ratio,
         |  (n_hit * 10 >= n_grams) AS contaminated
         |FROM agg ORDER BY doc_id""".stripMargin,

    "doc_sample_unimax" ->
      """WITH sizes AS (
        |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |k AS (SELECT COUNT(*) AS k FROM sizes),
        |ranked AS (
        |  SELECT source, n_docs, n_docs * 2 AS cap,
        |    ROW_NUMBER() OVER (ORDER BY n_docs, source) AS rn,
        |    COALESCE(SUM(n_docs * 2) OVER (ORDER BY n_docs, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumcap
        |  FROM sizes),
        |f AS (
        |  SELECT r.*, k.k,
        |    (cap * (k - rn + 1) <= 1000 - cumcap) AS is_capped
        |  FROM ranked r, k),
        |istar AS (
        |  SELECT MIN({'rn': rn, 'cumcap': cumcap}) AS fo
        |  FROM f WHERE NOT is_capped),
        |a AS (
        |  SELECT f.source, f.n_docs, f.cap,
        |    CASE WHEN is_capped THEN cap
        |         ELSE (1000 - fo.cumcap) // (k - fo.rn + 1) END AS alloc
        |  FROM f, istar)
        |SELECT source, n_docs, CAST(cap AS BIGINT) AS cap_docs,
        |  CAST(alloc AS BIGINT) AS alloc_docs,
        |  ROUND(CAST(alloc AS DOUBLE) / n_docs, 4) AS epochs
        |FROM a ORDER BY source""".stripMargin,

    "text_learnability" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks
         |  FROM documents),
         |bgs AS (
         |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
         |    toks[i] || ' ' || toks[i + 1] AS bg
         |  FROM d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
         |  WHERE len(toks) >= 2),
         |c2 AS (SELECT bg, COUNT(*) AS c2 FROM bgs GROUP BY bg),
         |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bgs GROUP BY w1),
         |cu AS (SELECT w2, COUNT(*) AS cu FROM bgs GROUP BY w2),
         |n AS (SELECT COUNT(*) AS nn FROM bgs),
         |terms AS (
         |  SELECT doc_id,
         |    CAST(ROUND((log2(CAST(c2 AS DOUBLE) / c1)
         |      - log2(CAST(cu AS DOUBLE) / nn)) * 1e6) AS BIGINT) AS t_e6
         |  FROM bgs JOIN c2 USING (bg) JOIN c1 USING (w1)
         |    JOIN cu USING (w2), n)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  ROUND(CAST(SUM(t_e6) AS DOUBLE) / (COUNT(*) * 1e6), 4)
         |    + 0.0 AS learn_score
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "doc_sample_temperature" -> {
      val h32 = (1 to 8).map { i =>
        val w = math.pow(16, 8 - i).toLong
        s"(strpos('0123456789abcdef', substring(" +
          s"md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * $w"
      }.mkString(" + ")
      s"""WITH sizes AS (
         |  SELECT source, COUNT(*) AS n_s, pow(COUNT(*), 0.7) AS w
         |  FROM documents GROUP BY source),
         |tot AS (SELECT SUM(w) AS wsum FROM sizes),
         |ks AS (
         |  SELECT source, CAST(FLOOR(100.0 * w / wsum + 1e-9) AS BIGINT)
         |    AS k_target
         |  FROM sizes, tot),
         |h AS (
         |  SELECT source, doc_id, CAST($h32 AS BIGINT) AS h32
         |  FROM documents),
         |p AS (
         |  SELECT source, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |                       ORDER BY h32, doc_id) AS pos
         |  FROM h)
         |SELECT source, k_target, CAST(pos AS BIGINT) AS pos, doc_id
         |FROM p JOIN ks USING (source)
         |WHERE pos <= k_target ORDER BY source, pos""".stripMargin
    },

    "doc_shard_assign" ->
      """WITH o AS (
        |  SELECT doc_id,
        |    arg_max(n, md5(doc_id || ':' || n)) FILTER (n < 8) AS owner8,
        |    arg_max(n, md5(doc_id || ':' || n)) AS owner9
        |  FROM documents, unnest(generate_series(0, 8)) AS t(n)
        |  GROUP BY doc_id)
        |SELECT owner8 AS node, COUNT(*) AS n_before,
        |  CAST(SUM(CASE WHEN owner9 = owner8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN owner9 <> owner8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_moved_out,
        |  CAST(SUM(CASE WHEN owner9 <> owner8 AND owner9 = 8
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_to_new
        |FROM o GROUP BY node ORDER BY node""".stripMargin,

    "doc_length_outliers" ->
      s"""WITH d AS (
         |  SELECT source, doc_id, CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |m AS (
         |  SELECT source,
         |    CAST(ROUND(quantile_cont(n_tok, 0.5) * 2) AS BIGINT) AS med2
         |  FROM d GROUP BY source),
         |dev AS (
         |  SELECT d.source, d.doc_id, d.n_tok, m.med2,
         |    ABS(2 * d.n_tok - m.med2) AS dev2
         |  FROM d JOIN m ON d.source = m.source),
         |md AS (
         |  SELECT source,
         |    CAST(ROUND(quantile_cont(dev2, 0.5) * 2) AS BIGINT) AS mad4
         |  FROM dev GROUP BY source)
         |SELECT dev.source, COUNT(*) AS n_docs,
         |  ROUND(CAST(MIN(dev.med2) AS DOUBLE) / 2, 1) AS median_tokens,
         |  ROUND(CAST(MIN(md.mad4) AS DOUBLE) / 4, 2) AS mad_tokens,
         |  CAST(SUM(CASE WHEN dev2 * 2 > mad4 * 5 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_outliers,
         |  COALESCE(MAX(CASE WHEN dev2 * 2 > mad4 * 5 THEN n_tok END), 0)
         |    AS max_outlier_tokens
         |FROM dev JOIN md ON dev.source = md.source
         |GROUP BY dev.source ORDER BY dev.source""".stripMargin,

    "doc_quality_vs_dup" ->
      """WITH tk AS (
        |  SELECT doc_id, tok
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |        FROM documents) WHERE tok <> ''),
        |q AS (
        |  SELECT doc_id,
        |    ROUND(CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*), 4) AS ttr
        |  FROM tk GROUP BY doc_id),
        |dec AS (
        |  SELECT doc_id,
        |    LEAST(9, CAST(ROUND(ttr * 1e4) AS BIGINT) // 1000) AS decile
        |  FROM q),
        |f AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |dup AS (SELECT fp FROM (SELECT fp, COUNT(*) AS c FROM f GROUP BY fp)
        |        WHERE c > 1),
        |fl AS (
        |  SELECT f.doc_id,
        |    CASE WHEN dup.fp IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        |  FROM f LEFT JOIN dup ON f.fp = dup.fp)
        |SELECT decile, COUNT(*) AS n_docs,
        |  CAST(SUM(is_dup) AS BIGINT) AS n_dups,
        |  ROUND(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*), 4) AS dup_share
        |FROM dec JOIN fl USING (doc_id)
        |GROUP BY decile ORDER BY decile""".stripMargin,

    "doc_bloom_decontaminate" -> {
      def hexAt(i: Int) =
        s"(strpos('0123456789abcdef', substring(md5(gs), $i, 1)) - 1)"
      def pos5(r: Int) =
        (1 until 5).foldLeft(hexAt(5 * r + 1)) { (e, j) =>
          s"($e * 16 + ${hexAt(5 * r + 1 + j)})"
        } + " % 258048"
      val bitRows = (0 until 4).map(r =>
        s"SELECT (${pos5(r)}) AS p FROM tg").mkString("\n  UNION ALL\n  ")
      val probeRows = (0 until 4).map(r =>
        s"SELECT doc_id, split, occ, (${pos5(r)}) AS p FROM eg")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
         |           IN ('d','e') THEN 'val'
         |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'
         |           THEN 'test'
         |         ELSE 'train' END AS split,
         |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                x -> x <> '') AS toks
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, split, i - 1 AS occ,
         |    array_to_string(list_slice(toks, i, i + 7), ' ') AS gs
         |  FROM toks, unnest(generate_series(1, len(toks) - 7)) AS t(i)
         |  WHERE len(toks) >= 8),
         |eg0 AS (SELECT * FROM grams WHERE split <> 'train'),
         |tg AS (SELECT DISTINCT gs FROM grams WHERE split = 'train'),
         |eg AS (
         |  SELECT eg0.doc_id AS doc_id, eg0.split AS split,
         |    eg0.occ AS occ, eg0.gs AS gs,
         |    CASE WHEN tg.gs IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
         |  FROM eg0 LEFT JOIN tg ON eg0.gs = tg.gs),
         |bits AS (
         |  SELECT CAST(p // 63 AS INTEGER) AS word_j,
         |    CAST(bit_or(1::BIGINT << (p % 63)) AS BIGINT) AS bits
         |  FROM ($bitRows) GROUP BY 1),
         |gh AS (
         |  SELECT probe.doc_id AS doc_id, probe.split AS split,
         |    probe.occ AS occ,
         |    MIN(CASE WHEN bits.bits IS NOT NULL
         |             AND (bits.bits & (1::BIGINT << (p % 63))) <> 0
         |        THEN 1 ELSE 0 END) AS bloom_hit
         |  FROM ($probeRows) probe
         |  LEFT JOIN bits ON CAST(p // 63 AS INTEGER) = bits.word_j
         |  GROUP BY 1, 2, 3),
         |ex AS (
         |  SELECT doc_id, occ, MIN(exact_hit) AS exact_hit
         |  FROM eg GROUP BY 1, 2)
         |SELECT gh.doc_id AS doc_id, gh.split AS split, COUNT(*) AS n_grams,
         |  CAST(SUM(bloom_hit) AS BIGINT) AS n_bloom,
         |  CAST(SUM(exact_hit) AS BIGINT) AS n_exact,
         |  CAST(SUM(bloom_hit) - SUM(exact_hit) AS BIGINT) AS n_false_pos,
         |  (SUM(bloom_hit) * 10 >= COUNT(*)) AS contaminated
         |FROM gh JOIN ex ON gh.doc_id = ex.doc_id AND gh.occ = ex.occ
         |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin
    },

    "doc_novelty_curve" ->
      """WITH mx AS (SELECT MAX(doc_id) AS mid FROM documents),
        |g AS (
        |  SELECT LEAST(9, doc_id * 10 // (mx.mid + 1)) AS batch,
        |    hash(array_to_string(list_slice(toks, i, i + 7), ' ')) AS gh
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                      x -> x <> '') AS toks
        |        FROM documents), mx,
        |    unnest(generate_series(1, len(toks) - 7)) AS t(i)
        |  WHERE len(toks) >= 8),
        |gb AS (SELECT DISTINCT batch, gh FROM g),
        |fb AS (SELECT gh, MIN(batch) AS b0 FROM gb GROUP BY gh),
        |pb AS (
        |  SELECT gb.batch AS batch, COUNT(*) AS n_grams,
        |    CAST(SUM(CASE WHEN fb.b0 = gb.batch THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new
        |  FROM gb JOIN fb ON gb.gh = fb.gh GROUP BY gb.batch)
        |SELECT batch, n_grams, n_new,
        |  ROUND(CAST(n_new AS DOUBLE) / n_grams, 4) AS novelty,
        |  CAST(SUM(n_new) OVER (ORDER BY batch) AS BIGINT) AS cum_distinct
        |FROM pb ORDER BY batch""".stripMargin,

    "doc_curriculum_phases" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, unnest($toksSql) AS tok
         |  FROM documents),
         |perdoc AS (
         |  SELECT doc_id, source, COUNT(*) AS n_tokens,
         |    ROUND(CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*), 4)
         |      AS ttr
         |  FROM tok GROUP BY doc_id, source),
         |ph AS (
         |  SELECT source, n_tokens, ttr,
         |    CAST(NTILE(3) OVER (PARTITION BY source
         |      ORDER BY ttr DESC, doc_id ASC) AS BIGINT) AS phase
         |  FROM perdoc)
         |SELECT source, phase, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  MIN(ttr) AS min_ttr, MAX(ttr) AS max_ttr
         |FROM ph GROUP BY source, phase
         |ORDER BY source, phase""".stripMargin,

    "doc_lang_mix" ->
      """WITH g AS (
        |  SELECT source, lang, COUNT(*) AS nd
        |  FROM documents GROUP BY 1, 2),
        |dom AS (
        |  SELECT source, lang AS dominant_lang, nd AS dn FROM (
        |    SELECT source, lang, nd, ROW_NUMBER() OVER (
        |      PARTITION BY source ORDER BY nd DESC, lang ASC) AS rn
        |    FROM g) WHERE rn = 1),
        |r AS (
        |  SELECT source, CAST(SUM(nd) AS BIGINT) AS n_docs,
        |    COUNT(*) AS n_langs,
        |    CAST(SUM(CAST(ROUND(CAST(nd AS DOUBLE) * log2(nd) * 1e10)
        |      AS BIGINT)) AS BIGINT) AS te10
        |  FROM g GROUP BY source)
        |SELECT r.source, r.n_docs, r.n_langs, d.dominant_lang,
        |  ROUND(CAST(d.dn AS DOUBLE) / r.n_docs, 4) AS dom_share,
        |  ROUND(log2(r.n_docs)
        |    - (CAST(te10 AS DOUBLE) / 1e10) / r.n_docs, 4)
        |    AS lang_entropy
        |FROM r JOIN dom d ON d.source = r.source
        |ORDER BY r.source""".stripMargin,

    "doc_mixture_targets" ->
      s"""WITH tok AS (
         |  SELECT source, unnest($toksSql) AS tok FROM documents),
         |g AS (SELECT source, COUNT(*) AS stok FROM tok GROUP BY 1),
         |w1 AS (
         |  SELECT *, COUNT(*) OVER () AS n_src,
         |    CAST(SUM(stok) OVER () AS BIGINT) AS ttok
         |  FROM g),
         |w2 AS (
         |  SELECT *, LEAST(30000,
         |    (ttok * 10000) // (n_src * stok)) AS factor_e4
         |  FROM w1),
         |w3 AS (
         |  SELECT *, (stok * factor_e4) // 10000 AS eff_tok FROM w2),
         |w4 AS (
         |  SELECT *, CAST(SUM(eff_tok) OVER () AS BIGINT) AS teff
         |  FROM w3)
         |SELECT source, stok AS n_tokens,
         |  ROUND(CAST(stok AS DOUBLE) / ttok, 4) AS actual_share,
         |  ROUND(CAST(factor_e4 AS DOUBLE) / 1e4, 4) AS factor,
         |  factor_e4 = 30000 AS capped,
         |  CAST(eff_tok AS BIGINT) AS eff_tokens,
         |  ROUND(CAST(eff_tok AS DOUBLE) / teff, 4) AS achieved_share
         |FROM w4 ORDER BY source""".stripMargin)
}
