package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Deduplication operators for a training-data pipeline (SURVEY.md §2.5):
  * exact (hash group-by), word-shingle Jaccard, MinHash signatures,
  * MinHash-LSH candidate pairs, and SimHash — all deterministic and
  * oracle-checkable because `md5()` is bit-identical in Spark and DuckDB.
  *
  * Scale design: every variant is a shuffle-bounded groupBy/join on
  * content-derived keys — no driver-side state, no O(n²) comparisons
  * (LSH banding turns near-dup search into an equi-join on band keys,
  * which at 100 TB is a plain shuffle join with skew handled by AQE).
  */
object Dedup {

  /** Non-empty whitespace tokens of lower(text). */
  private def toksCol: Column =
    expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")

  /** Distinct word k-shingles per doc: (doc_id, shingle). With
    * `hashed=true` the shingle is folded to xxhash64 BEFORE the distinct
    * — 8-byte shuffle keys instead of ~30-char strings for the dedup and
    * self-join downstream (the 100 TB shape: set operations over content
    * hashes, never raw n-gram strings; a 64-bit collision perturbs a
    * Jaccard count with probability ~n²/2⁶⁴ per doc pair). */
  // private[graft]: InventorySpec audits this RAW build plan (the
  // memoized shingles3Shared/shingles5Shared hide it behind a
  // LogicalRDD scan)
  /** The raw (pre-distinct) k-shingle occurrence stream behind
    * [[shingles]]. `fanned` spreads the tokenize + explode over every
    * core FIRST (engine.Layout.fanOut, guarded no-op at scale) — only
    * for consumers that run per-shingle hashing in the same stage
    * (sketch_kmv_intersect's md5): for plain consumers the shingling
    * is cheap and the distinct's exchange follows immediately, and the
    * extra exchange measurably cost dedup_weighted_jaccard 2× (r16). */
  private[graft] def shingleStream(s: SparkSession, d: String, k: Int,
      fanned: Boolean = false): DataFrame = {
    import s.implicits._
    val base0 = t(s, d, "documents").select($"doc_id", $"text")
    val base = if (fanned) graft.engine.Layout.fanOut(s, base0) else base0
    base
      .select($"doc_id", toksCol.as("toks"))
      .filter(size($"toks") >= k)
      .select($"doc_id", explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1})," +
          s" i -> array_join(slice(toks, i, $k), ' '))")).as("shingle"))
  }

  private[graft] def shingles(s: SparkSession, d: String, k: Int,
      hashed: Boolean = false): DataFrame = {
    import s.implicits._
    val raw = shingleStream(s, d, k)
    (if (hashed) raw.select($"doc_id", xxhash64($"shingle").as("shingle"))
     else raw).distinct()
  }

  /** k=6 MinHash signatures: one md5 per shingle, split into six disjoint
    * 5-hex-digit (20-bit) windows — the bits of a 128-bit digest are
    * independent, so each window is its own hash function; sig_i is the
    * lexicographic min of window i over the doc's shingles.
    *
    * Computed entirely within-row (`transform` + `array_min` over the
    * shingle array): min is insensitive to duplicate shingles, so no
    * explode/distinct/groupBy — ZERO shuffles, one md5 per shingle. At
    * 100 TB this makes signature extraction a pure map stage that scales
    * linearly with executors. */
  private def minhashSigs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sigCols = (1 to 6).map(i =>
      expr(s"array_min(transform(hs, h -> substring(h, ${(i - 1) * 5 + 1}, 5)))")
        .as(s"h$i"))
    // fan out before the md5-per-trigram map (engine.Layout.fanOut —
    // the signature extraction stays a pure map stage, now on every
    // core instead of the single-file scan's one task)
    graft.engine.Layout.fanOut(s,
        t(s, d, "documents").select($"doc_id", $"text"))
      .select($"doc_id", toksCol.as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", expr(
        "transform(sequence(1, size(toks) - 2)," +
          " i -> md5(cast(array_join(slice(toks, i, 3), ' ') as binary)))").as("hs"))
      .select(($"doc_id" +: sigCols): _*)
  }

  private[queries] def shinglesSql(k: Int, alias: String): String = {
    val cat = (0 until k).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
    s"""$alias AS (
       |  SELECT DISTINCT doc_id, $cat AS shingle
       |  FROM (SELECT doc_id,
       |          list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |                      x -> x <> '') AS toks
       |        FROM documents),
       |       unnest(generate_series(1, len(toks) - ${k - 1})) AS t(i)
       |  WHERE len(toks) >= $k)""".stripMargin
  }

  private[queries] val sigSql: String = {
    val cat3 = "toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]"
    s"""WITH shl AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, len(toks) - 2),
       |                   i -> md5($cat3)) AS hs
       |  FROM (SELECT doc_id,
       |          list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |                      x -> x <> '') AS toks
       |        FROM documents)
       |  WHERE len(toks) >= 3),
       |sig AS (
       |  SELECT doc_id,
       |    ${(1 to 6).map(i =>
             s"list_min(list_transform(hs, h -> substring(h, ${(i - 1) * 5 + 1}, 5))) AS h$i")
             .mkString(",\n    ")}
       |  FROM shl)""".stripMargin
  }

  /** MinHash-LSH candidate pairs (unordered — callers add their own sort):
    * 3 bands × 2 rows; candidate pairs share any band key. This is the
    * 100 TB-scale near-dup path: band-key equi-join instead of any
    * pairwise comparison. The self-join's two identical shuffle subtrees
    * are deduplicated by ReuseExchange — no cache needed (and a cache here
    * would leak: the caller owns the action). */
  // private[graft]: InventorySpec audits this RAW declarative plan
  // directly, since every declared consumer now rides the checkpointed
  // lshPairsShared (whose LogicalRDD scan hides the band join)
  private[graft] def lshPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sig = minhashSigs(s, d)
    val bands = sig.select($"doc_id", posexplode(array(
      concat($"h1", $"h2"), concat($"h3", $"h4"), concat($"h5", $"h6"))))
      .toDF("doc_id", "band_i", "band_key")
    bands.as("a").join(bands.as("b"),
        $"a.band_key" === $"b.band_key" && $"a.band_i" === $"b.band_i" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
  }

  // shared-frame memo discipline lives in graft.engine.FrameMemo (also
  // used by Similarity's materialized ANN index artifacts)
  private type FrameMemo = graft.engine.FrameMemo

  /** Materialized LSH candidate pairs, computed ONCE per (session, data
    * dir) and shared by every consumer downstream of candidate
    * generation (`dedup_lsh_verified`'s exact-verify stage and the
    * connected-components clustering): the shingle→signature→band-join
    * stage is the most expensive dedup step and is identical across
    * them. The checkpointed frame is tiny — one (doc_a, doc_b) row per
    * candidate pair. `dedup_lsh_pairs` rides the shared frame too (it
    * was the most expensive dedup query while recomputing work two
    * sibling queries had already materialized); the raw declarative
    * join shape stays under audit via InventorySpec's explicit
    * `lshPairs` entry.
    *
    * Durable form (r7 verdict ask #5, the same seam as Similarity's
    * pqIndex): with `spark.graft.indexWarehouse` set, the pair table is
    * built once, written through Catalog.storeTable (write-once
    * parquet), and every consumer reads the WRITTEN table — at 100 TB
    * an executor loss replays a file read instead of the full
    * shingle→signature→band-join build (DedupDurableSpec). */
  private val lshPairsCache = new FrameMemo
  private[queries] def lshPairsShared(s: SparkSession, d: String): DataFrame =
    s.conf.getOption("spark.graft.indexWarehouse") match {
      case Some(wh) =>
        lshPairsCache.get(s, s"$d|durable=$wh") {
          val name = "lsh_pairs_" + java.security.MessageDigest
            .getInstance("MD5").digest(d.getBytes("UTF-8"))
            .take(4).map("%02x".format(_)).mkString
          val cat = new graft.engine.Catalog(s, wh)
          try {
            // losing the publish race to a concurrent builder is fine:
            // the winner's table is the same content — read it. Only
            // the documented race signal ("file exists: …") is
            // swallowed; any other IAE from the build/write is a real
            // failure and must propagate (ADVICE r8).
            if (!cat.exists(name))
              try cat.storeTable(lshPairs(s, d), name)
              catch {
                case e: IllegalArgumentException
                  if e.getMessage != null &&
                    e.getMessage.startsWith("file exists") =>
              }
            cat.readTable(name)
          } finally cat.close()
        }
      case None => lshPairsCache.get(s, d)(lshPairs(s, d).localCheckpoint())
    }

  /** Exact 3-shingle Jaccard for every LSH candidate pair —
    * candidate-bounded BY CONSTRUCTION (review finding r8, now the
    * shared seam for `dedup_minhash_est` and `dedup_band_design`): only
    * docs appearing in some pair need exact shingles, so the corpus
    * scan semi-joins down to the pair set's doc ids BEFORE the explode
    * (the candidate set is tiny → broadcast), and the widest
    * distinct shuffle runs over candidates only.
    * @return (doc_a, doc_b, shared, jacc) with jacc rounded to 4 dp —
    *         a single float divide of exact integers, identical across
    *         engines. */
  private[graft] def candJaccard3Raw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = lshPairsShared(s, d).select($"doc_a", $"doc_b")
    val cand = pairs.select($"doc_a".as("doc_id"))
      .union(pairs.select($"doc_b".as("doc_id"))).distinct()
    val sh = t(s, d, "documents")
      .join(broadcast(cand), Seq("doc_id"), "left_semi")
      .select($"doc_id", toksCol.as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(toks) - 2)," +
          " i -> array_join(slice(toks, i, 3), ' '))")).as("shingle"))
      .distinct()
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val shared = pairs
      .join(sh.select($"doc_id".as("doc_a"), $"shingle"), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"shingle"),
        Seq("doc_b", "shingle"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("shared"))
    pairs.join(shared, Seq("doc_a", "doc_b"), "left_outer")
      .withColumn("shared", coalesce($"shared", lit(0L)))
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .select($"doc_a", $"doc_b", $"shared",
        round($"shared".cast("double") / ($"na" + $"nb" - $"shared"), 4)
          .as("jacc"))
  }

  /** Materialized candidate-pair exact-Jaccard table, computed ONCE per
    * (session, dir) and shared by its FIVE declared consumers
    * (dedup_minhash_est, dedup_bbit_minhash, dedup_band_design,
    * dedup_threshold_sweep, dedup_audit_queue) — each was re-running
    * the candidate shingle explode + two pair joins per query (r16
    * optimization, the lshPairsShared discipline). One small row per
    * candidate pair; Bench prices the real build as
    * dedup_cand_jaccard_raw per the cache-read audit rule. */
  private val candJacc3Cache = new FrameMemo
  private def candJaccard3(s: SparkSession, d: String): DataFrame =
    candJacc3Cache.get(s, d)(candJaccard3Raw(s, d).localCheckpoint())

  /** Materialized corpus shingle tables — the global n-gram index every
    * dedup pass builds once and every consumer reads (the text twin of
    * Similarity's pqIndex): hashed distinct (doc_id, shingle) rows,
    * computed once per (session, dir) and checkpointed. The build's
    * distinct is a full shuffle of the widest dedup intermediate, so
    * re-running it per consumer was the single largest duplicated
    * stage in the family. Consumers: k=3 — dedup_lsh_verified's
    * exact-verify stage and text_novelty's first-occurrence index;
    * k=5 — dedup_jaccard_pairs' and dedup_containment's candidate
    * joins. Raw build plan under InventorySpec audit via `shingles`.
    *
    * Size trade, stated deliberately: unlike the constant-size sketch
    * tables these frames are O(corpus shingles) — exactly the pinning
    * an earlier per-query comment rejected. What changed: residency is
    * now bounded (FrameMemo holds ≤ 8 (session, dir) entries,
    * insertion-order eviction; an evicted frame's checkpoint blocks
    * are reclaimed by Spark's ContextCleaner once the frame is
    * unreferenced) and the alternative — re-running the widest-
    * intermediate distinct shuffle once PER CONSUMER — costs strictly
    * more at every scale. localCheckpoint stores on executor
    * local disk/memory, the residency a production n-gram index
    * would have anyway. */
  private val shingles3Cache = new FrameMemo
  private[queries] def shingles3Shared(s: SparkSession, d: String): DataFrame =
    shingles3Cache.get(s, d)(shingles(s, d, 3, hashed = true).localCheckpoint())
  private val shingles5Cache = new FrameMemo
  private[queries] def shingles5Shared(s: SparkSession, d: String): DataFrame =
    shingles5Cache.get(s, d)(shingles(s, d, 5, hashed = true).localCheckpoint())

  /** Connected components over the LSH candidate graph, computed ONCE per
    * (session, data dir) and shared: `dedup_clusters` and
    * `dedup_canonical` consume the SAME clustering, and the propagation
    * loop materializes eagerly (checkpoint-backed — see Components), so
    * without sharing the iterative join rounds would execute twice per
    * run. The cache holds the checkpointed frame (small: one (doc_id,
    * component) row per clustered doc). */
  private val componentsCache = new FrameMemo
  private def components(s: SparkSession, d: String): DataFrame =
    componentsCache.get(s, d)(componentsRaw(s, d))

  /** The un-memoized propagation loop over the shared candidate pairs —
    * what ScaleStress drives for dedup_clusters' scaling row (the
    * declared query serves the memo, so timing it would measure a
    * cache read; the loop is the operator). */
  private[graft] def componentsRaw(s: SparkSession, d: String): DataFrame =
    graft.engine.Components.connectedComponents(
        lshPairsShared(s, d), "doc_a", "doc_b", maxIter = 15)
      .toDF("doc_id", "component")

  /** 16-bit SimHash per doc (unordered — callers add their own sort):
    * bit_j set iff the signed sum over distinct tokens of
    * (md5 hex digit_j >= 8 ? +1 : -1) is >= 0. Token hashes precomputed
    * once per doc; the per-bit fold runs within-row over the hash array —
    * no token explode, no shuffle beyond the 16-rows-per-doc bit agg. */
  private[graft] def simhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    t(s, d, "documents")
      .select($"doc_id",
        expr("transform(array_distinct(filter(split(lower(text), '\\\\s+')," +
          " x -> x != '')), tk -> md5(cast(tk as binary)))").as("ms"))
      .select($"doc_id", explode(expr("sequence(1, 16)")).as("j"), $"ms")
      .withColumn("sgn", expr(
        "aggregate(ms, 0, (acc, m) -> acc + " +
          "IF(cast(conv(substring(m, j, 1), 16, 10) as int) >= 8, 1, -1))"))
      .groupBy($"doc_id")
      .agg(sum(when($"sgn" >= 0, expr("cast(shiftleft(1, j - 1) as bigint)"))
        .otherwise(0L)).as("simhash"))
  }

  /** Materialized simhash table (one (doc_id, simhash) row per doc) —
    * dedup_simhash_pairs references the table on BOTH sides of two
    * joins plus the value-distinct, so without materialization the
    * md5-per-token fold runs up to four times in one query;
    * dedup_simhash is a fifth build of the same table. Raw plan under
    * InventorySpec audit via `simhash`. */
  private val simhashCache = new FrameMemo
  private def simhashShared(s: SparkSession, d: String): DataFrame =
    simhashCache.get(s, d)(simhash(s, d).localCheckpoint())

  /** DuckDB twin of `Components.connectedComponents` over [[lshPairs]]:
    * recursive min-label reachability ending in a `comp(doc_id, component)`
    * CTE — shared by the dedup_clusters and dedup_canonical oracles. */
  private val componentsSql: String =
    s"""${sigSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |bands AS (
       |  SELECT doc_id, 0 AS band_i, h1 || h2 AS band_key FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1, h3 || h4 FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2, h5 || h6 FROM sig),
       |p AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN bands b ON a.band_key = b.band_key AND a.band_i = b.band_i
       |               AND a.doc_id < b.doc_id),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach(id, comp) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id),
       |comp AS (
       |  SELECT id AS doc_id, MIN(comp) AS component
       |  FROM reach GROUP BY id)""".stripMargin

  /** Oracle twin of [[candJaccard3]]: LSH candidate pairs + exact
    * 3-shingle Jaccard, ending in a `j(doc_a, doc_b, shared, jacc)`
    * CTE. Shared by dedup_minhash_est and dedup_band_design. */
  private val candJaccardSql: String =
    s"""$sigSql,
       |bands AS (
       |  SELECT doc_id, 0 AS band_i, h1 || h2 AS band_key FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1, h3 || h4 FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2, h5 || h6 FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN bands b ON a.band_key = b.band_key AND a.band_i = b.band_i
       |               AND a.doc_id < b.doc_id),
       |${shinglesSql(3, "sh3")},
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh3 GROUP BY doc_id),
       |shared AS (
       |  SELECT p.doc_a AS doc_a, p.doc_b AS doc_b, COUNT(*) AS shared
       |  FROM pairs p
       |  JOIN sh3 a ON a.doc_id = p.doc_a
       |  JOIN sh3 b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT p.doc_a AS doc_a, p.doc_b AS doc_b,
       |    COALESCE(s.shared, 0) AS shared,
       |    ROUND(CAST(COALESCE(s.shared, 0) AS DOUBLE)
       |          / (na.n + nb.n - COALESCE(s.shared, 0)), 4) AS jacc
       |  FROM pairs p
       |  LEFT JOIN shared s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
       |  JOIN sizes na ON na.doc_id = p.doc_a
       |  JOIN sizes nb ON nb.doc_id = p.doc_b)""".stripMargin

  /** The VERIFIED near-dup pair relation — LSH candidates (recall
    * stage) exact-checked at 3-shingle Jaccard >= 0.5 via integer
    * cross-multiplication (precision stage): (doc_a < doc_b, shared,
    * na, nb). The body of `dedup_lsh_verified`, factored so the
    * dedup-cascade funnel (Similarity.`dedup_cascade`) removes docs on
    * EXACTLY the relation the declared pair listing publishes. */
  private[queries] def lshVerified3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = shingles3Shared(s, d)
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    lshPairsShared(s, d)
      .join(sh.as("x"), $"doc_a" === $"x.doc_id")
      .join(sh.as("y"),
        $"doc_b" === $"y.doc_id" && $"x.shingle" === $"y.shingle")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .filter($"shared" * 3 >= $"na" + $"nb")
  }

  /** Oracle CTE chain ending in `ver(doc_a, doc_b)` — the DuckDB twin
    * of [[lshVerified3]] (LSH bands → candidates → exact 3-shingle
    * verify at J >= 1/2 by integer cross-multiplication). Starts its
    * own WITH; CTE names are v-prefixed so callers can append the
    * semantic cellPairs chain without collisions. */
  private[queries] val verifiedPairsSql: String =
    s"""$sigSql,
       |bands AS (
       |  SELECT doc_id, 0 AS band_i, h1 || h2 AS band_key FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1, h3 || h4 FROM sig
       |  UNION ALL
       |  SELECT doc_id, 2, h5 || h6 FROM sig),
       |vcand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN bands b ON a.band_key = b.band_key AND a.band_i = b.band_i
       |               AND a.doc_id < b.doc_id),
       |${shinglesSql(3, "sh3")},
       |vsz AS (SELECT doc_id, COUNT(*) AS n FROM sh3 GROUP BY doc_id),
       |vsh AS (
       |  SELECT doc_a, doc_b, COUNT(*) AS shared
       |  FROM vcand
       |  JOIN sh3 x ON x.doc_id = doc_a
       |  JOIN sh3 y ON y.doc_id = doc_b AND y.shingle = x.shingle
       |  GROUP BY doc_a, doc_b),
       |ver AS (
       |  SELECT s.doc_a, s.doc_b
       |  FROM vsh s
       |  JOIN vsz na ON na.doc_id = s.doc_a
       |  JOIN vsz nb ON nb.doc_id = s.doc_b
       |  WHERE s.shared * 3 >= na.n + nb.n)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: content-hash groupBy, keep the smallest doc_id.
    "dedup_exact" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .groupBy(md5($"text".cast("binary")).as("fp"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select($"keep_id", $"fp", $"n_copies")
        .orderBy($"keep_id")
    }),

    // Word-5-gram Jaccard candidates: docs sharing ≥1 shingle, with the
    // exact n-gram Jaccard similarity. Shingle equi-join, no cross join.
    "dedup_jaccard_pairs" -> ((s, d) => {
      import s.implicits._
      // the 5-shingle table is the shared materialized index (also read
      // by dedup_containment); the self-join's identical shuffle
      // subtrees over it are still deduplicated by ReuseExchange
      val sh = shingles5Shared(s, d)
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val pairs = sh.as("a").join(sh.as("b"),
          $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .agg(count(lit(1)).as("shared"))
      pairs
        .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
        .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
        .select($"doc_a", $"doc_b", $"shared",
          round($"shared".cast("double") / ($"na" + $"nb" - $"shared"), 4).as("jacc"))
        .orderBy($"doc_a", $"doc_b")
    }),

    // The complete two-stage near-dup pipeline: LSH candidate
    // generation (band equi-join — recall stage) followed by EXACT
    // 3-shingle Jaccard verification of only the candidates (precision
    // stage), keeping pairs with J >= 0.5 via integer
    // cross-multiplication (3*shared >= na+nb ⟺ J >= 1/2). This is the
    // shape production dedup runs at 100 TB: the quadratic comparison
    // space is pruned to LSH candidates first, so the exact-verify join
    // touches |candidates| x shingles-per-doc rows, never |docs|².
    // Weighted (multiset) Jaccard over the shingle candidate pairs —
    // the frequency-AWARE near-dup score plain Jaccard flattens: two
    // docs sharing a vocabulary but with wildly different term
    // frequencies score high on set overlap and LOW here, so W-Jaccard
    // separates "same template" from "same text". Exact integers
    // throughout: W = Σ_w min(tf_a, tf_b) / Σ_w max = min_sum /
    // (|A| + |B| − min_sum) by the multiset identity, so only the
    // min-sum and the two total lengths are computed — one candidate
    // × words-per-doc equi-join, never a second pass for max. Pair
    // space stays the dedup_jaccard_pairs candidate relation (docs
    // sharing ≥ 1 word-5-shingle) — sub-quadratic at any scale.
    "dedup_weighted_jaccard" -> ((s, d) => {
      import s.implicits._
      val tf = TextWordCount.docWords(s, d)
        .groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
      val lens = tf.groupBy($"doc_id").agg(sum($"tf").as("len"))
      val sh = shingles5Shared(s, d)
      val cand = sh.as("a").join(sh.as("b"),
          $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .distinct()
      val ms = cand
        .join(tf.select($"doc_id".as("doc_a"), $"word",
          $"tf".as("tfa")), "doc_a")
        .join(tf.select($"doc_id".as("doc_b"), $"word",
          $"tf".as("tfb")), Seq("doc_b", "word"))
        .groupBy($"doc_a", $"doc_b")
        .agg(sum(least($"tfa", $"tfb")).as("min_sum"))
      cand.join(ms, Seq("doc_a", "doc_b"), "left_outer")
        .join(lens.select($"doc_id".as("doc_a"), $"len".as("la")),
          "doc_a")
        .join(lens.select($"doc_id".as("doc_b"), $"len".as("lb")),
          "doc_b")
        .select($"doc_a", $"doc_b",
          coalesce($"min_sum", lit(0L)).as("min_sum"),
          round(coalesce($"min_sum", lit(0L)).cast("double")
            / ($"la" + $"lb" - coalesce($"min_sum", lit(0L))), 4)
            .as("w_jacc"))
        .orderBy($"doc_a", $"doc_b")
    }),

    "dedup_lsh_verified" -> ((s, d) => {
      import s.implicits._
      lshVerified3(s, d)
        .select($"doc_a", $"doc_b", $"shared",
          round($"shared".cast("double") / ($"na" + $"nb" - $"shared"), 4)
            .as("jacc"))
        .orderBy($"doc_a", $"doc_b")
    }),

    // Edit-distance verification of LSH candidates — the
    // character-level second opinion on every near-dup pair: shingle
    // Jaccard is blind to in-word typos and OCR noise (a one-char edit
    // kills 3 whole shingles), while Levenshtein counts exactly the
    // edits. Scale discipline: Levenshtein is O(m·n) per pair, so it
    // runs ONLY on the LSH candidate set (never all pairs) and ONLY on
    // the deterministic 300-char prefixes — the banded-DP window a
    // production verifier uses, with cost capped at 300² per pair
    // regardless of doc length. The sim denominator is the longer
    // PREFIX, all integers; the published similarity is the single
    // float divide. Text travels once per pair via two doc_id joins
    // (the candidate set broadcasts — it is the tiny side).
    "dedup_editdist" -> ((s, d) => {
      import s.implicits._
      val pre = t(s, d, "documents")
        .select($"doc_id", substring($"text", 1, 300).as("pre"))
        .withColumn("len", length($"pre"))
      lshPairsShared(s, d)
        .join(pre.select($"doc_id".as("doc_a"), $"pre".as("pa"),
          $"len".as("la")), "doc_a")
        .join(pre.select($"doc_id".as("doc_b"), $"pre".as("pb"),
          $"len".as("lb")), "doc_b")
        .select($"doc_a", $"doc_b",
          levenshtein($"pa", $"pb").cast("long").as("dist"),
          greatest($"la", $"lb").cast("long").as("max_len"))
        .select($"doc_a", $"doc_b", $"dist", $"max_len",
          round(lit(1.0) - $"dist".cast("double") / $"max_len", 4)
            .as("edit_sim"))
        .orderBy($"doc_a", $"doc_b")
    }),

    // First-occurrence novelty scoring — per doc, the fraction of its
    // distinct 3-shingles that no LOWER-doc_id document contains (doc_id
    // = ingestion order, so this is "how much of this doc is new to the
    // corpus"), the curation signal behind incremental-crawl admission.
    // One shingle-keyed min-agg builds the first-occurrence table; the
    // join back to the per-doc shingle set broadcasts at bench scale
    // (Catalyst's choice) and falls back to a sort-merge join that
    // REUSES the min-agg's shingle partitioning once the table outgrows
    // the broadcast threshold — no third shuffle of the wide data either
    // way; shingles travel as 8-byte xxhash64 keys. At 100 TB the shingle table is the
    // same global n-gram index every dedup pass already builds; a
    // frequency-capped or bloom-pruned variant drops the long tail.
    "text_novelty" -> ((s, d) => {
      import s.implicits._
      val sh = shingles3Shared(s, d)
      val first = sh.groupBy($"shingle").agg(min($"doc_id").as("first_doc"))
      sh.join(first, "shingle")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
        .select($"doc_id", $"n_shingles", $"n_novel",
          round($"n_novel".cast("double") / $"n_shingles", 4).as("novelty"))
        .orderBy($"doc_id")
    }),

    // MinHash signature table (k=6 salted-md5 min-hashes over 3-shingles).
    "dedup_minhash_sigs" -> ((s, d) => {
      import s.implicits._
      minhashSigs(s, d).orderBy($"doc_id")
    }),

    // MinHash-LSH candidate pairs (see lshPairs above for the scale
    // shape) — served from the shared checkpointed frame, like every
    // other consumer of the candidate stage.
    "dedup_lsh_pairs" -> ((s, d) => {
      import s.implicits._
      lshPairsShared(s, d).orderBy($"doc_a", $"doc_b")
    }),

    // SimHash near-dup pairs: hamming(simhash) <= 1 over 16 bits. Exact
    // recall via pigeonhole banding — any pair within hamming 1 shares at
    // least one of the 4 nibbles exactly. Banding runs over DISTINCT
    // simhash VALUES, not docs: the value space (≤ 2^16 here; ≪ doc count
    // even for 64-bit simhash at 100 TB) makes the band self-join tiny and
    // skew-free, where a doc-level band join degenerates into quadratic
    // blowup inside each of the 64 (band, nibble) buckets. The surviving
    // value pairs broadcast back onto the doc table as two equi-joins on
    // simhash (AQE handles hot-value skew); same-value pairs (hamming 0)
    // come from a direct simhash self-join.
    "dedup_simhash_pairs" -> ((s, d) => {
      import s.implicits._
      val sh = simhashShared(s, d)
      val vals = sh.select($"simhash").distinct()
      val vbands = vals.select($"simhash",
          explode(expr("sequence(0, 3)")).as("band_i"))
        .withColumn("nib", expr("(simhash >> (band_i * 4)) & 15"))
      val vpairs = vbands.as("a").join(vbands.as("b"),
          $"a.band_i" === $"b.band_i" && $"a.nib" === $"b.nib" &&
            $"a.simhash" < $"b.simhash")
        .select($"a.simhash".as("v1"), $"b.simhash".as("v2"))
        .distinct()
        .filter(expr("bit_count(v1 ^ v2) <= 1"))
      val cross = sh.as("x").join(broadcast(vpairs), $"x.simhash" === $"v1")
        .join(sh.as("y"), $"y.simhash" === $"v2")
        .select(least($"x.doc_id", $"y.doc_id").as("doc_a"),
          greatest($"x.doc_id", $"y.doc_id").as("doc_b"),
          expr("cast(bit_count(v1 ^ v2) as bigint)").as("hamming"))
      val same = sh.as("x").join(sh.as("y"),
          $"x.simhash" === $"y.simhash" && $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
          lit(0L).as("hamming"))
      // each unordered doc pair appears exactly once (its value pair is
      // unique in vpairs, or its value is shared) — no distinct needed
      cross.union(same).orderBy($"doc_a", $"doc_b")
    }),

    // Winnowing-fingerprint near-dup candidates — the OTHER production
    // recall path next to MinHash-LSH: two docs are candidates when
    // they share >= 3 distinct winnow fingerprints (each fingerprint
    // witnesses a shared >= 6-token run, so this catches long verbatim
    // overlap that MinHash's whole-set similarity can dilute away).
    // Fingerprints seen in > 50 docs are dropped first ("stop
    // fingerprints": boilerplate/license runs) — the frequency cap that
    // keeps the fp equi-join skew-free at 100 TB; the join itself is
    // the same band-join shape as lshPairs, never pairwise.
    "dedup_winnow_pairs" -> ((s, d) => {
      import s.implicits._
      val fps = TextAnalysis.winnowShared(s, d)
      val rare = fps.groupBy($"fp").agg(count(lit(1)).as("df"))
        .filter($"df" <= 50).select($"fp")
      val pruned = fps.join(rare, "fp")
      pruned.as("a").join(pruned.as("b"),
          $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .filter($"shared" >= 3)
        .orderBy($"doc_a", $"doc_b")
    }),

    // Duplicate clusters: connected components over the LSH candidate
    // graph via min-label propagation — the standard iterative approach
    // at 100 TB scale (each round is one shuffle join; no driver-side
    // graph state). Output: every clustered doc with its canonical
    // (minimum) doc id. Oracle: recursive CTE reachability.
    "dedup_clusters" -> ((s, d) => {
      import s.implicits._
      // unordered candidate pairs — the declared dedup_lsh_pairs adds a
      // total sort for determinism that would be pure waste under a join
      components(s, d).orderBy($"doc_id")
    }),

    // Dedup savings accounting — the line item that justifies the dedup
    // stage's cost: per near-dup cluster, how many docs and tokens
    // disappear if only the canonical (min-id) member is kept. Rides
    // the shared connected components + one token-count join; the
    // canonical member and its token count come from one exact
    // min(struct) — no window over members. The token ledger a 100 TB
    // curation run reports next to doc_curation_report's per-source
    // keeps.
    "dedup_cluster_savings" -> ((s, d) => {
      import s.implicits._
      val tokn = t(s, d, "documents")
        .select($"doc_id",
          size(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
            .cast("long").as("n_tok"))
      components(s, d).join(tokn, "doc_id")
        .groupBy($"component")
        .agg(count(lit(1)).as("size"),
          min(struct($"doc_id", $"n_tok")).as("fo"),
          sum($"n_tok").as("tokens_total"))
        .select($"component", $"size", $"fo.doc_id".as("canonical"),
          $"tokens_total",
          ($"tokens_total" - $"fo.n_tok").as("tokens_saved"))
        .orderBy($"component")
    }),

    // MinHash estimator-quality audit — the `_bounds` discipline
    // applied to the near-dup signatures themselves: for every LSH
    // candidate pair, the 6-permutation MinHash Jaccard ESTIMATE
    // (matching signature components / 6) next to the EXACT distinct-
    // 3-shingle Jaccard it estimates, with the signed error. The
    // estimate's coarseness (multiples of 1/6) is the point — this is
    // the evidence table for choosing a permutation count. Exact side
    // is candidate-bounded: shingle joins run only over the pair set's
    // docs, never the corpus.
    "dedup_minhash_est" -> ((s, d) => {
      import s.implicits._
      val pairs = lshPairsShared(s, d)
      val sig = minhashSigs(s, d)
      val est = pairs
        .join(sig.toDF(("doc_a" +: (1 to 6).map(i => s"a$i")): _*), "doc_a")
        .join(sig.toDF(("doc_b" +: (1 to 6).map(i => s"b$i")): _*), "doc_b")
        .select($"doc_a", $"doc_b",
          (1 to 6).map(i =>
            when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
            .reduce(_ + _).as("est_matches"))
      est.join(candJaccard3(s, d), Seq("doc_a", "doc_b"))
        .select($"doc_a", $"doc_b", $"est_matches",
          round($"est_matches".cast("double") / 6, 4).as("est_jacc"),
          $"jacc".as("exact_jacc"))
        .withColumn("err", round($"est_jacc" - $"exact_jacc", 4))
        .orderBy($"doc_a", $"doc_b")
    }),

    // b-bit minhash (Li & König 2010, "b-Bit Minwise Hashing"): keep
    // only the LOWEST BIT of each minhash value — the signature
    // shrinks 20× (6 bits vs six 20-bit windows) and the Jaccard
    // estimator becomes 2·(agreement fraction) − 1 (for b = 1 two
    // independent minima agree with probability (1+J)/2). The table
    // reports the 1-bit estimate NEXT to the full-width estimate's
    // ground truth so the storage/variance trade is measured, not
    // assumed — at 100 TB signature storage is the dedup index's
    // dominant cost and b-bit is the standard compression. Bits come
    // from the last hex char of the SAME 5-hex minima as the full
    // estimator (one signature definition); candidate-bounded by the
    // shared LSH pair table like every estimator in the family.
    "dedup_bbit_minhash" -> ((s, d) => {
      import s.implicits._
      val pairs = lshPairsShared(s, d)
      val sig = minhashSigs(s, d)
      def bit(c: String) =
        expr(s"cast(conv(substring($c, 5, 1), 16, 10) as bigint) % 2")
      val agree = pairs
        .join(sig.toDF(("doc_a" +: (1 to 6).map(i => s"a$i")): _*), "doc_a")
        .join(sig.toDF(("doc_b" +: (1 to 6).map(i => s"b$i")): _*), "doc_b")
        .select($"doc_a", $"doc_b",
          (1 to 6).map(i =>
            when(bit(s"a$i") === bit(s"b$i"), 1L).otherwise(0L))
            .reduce(_ + _).as("bits_agree"))
      agree.join(candJaccard3(s, d), Seq("doc_a", "doc_b"))
        .select($"doc_a", $"doc_b", $"bits_agree",
          round(($"bits_agree" * 2 - 6).cast("double") / 6, 4)
            .as("est_1bit"),
          $"jacc".as("exact_jacc"))
        .withColumn("err", round($"est_1bit" - $"exact_jacc", 4))
        .orderBy($"doc_a", $"doc_b")
    }),

    // Cross-source near-dup matrix — syndication detection: which
    // source pairs share near-duplicate documents (mirrors, scrapes,
    // wire copy). At 100 TB this is the table that decides per-source
    // dedup ORDER (dedup the syndicated pair together, keep the
    // higher-quality source's copy). Rides the shared LSH pair table;
    // one broadcast doc→source map join; output bounded by the source
    // alphabet². Within-source pairs are reported too (src_a == src_b)
    // so the matrix partitions the full candidate set.
    "dedup_cross_source" -> ((s, d) => {
      import s.implicits._
      val srcMap = t(s, d, "documents").select($"doc_id", $"source")
      lshPairsShared(s, d).select($"doc_a", $"doc_b")
        .join(broadcast(srcMap.toDF("doc_a", "sa")), "doc_a")
        .join(broadcast(srcMap.toDF("doc_b", "sb")), "doc_b")
        .select(least($"sa", $"sb").as("src_a"),
          greatest($"sa", $"sb").as("src_b"))
        .groupBy($"src_a", $"src_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("cross_source",
          when($"src_a" =!= $"src_b", 1L).otherwise(0L))
        .orderBy($"src_a", $"src_b")
    }),

    // Shingle document-frequency spectrum — the governance evidence
    // behind every stop-fingerprint cap in this repo (winnow's
    // df≤50 stop-fingerprint cut, mm_neardup's df≤50 stop-frame cap):
    // how many 5-shingles are unique / rare / common / boilerplate, and
    // what share of total shingle OCCURRENCES each class carries. A cap
    // is safe exactly when the >50 bucket holds few distinct shingles
    // but a fat occurrence mass — this table shows it. One agg over the
    // shared shingle index, a 4-row rollup, a 1-row total broadcast.
    "dedup_df_profile" -> ((s, d) => {
      import s.implicits._
      val d5 = shingles5Shared(s, d)
        .groupBy($"shingle").agg(count(lit(1)).as("df"))
      val tot = d5.agg(sum($"df").as("tmass"))
      d5.select(when($"df" === 1L, 1L).when($"df" <= 5L, 2L)
          .when($"df" <= 50L, 3L).otherwise(4L).as("bucket_id"), $"df")
        .groupBy($"bucket_id")
        .agg(count(lit(1)).as("n_shingles"), sum($"df").as("occurrences"))
        .crossJoin(broadcast(tot))
        .select($"bucket_id",
          when($"bucket_id" === 1L, "df=1")
            .when($"bucket_id" === 2L, "df=2-5")
            .when($"bucket_id" === 3L, "df=6-50")
            .otherwise("df>50").as("bucket"),
          $"n_shingles", $"occurrences",
          round($"occurrences".cast("double") / $"tmass", 4)
            .as("mass_share"))
        .orderBy($"bucket_id")
    }),

    // LSH band-design evidence table — the (bands × rows-per-band)
    // operating curve that justifies a banding choice (Leskovec/
    // Rajaraman/Ullman's S-curve, grounded in THIS corpus's observed
    // pair Jaccards rather than a textbook sketch): for every 6-hash
    // split (1×6, 2×3, 3×2, 6×1), the expected number of true near-dup
    // pairs (j ≥ 0.5) the banding would capture and the expected false
    // candidates (j < 0.5) it would admit, as Σ over candidate pairs of
    // p = 1−(1−j^r)^b. Evaluation mass is the CANDIDATE pair set (the
    // observed-pair bias is inherent — pairs no banding captured are
    // unobservable without the quadratic scan this family exists to
    // avoid). Float discipline: j is the shared rounded-4-dp Jaccard;
    // each p is a fixed tree of IEEE *- ops on it (no libm pow — both
    // engines multiply identically), quantized to an e6 BIGINT per
    // pair, so every aggregate is an exact integer sum.
    "dedup_band_design" -> ((s, d) => {
      import s.implicits._
      candJaccard3(s, d)
        .select(explode(expr(
          """array(
            | named_struct('bands', 1L, 'rows_per_band', 6L, 'p_e6',
            |  cast(round((((jacc*jacc)*jacc)*((jacc*jacc)*jacc)) * 1e6)
            |       as bigint)),
            | named_struct('bands', 2L, 'rows_per_band', 3L, 'p_e6',
            |  cast(round((1D - (1D-((jacc*jacc)*jacc))
            |             *(1D-((jacc*jacc)*jacc))) * 1e6) as bigint)),
            | named_struct('bands', 3L, 'rows_per_band', 2L, 'p_e6',
            |  cast(round((1D - ((1D-(jacc*jacc))*(1D-(jacc*jacc)))
            |             *(1D-(jacc*jacc))) * 1e6) as bigint)),
            | named_struct('bands', 6L, 'rows_per_band', 1L, 'p_e6',
            |  cast(round((1D - (((1D-jacc)*(1D-jacc))*(1D-jacc))
            |             *(((1D-jacc)*(1D-jacc))*(1D-jacc))) * 1e6)
            |       as bigint)))""".stripMargin)).as("c"), $"jacc")
        .select($"c.bands".as("bands"),
          $"c.rows_per_band".as("rows_per_band"), $"c.p_e6".as("p_e6"),
          $"jacc")
        .groupBy($"bands", $"rows_per_band")
        .agg(sum(when($"jacc" >= 0.5, 1L).otherwise(0L)).as("n_dup_pairs"),
          round(sum(when($"jacc" >= 0.5, $"p_e6").otherwise(0L))
            .cast("double") / 1e6, 4).as("exp_dup_caught"),
          sum(when($"jacc" < 0.5, 1L).otherwise(0L)).as("n_nondup_pairs"),
          round(sum(when($"jacc" < 0.5, $"p_e6").otherwise(0L))
            .cast("double") / 1e6, 4).as("exp_false_cands"))
        .orderBy($"bands")
    }),

    // Canonical-document selection — the step after clustering: per
    // near-dup cluster keep ONE representative, best-first by
    // (n_chars DESC, doc_id ASC) — "keep the longest copy, oldest id
    // wins ties", the usual pipeline policy. One doc_id-keyed join to
    // pull the quality column, then a component-partitioned window for
    // the argmax — no global sort, cluster sizes bound the window state.
    // Docs in no candidate pair keep themselves trivially and are not
    // listed.
    "dedup_canonical" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val comp = components(s, d)
      val w = Window.partitionBy($"component")
        .orderBy($"n_chars".desc, $"doc_id".asc)
      comp.join(t(s, d, "documents").select($"doc_id", $"n_chars"), "doc_id")
        .withColumn("rk", row_number().over(w))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy($"component")))
        .filter($"rk" === 1)
        .select($"component", $"doc_id".as("keep_id"),
          $"n_chars".as("keep_chars"), $"cluster_size")
        .orderBy($"component")
    }),

    // Incremental dedup — the production shape: an existing corpus
    // (doc_id % 5 in 0..2), and an incoming batch made of fresh docs
    // (% 5 = 4), RESUBMITTED corpus docs under new ingestion ids
    // (% 10 = 0, re-crawls — must be rejected against the corpus), and a
    // doc family submitted twice within the batch under two ids
    // (% 5 = 3 — must collapse to one admit with the lowest id). All
    // splits are pure expressions (no eager job). The corpus side
    // reduces to distinct hashes before the anti join, so the join's
    // build input is |unique contents|, not |corpus|; batch-internal
    // dedup is the same hash groupBy as dedup_exact.
    "dedup_incremental" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .select($"doc_id", md5($"text".cast("binary")).as("fp"))
      val corpusFps = docs.filter($"doc_id" % 5 <= 2).select($"fp").distinct()
      val batch = docs.filter($"doc_id" % 5 === 4)
        .unionAll(docs.filter($"doc_id" % 10 === 0)
          .select($"doc_id" + 1000000L, $"fp"))
        .unionAll(docs.filter($"doc_id" % 5 === 3)
          .select($"doc_id" + 2000000L, $"fp"))
        .unionAll(docs.filter($"doc_id" % 5 === 3)
          .select($"doc_id" + 3000000L, $"fp"))
        .toDF("doc_id", "fp")
      batch
        .join(corpusFps, Seq("fp"), "left_anti")
        .groupBy($"fp").agg(min($"doc_id").as("admit_id"),
          count(lit(1)).as("n_in_batch"))
        .select($"admit_id", $"fp", $"n_in_batch")
        .orderBy($"admit_id")
    }),

    // Salted skew join, oracle-checked against the plain join: the salt
    // changes only the shuffle layout, never the result (engine.Skew).
    "dedup_salted_sources" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val dims = docs.groupBy($"source").agg(count(lit(1)).as("n_in_source"))
      graft.engine.Skew.saltedJoin(docs, dims, "source", salts = 4)
        .groupBy($"source", $"n_in_source")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc"))
        .orderBy($"source")
    }),

    // 16-bit SimHash signature table (see simhash above).
    "dedup_simhash" -> ((s, d) => {
      import s.implicits._
      simhashShared(s, d).orderBy($"doc_id")
    }),

    // Dedup yield curve — what each Jaccard threshold would actually
    // remove (the governance table a data lead reads before pinning
    // θ: too low eats legitimate reuse, too high keeps near-copies):
    // per θ ∈ {0.5..0.9}, the qualifying candidate pairs and the docs
    // the keep-lowest-id rule would drop (a doc is dropped iff it is
    // the HIGHER id of any qualifying pair — the dedup_canonical
    // convention, counted as a distinct-doc upper bound without
    // building components per θ). Rides the shared candidate-bounded
    // exact-Jaccard table; the sweep is an in-row 5-config explode
    // with e4-integer threshold compares; output is 5 rows.
    "dedup_threshold_sweep" -> ((s, d) => {
      import s.implicits._
      val q = candJaccard3(s, d)
        .select($"doc_b",
          expr("cast(round(jacc * 1e4) as bigint)").as("j4"))
        .select($"doc_b", $"j4", explode(expr(
          "array(5000L, 6000L, 7000L, 8000L, 9000L)")).as("thr_e4"))
        .filter($"j4" >= $"thr_e4")
        .groupBy($"thr_e4")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct($"doc_b").as("docs_removed"))
      Seq(5000L, 6000L, 7000L, 8000L, 9000L).toDF("thr_e4")
        .join(q, Seq("thr_e4"), "left_outer")
        .select(($"thr_e4".cast("double") / 1e4).as("threshold"),
          coalesce($"n_pairs", lit(0L)).as("n_pairs"),
          coalesce($"docs_removed", lit(0L)).as("docs_removed"))
        .orderBy($"threshold")
    }),

    // Human-audit queue — every production dedup keeps a labeling
    // loop: a DETERMINISTIC stratified sample of candidate pairs (10
    // near-dup, 10 low-similarity) drawn by md5 rank, so reviewers
    // see the same queue on every run and both strata get coverage
    // (a uniform draw would be all-low). The md5 draw is the
    // q_sample_hash discipline; the per-stratum cut is the TopKPerKey
    // rank shape. At 100 TB the queue stays 20 rows — the candidate
    // table never leaves the cluster.
    "dedup_audit_queue" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      candJaccard3(s, d)
        .select($"doc_a", $"doc_b", $"jacc",
          when($"jacc" >= 0.5, "near_dup").otherwise("low")
            .as("stratum"),
          md5(concat($"doc_a".cast("string"), lit(":"),
            $"doc_b".cast("string"))).as("h"))
        .withColumn("audit_rank", row_number().over(Window
          .partitionBy($"stratum")
          .orderBy($"h".asc, $"doc_a".asc, $"doc_b".asc)).cast("long"))
        .filter($"audit_rank" <= 10)
        .select($"stratum", $"audit_rank", $"doc_a", $"doc_b", $"jacc")
        .orderBy($"stratum", $"audit_rank")
    }))

  val oracle: Map[String, String] = Map(
    "dedup_winnow_pairs" -> (TextAnalysis.winnowCteSql +
      """,
        |rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 50),
        |pr AS (SELECT doc_id, fp FROM fps
        |       WHERE fp IN (SELECT fp FROM rare))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY doc_a, doc_b""".stripMargin),

    "dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, md5(text) AS fp, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "dedup_jaccard_pairs" ->
      s"""WITH ${shinglesSql(5, "sh")},
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared,
         |  ROUND(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 4) AS jacc
         |FROM pairs
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_weighted_jaccard" ->
      s"""WITH ${shinglesSql(5, "sh")},
         |dwq AS (${TextWordCount.docWordsSql}),
         |tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM dwq GROUP BY 1, 2),
         |lens AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len
         |         FROM tf GROUP BY doc_id),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         |ms AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(SUM(LEAST(ta.tf, tb.tf)) AS BIGINT) AS min_sum
         |  FROM cand c
         |  JOIN tf ta ON ta.doc_id = c.doc_a
         |  JOIN tf tb ON tb.doc_id = c.doc_b AND tb.word = ta.word
         |  GROUP BY 1, 2)
         |SELECT c.doc_a, c.doc_b,
         |  COALESCE(ms.min_sum, 0) AS min_sum,
         |  ROUND(CAST(COALESCE(ms.min_sum, 0) AS DOUBLE)
         |    / (la.len + lb.len - COALESCE(ms.min_sum, 0)), 4)
         |    AS w_jacc
         |FROM cand c
         |LEFT JOIN ms ON ms.doc_a = c.doc_a AND ms.doc_b = c.doc_b
         |JOIN lens la ON la.doc_id = c.doc_a
         |JOIN lens lb ON lb.doc_id = c.doc_b
         |ORDER BY c.doc_a, c.doc_b""".stripMargin,

    "dedup_lsh_verified" ->
      s"""$sigSql,
         |bands AS (
         |  SELECT doc_id, 0 AS band_i, h1 || h2 AS band_key FROM sig
         |  UNION ALL
         |  SELECT doc_id, 1, h3 || h4 FROM sig
         |  UNION ALL
         |  SELECT doc_id, 2, h5 || h6 FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a
         |  JOIN bands b ON a.band_key = b.band_key AND a.band_i = b.band_i
         |               AND a.doc_id < b.doc_id),
         |${shinglesSql(3, "sh3")},
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh3 GROUP BY doc_id),
         |shared AS (
         |  SELECT doc_a, doc_b, COUNT(*) AS shared
         |  FROM cand
         |  JOIN sh3 x ON x.doc_id = doc_a
         |  JOIN sh3 y ON y.doc_id = doc_b AND y.shingle = x.shingle
         |  GROUP BY doc_a, doc_b)
         |SELECT doc_a, doc_b, shared,
         |  ROUND(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 4) AS jacc
         |FROM shared
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE shared * 3 >= sa.n + sb.n
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_editdist" ->
      s"""$sigSql,
         |bands AS (
         |  SELECT doc_id, 0 AS band_i, h1 || h2 AS band_key FROM sig
         |  UNION ALL
         |  SELECT doc_id, 1, h3 || h4 FROM sig
         |  UNION ALL
         |  SELECT doc_id, 2, h5 || h6 FROM sig),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a
         |  JOIN bands b ON a.band_key = b.band_key AND a.band_i = b.band_i
         |               AND a.doc_id < b.doc_id),
         |pre AS (
         |  SELECT doc_id, substring(text, 1, 300) AS pre,
         |    length(substring(text, 1, 300)) AS len
         |  FROM documents)
         |SELECT p.doc_a, p.doc_b,
         |  CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist,
         |  CAST(greatest(a.len, b.len) AS BIGINT) AS max_len,
         |  ROUND(1.0 - CAST(levenshtein(a.pre, b.pre) AS DOUBLE)
         |    / greatest(a.len, b.len), 4) + 0.0 AS edit_sim
         |FROM pairs p
         |JOIN pre a ON a.doc_id = p.doc_a
         |JOIN pre b ON b.doc_id = p.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,

    "text_novelty" ->
      s"""WITH ${shinglesSql(3, "sh")},
         |f AS (SELECT shingle, MIN(doc_id) AS first_doc
         |      FROM sh GROUP BY shingle)
         |SELECT s.doc_id, COUNT(*) AS n_shingles,
         |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_novel,
         |  ROUND(CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
         |             AS DOUBLE) / COUNT(*), 4) AS novelty
         |FROM sh s JOIN f USING (shingle)
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "dedup_minhash_sigs" ->
      s"""$sigSql
         |SELECT doc_id, h1, h2, h3, h4, h5, h6 FROM sig ORDER BY doc_id""".stripMargin,

    "dedup_lsh_pairs" ->
      s"""$sigSql,
         |bands AS (
         |  SELECT doc_id, 0 AS band_i, h1 || h2 AS band_key FROM sig
         |  UNION ALL
         |  SELECT doc_id, 1, h3 || h4 FROM sig
         |  UNION ALL
         |  SELECT doc_id, 2, h5 || h6 FROM sig)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a
         |JOIN bands b ON a.band_key = b.band_key AND a.band_i = b.band_i
         |             AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_clusters" ->
      s"""$componentsSql
         |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin,

    "dedup_cluster_savings" ->
      s"""$componentsSql,
         |tokn AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text),
         |      '\\s+'), x -> x <> '')) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT component, COUNT(*) AS size,
         |  MIN(comp.doc_id) AS canonical,
         |  CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
         |  CAST(SUM(n_tok) - arg_min(n_tok, comp.doc_id) AS BIGINT)
         |    AS tokens_saved
         |FROM comp JOIN tokn ON comp.doc_id = tokn.doc_id
         |GROUP BY component ORDER BY component""".stripMargin,

    "dedup_minhash_est" -> {
      val estTerms = (1 to 6).map(i =>
        s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""$candJaccardSql,
         |est AS (
         |  SELECT doc_a, doc_b, CAST($estTerms AS BIGINT) AS est_matches
         |  FROM pairs JOIN sig sa ON sa.doc_id = doc_a
         |             JOIN sig sb ON sb.doc_id = doc_b)
         |SELECT e.doc_a AS doc_a, e.doc_b AS doc_b, e.est_matches,
         |  ROUND(CAST(e.est_matches AS DOUBLE) / 6, 4) AS est_jacc,
         |  j.jacc AS exact_jacc,
         |  ROUND(ROUND(CAST(e.est_matches AS DOUBLE) / 6, 4) - j.jacc, 4)
         |    + 0.0 AS err
         |FROM est e
         |JOIN j ON j.doc_a = e.doc_a AND j.doc_b = e.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "dedup_bbit_minhash" -> {
      val bitTerms = (1 to 6).map(i =>
        s"CASE WHEN (strpos('0123456789abcdef', substring(sa.h$i, 5, 1))" +
          s" - 1) % 2 = (strpos('0123456789abcdef'," +
          s" substring(sb.h$i, 5, 1)) - 1) % 2 THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""$candJaccardSql,
         |est AS (
         |  SELECT doc_a, doc_b, CAST($bitTerms AS BIGINT) AS bits_agree
         |  FROM pairs JOIN sig sa ON sa.doc_id = doc_a
         |             JOIN sig sb ON sb.doc_id = doc_b)
         |SELECT e.doc_a AS doc_a, e.doc_b AS doc_b, e.bits_agree,
         |  ROUND(CAST(e.bits_agree * 2 - 6 AS DOUBLE) / 6, 4) + 0.0
         |    AS est_1bit,
         |  j.jacc AS exact_jacc,
         |  ROUND(ROUND(CAST(e.bits_agree * 2 - 6 AS DOUBLE) / 6, 4)
         |    - j.jacc, 4) + 0.0 AS err
         |FROM est e
         |JOIN j ON j.doc_a = e.doc_a AND j.doc_b = e.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "dedup_cross_source" ->
      s"""$sigSql,
         |bands AS (
         |  SELECT doc_id, 0 AS band_i, h1 || h2 AS band_key FROM sig
         |  UNION ALL
         |  SELECT doc_id, 1, h3 || h4 FROM sig
         |  UNION ALL
         |  SELECT doc_id, 2, h5 || h6 FROM sig),
         |p AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a
         |  JOIN bands b ON a.band_key = b.band_key AND a.band_i = b.band_i
         |               AND a.doc_id < b.doc_id),
         |m AS (
         |  SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM p
         |  JOIN documents da ON da.doc_id = p.doc_a
         |  JOIN documents db ON db.doc_id = p.doc_b)
         |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(CASE WHEN src_a <> src_b THEN 1 ELSE 0 END AS BIGINT)
         |    AS cross_source
         |FROM m GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,

    "dedup_df_profile" ->
      s"""WITH ${shinglesSql(5, "sh")},
         |d5 AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
         |tot AS (SELECT CAST(SUM(df) AS BIGINT) AS tmass FROM d5),
         |b AS (SELECT CASE WHEN df = 1 THEN 1 WHEN df <= 5 THEN 2
         |                  WHEN df <= 50 THEN 3 ELSE 4 END AS bid, df
         |      FROM d5)
         |SELECT CAST(bid AS BIGINT) AS bucket_id,
         |  CASE WHEN bid = 1 THEN 'df=1' WHEN bid = 2 THEN 'df=2-5'
         |       WHEN bid = 3 THEN 'df=6-50' ELSE 'df>50' END AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(df) AS BIGINT) AS occurrences,
         |  ROUND(CAST(SUM(df) AS DOUBLE) / tmass, 4) AS mass_share
         |FROM b, tot GROUP BY bid, tmass ORDER BY bucket_id""".stripMargin,

    "dedup_band_design" -> {
      s"""$candJaccardSql,
         |cfgp AS (
         |  SELECT CAST(1 AS BIGINT) AS bands, CAST(6 AS BIGINT)
         |      AS rows_per_band,
         |    CAST(ROUND((((jacc*jacc)*jacc)*((jacc*jacc)*jacc)) * 1e6)
         |         AS BIGINT) AS p_e6, jacc FROM j
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), CAST(3 AS BIGINT),
         |    CAST(ROUND((1 - (1-((jacc*jacc)*jacc))
         |               *(1-((jacc*jacc)*jacc))) * 1e6) AS BIGINT), jacc
         |  FROM j
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT), CAST(2 AS BIGINT),
         |    CAST(ROUND((1 - ((1-(jacc*jacc))*(1-(jacc*jacc)))
         |               *(1-(jacc*jacc))) * 1e6) AS BIGINT), jacc
         |  FROM j
         |  UNION ALL
         |  SELECT CAST(6 AS BIGINT), CAST(1 AS BIGINT),
         |    CAST(ROUND((1 - (((1-jacc)*(1-jacc))*(1-jacc))
         |               *(((1-jacc)*(1-jacc))*(1-jacc))) * 1e6)
         |         AS BIGINT), jacc
         |  FROM j)
         |SELECT bands, rows_per_band,
         |  CAST(SUM(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_pairs,
         |  ROUND(CAST(SUM(CASE WHEN jacc >= 0.5 THEN p_e6 ELSE 0 END)
         |             AS DOUBLE) / 1e6, 4) AS exp_dup_caught,
         |  CAST(SUM(CASE WHEN jacc < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_nondup_pairs,
         |  ROUND(CAST(SUM(CASE WHEN jacc < 0.5 THEN p_e6 ELSE 0 END)
         |             AS DOUBLE) / 1e6, 4) AS exp_false_cands
         |FROM cfgp GROUP BY bands, rows_per_band ORDER BY bands""".stripMargin
    },

    "dedup_canonical" ->
      s"""$componentsSql,
         |enriched AS (
         |  SELECT component, comp.doc_id, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY component
         |                       ORDER BY n_chars DESC, comp.doc_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY component) AS cluster_size
         |  FROM comp JOIN documents ON comp.doc_id = documents.doc_id)
         |SELECT component, doc_id AS keep_id, n_chars AS keep_chars,
         |  cluster_size
         |FROM enriched WHERE rk = 1 ORDER BY component""".stripMargin,

    "dedup_incremental" ->
      """WITH docs AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |corpus AS (SELECT DISTINCT fp FROM docs WHERE doc_id % 5 <= 2),
        |batch AS (
        |  SELECT doc_id, fp FROM docs WHERE doc_id % 5 = 4
        |  UNION ALL
        |  SELECT doc_id + 1000000, fp FROM docs WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, fp FROM docs WHERE doc_id % 5 = 3
        |  UNION ALL
        |  SELECT doc_id + 3000000, fp FROM docs WHERE doc_id % 5 = 3)
        |SELECT MIN(doc_id) AS admit_id, fp, COUNT(*) AS n_in_batch
        |FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
        |GROUP BY fp ORDER BY admit_id""".stripMargin,

    "dedup_salted_sources" ->
      """WITH dims AS (SELECT source, COUNT(*) AS n_in_source
        |              FROM documents GROUP BY source)
        |SELECT d.source, n_in_source, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS min_doc
        |FROM documents d JOIN dims USING (source)
        |GROUP BY d.source, n_in_source ORDER BY d.source""".stripMargin,

    "dedup_simhash_pairs" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_transform(list_distinct(
        |      list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                  x -> x <> '')), tk -> md5(tk)) AS ms
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, j,
        |    list_sum(list_transform(ms, m ->
        |      CASE WHEN strpos('0123456789abcdef', substring(m, j, 1)) - 1 >= 8
        |           THEN 1 ELSE -1 END)) AS sgn
        |  FROM d, unnest(generate_series(1, 16)) AS t(j)),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN sgn >= 0 THEN (1::BIGINT << (j - 1)) ELSE 0 END)
        |         AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, simhash, bi, (simhash >> (bi * 4)) & 15 AS nib
        |  FROM sh, unnest(generate_series(0, 3)) AS t(bi)),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |  FROM bands a
        |  JOIN bands b ON a.bi = b.bi AND a.nib = b.nib
        |               AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 1
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_simhash" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_transform(list_distinct(
        |      list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                  x -> x <> '')), tk -> md5(tk)) AS ms
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, j,
        |    list_sum(list_transform(ms, m ->
        |      CASE WHEN strpos('0123456789abcdef', substring(m, j, 1)) - 1 >= 8
        |           THEN 1 ELSE -1 END)) AS sgn
        |  FROM d, unnest(generate_series(1, 16)) AS t(j))
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN sgn >= 0 THEN (1::BIGINT << (j - 1)) ELSE 0 END)
        |       AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_threshold_sweep" ->
      s"""$candJaccardSql,
         |j4 AS (
         |  SELECT doc_b, CAST(ROUND(jacc * 1e4) AS BIGINT) AS j4
         |  FROM j),
         |thr AS (SELECT CAST(x AS BIGINT) AS thr_e4
         |        FROM unnest([5000, 6000, 7000, 8000, 9000]) t(x)),
         |q AS (
         |  SELECT thr_e4, COUNT(*) AS n_pairs,
         |    COUNT(DISTINCT doc_b) AS docs_removed
         |  FROM j4, thr WHERE j4 >= thr_e4 GROUP BY 1)
         |SELECT CAST(t.thr_e4 AS DOUBLE) / 1e4 AS threshold,
         |  COALESCE(q.n_pairs, 0) AS n_pairs,
         |  COALESCE(q.docs_removed, 0) AS docs_removed
         |FROM thr t LEFT JOIN q USING (thr_e4)
         |ORDER BY threshold""".stripMargin,

    "dedup_audit_queue" ->
      s"""$candJaccardSql,
         |q0 AS (
         |  SELECT doc_a, doc_b, jacc,
         |    CASE WHEN jacc >= 0.5 THEN 'near_dup' ELSE 'low' END
         |      AS stratum,
         |    md5(CAST(doc_a AS VARCHAR) || ':'
         |        || CAST(doc_b AS VARCHAR)) AS h
         |  FROM j),
         |r AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY stratum
         |    ORDER BY h, doc_a, doc_b) AS BIGINT) AS audit_rank
         |  FROM q0)
         |SELECT stratum, audit_rank, doc_a, doc_b, jacc
         |FROM r WHERE audit_rank <= 10
         |ORDER BY stratum, audit_rank""".stripMargin)
}
