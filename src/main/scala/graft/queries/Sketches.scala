package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Sketch operators for 100 TB-scale frequency/membership estimation
  * (SURVEY.md §2.5 north star; complements the exact L8 distinct counts
  * and the `approx_count_distinct` HLL variant in EventsLog).
  *
  * Both sketches are built from md5 windows, so they are deterministic
  * and bit-identical in Spark and DuckDB — the sketch CONTENT itself is
  * oracle-checked, not just row counts. Hash quality: disjoint hex-digit
  * windows of one md5 are independent 8-bit draws, plenty for d=4 rows.
  *
  * Scale shape: a CountMin sketch build is one 2-phase hash aggregation
  * into d·w cells regardless of input size (map-side partial combine does
  * almost all the work); a Bloom filter build is a `bit_or` aggregation
  * into m/63 long words. Both replace an exact groupBy whose state grows
  * with key cardinality by O(1)-state aggregations — the standard trade
  * at 100 TB when approximate answers suffice. Estimation is a join
  * against the (tiny, broadcastable) sketch table.
  */
object Sketches {

  private val D = 4    // hash rows (CountMin) / probe hashes (Bloom)
  private val W = 64   // CountMin buckets per row
  private val MBits = 252 // Bloom bits: 4 longs × 63 bits (no sign-bit games)
  private val KmvK = 64 // KMV bottom-k size
  private val KmvM = "1152921504606846976" // 16^15 — the 60-bit hash space

  /** 60-bit md5-window KMV hash of `word` — 15 hex digits so the hash
    * space is dense enough that the (k−1)/h_k estimator's granularity
    * is negligible next to its 1/sqrt(k) sampling error. */
  private def kmvHash: Column =
    expr("cast(conv(substring(md5(cast(word as binary)), 1, 15)," +
      " 16, 10) as bigint)")

  /** DuckDB twin of [[kmvHash]] (hex-literal string cast). */
  private val kmvHashSql = "('0x' || substring(md5(word), 1, 15))::BIGINT"

  /** wc-family word normalization — the single shared contract
    * (TextWordCount.words), never re-implemented here. */
  private def words(s: SparkSession, d: String): DataFrame =
    TextWordCount.words(s, d)

  /** Row-r CountMin bucket of `word`: md5 hex window [2r+1, 2r+2] mod W. */
  private def bucketCol(r: Int): Column =
    expr(s"cast(conv(substring(md5(cast(word as binary)), ${2 * r + 1}, 2), 16, 10) as int) % $W")

  /** Hash-r Bloom bit position of `word` in [0, MBits). */
  private def bitPosCol(r: Int): Column =
    expr(s"cast(conv(substring(md5(cast(word as binary)), ${2 * r + 1}, 2), 16, 10) as int) % $MBits")

  // DuckDB twins (no conv(): hex digits via strpos into the alphabet)
  private def hexAt(m: String, i: Int): String =
    s"(strpos('0123456789abcdef', substring($m, $i, 1)) - 1)"
  private def bucketSql(r: Int): String =
    s"((${hexAt("md5(word)", 2 * r + 1)} * 16 + ${hexAt("md5(word)", 2 * r + 2)}) % $W)"
  private def bitPosSql(r: Int): String =
    s"((${hexAt("md5(word)", 2 * r + 1)} * 16 + ${hexAt("md5(word)", 2 * r + 2)}) % $MBits)"

  private val wordsSql = TextWordCount.wordsSql
  private val docWordsSql = TextWordCount.docWordsSql

  // DuckDB twin of bloomFold's bit layout — the 63-bits-per-long
  // contract stated once for every oracle that folds or probes bits
  private def wordJSql(p: String = "p") = s"CAST($p // 63 AS INTEGER)"
  private def maskSql(p: String = "p") = s"1::BIGINT << ($p % 63)"

  /** The CountMin cell fold — THE single source of the (h_row, bucket)
    * cell contract: all D buckets from one md5 per word (subexpression
    * elimination keeps one digest), posexplode, 2-phase count agg
    * grouped by `keys` ++ (h_row, bucket). The global build passes no
    * keys; the merge query passes its shard key. */
  private def cmsFold(wordFrame: DataFrame, keys: String*): DataFrame = {
    val grp = keys ++ Seq("h_row", "bucket")
    wordFrame
      .select(keys.map(col) :+ posexplode(array((0 until D).map(bucketCol): _*)): _*)
      .toDF(grp: _*)
      .groupBy(grp.map(col): _*).agg(count(lit(1)).as("cnt"))
  }

  /** The Bloom bit-layout fold — THE single source of the
    * 63-bits-per-long mask contract: per-word bit positions,
    * word_j = p/63, mask = 1L << (p%63), bit_or-folded per
    * `keys` :+ word_j. */
  private def bloomFold(wordFrame: DataFrame, keys: String*): DataFrame = {
    wordFrame
      .select(keys.map(col) :+ explode(array((0 until D).map(bitPosCol): _*)).as("p"): _*)
      .select(keys.map(col) :+ (col("p") / 63).cast("int").as("word_j")
        :+ expr("cast(shiftleft(cast(1 as bigint), p % 63) as bigint)").as("mask"): _*)
      .groupBy((keys :+ "word_j").map(col): _*).agg(bit_or(col("mask")).as("bits"))
  }

  /** Raw sketch builds — each is ONE corpus pass folding into a
    * constant-size table (≤ D·W CountMin cells; MBits/63 Bloom longs).
    * private[graft]: InventorySpec audits these raw plans (the
    * memoized shared frames hide them behind LogicalRDD scans). */
  private[graft] def cmsBuild(s: SparkSession, d: String): DataFrame =
    cmsFold(words(s, d))
  private[graft] def bloomBuild(s: SparkSession, d: String): DataFrame =
    bloomFold(words(s, d))

  /** Raw shard-fold + merge plans for ScaleStress: the DECLARED merge
    * queries ride the memoized shard tables (built once in the warm
    * pass), so timing them would measure a cache read — these drive the
    * full shard fold and the cell-wise/bit-wise merge in one plan. */
  private[graft] def cmsMergeRaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    cmsFold(TextWordCount.docWords(s, d)
        .select((col("doc_id") % 2).cast("int").as("shard"), col("word")),
      "shard")
      .groupBy($"h_row", $"bucket")
      .agg(sum($"cnt").as("cnt"), count(lit(1)).as("n_shards"))
  }
  private[graft] def bloomMergeRaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bloomFold(TextWordCount.docWords(s, d)
        .select((col("doc_id") % 2).cast("int").as("shard"), col("word")),
      "shard")
      .groupBy($"word_j")
      .agg(bit_or($"bits").as("bits"), count(lit(1)).as("n_shards"))
  }

  /** Materialized sketch tables, built once per (session, dir) and
    * shared — sketches exist precisely to be built in one pass and
    * probed many times; before this, every estimate/probe query paid
    * the full corpus fold its sibling had already run. The
    * checkpointed frames are constant-size at ANY corpus scale. */
  private val cmsCache = new graft.engine.FrameMemo
  private def cmsShared(s: SparkSession, d: String): DataFrame =
    cmsCache.get(s, d)(cmsBuild(s, d).localCheckpoint())
  private val bloomCache = new graft.engine.FrameMemo
  private def bloomShared(s: SparkSession, d: String): DataFrame =
    bloomCache.get(s, d)(bloomBuild(s, d).localCheckpoint())

  /** Shard-local sketch tables (doc-parity shards), same build-once
    * discipline: in production the shard sketches EXIST (each ingest
    * partition folds its own) and merging is the cheap step — the
    * memo models that. Still constant-size (shards × D·W cells /
    * shards × 4 longs); the fold plan is the audited cmsFold/bloomFold
    * with one extra group key. */
  private val cmsShardCache = new graft.engine.FrameMemo
  private def cmsShardShared(s: SparkSession, d: String): DataFrame =
    cmsShardCache.get(s, d)(
      cmsFold(TextWordCount.docWords(s, d)
          .select((col("doc_id") % 2).cast("int").as("shard"), col("word")),
        "shard").localCheckpoint())
  private val bloomShardCache = new graft.engine.FrameMemo
  private def bloomShardShared(s: SparkSession, d: String): DataFrame =
    bloomShardCache.get(s, d)(
      bloomFold(TextWordCount.docWords(s, d)
          .select((col("doc_id") % 2).cast("int").as("shard"), col("word")),
        "shard").localCheckpoint())

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CountMin sketch build: ONE pass over the corpus (all D buckets
    // computed in-row from one md5 — subexpression elimination keeps a
    // single digest per word — then posexplode), one 2-phase agg into
    // ≤ D·W cells. Declared query rides the shared materialized table.
    "sketch_cms" -> ((s, d) => {
      import s.implicits._
      cmsShared(s, d).orderBy($"h_row", $"bucket")
    }),

    // CountMin point queries for the exact top-20 words: the estimate is
    // min over rows of the hashed cell — always >= the true count, and
    // equal unless another word collided in ALL D rows. Sketch side is
    // tiny (≤ D·W rows) → broadcast join against the probe words.
    "sketch_cms_est" -> ((s, d) => {
      import s.implicits._
      val exact = words(s, d).groupBy($"word").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), asc("word")).limit(20)
      val cms = cmsShared(s, d)
      val probes = exact
        .select($"word", $"exact_cnt",
          posexplode(array((0 until D).map(bucketCol): _*)))
        .toDF("word", "exact_cnt", "h_row", "bucket")
      probes.join(broadcast(cms), Seq("h_row", "bucket"))
        .groupBy($"word", $"exact_cnt").agg(min($"cnt").as("est_cnt"))
        .orderBy(desc("exact_cnt"), asc("word"))
    }),

    // Bloom filter build: per-word bit masks bit_or-folded into 4 longs
    // (63 bits each). The filter content is the query result; the
    // declared query rides the shared materialized table.
    "sketch_bloom" -> ((s, d) => {
      import s.implicits._
      bloomShared(s, d).orderBy($"word_j")
    }),

    // Sketch MERGE — the distributed property that makes sketches the
    // 100 TB tool: shard-local partials combine into the exact global
    // sketch (CountMin is linear — cell-wise sum; Bloom merges by
    // bitwise OR), so per-executor partial sketches merge at the
    // coordinator with no second corpus pass. This query IS that plan
    // shape, sharded by doc parity: build a CMS per shard, merge
    // cell-wise. SketchesSpec additionally asserts the merged table
    // equals the single-pass global build EXACTLY (the linearity
    // contract itself — the cross-engine hash proves both engines
    // merge identically, the spec proves merging loses nothing).
    "sketch_cms_merge" -> ((s, d) => {
      import s.implicits._
      val shardCells = cmsShardShared(s, d)
      shardCells.groupBy($"h_row", $"bucket")
        .agg(sum($"cnt").as("cnt"), count(lit(1)).as("n_shards"))
        .orderBy($"h_row", $"bucket")
    }),

    // Bloom merge: shard-local filters OR-folded — same contract as
    // sketch_cms_merge for the membership sketch. Shard builds ride the
    // same bloomFold as the global build, so the bit layout cannot fork.
    "sketch_bloom_merge" -> ((s, d) => {
      import s.implicits._
      val shardBits = bloomShardShared(s, d)
      shardBits.groupBy($"word_j")
        .agg(bit_or($"bits").as("bits"), count(lit(1)).as("n_shards"))
        .orderBy($"word_j")
    }),

    // HLL merge — the third mergeability contract, for the distinct-
    // count sketch (Datasketches HLL via hll_sketch_agg): shard-local
    // sketches union at the coordinator (register-wise max), no second
    // pass. Estimates are engine-specific, so like the *_bounds twins
    // what hash-matches is the CONTRACT: the union estimate sits within
    // 5% of exact (lgK=12 → rse ~1.6%, 5% ≈ 3σ) and — the linearity
    // claim itself — equals the single-pass sketch estimate EXACTLY
    // (union of same-lgK sketches reproduces the single build's
    // registers). DuckDB verifies the 5% bound with its own HLL; the
    // lossless flag has no DuckDB analog and hash-asserts Spark's.
    "sketch_hll_merge" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .select(($"event_id" % 4).as("shard"), $"user_id")
      val merged = ev.groupBy($"shard")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))")
            .as("union_est"),
          count(lit(1)).as("n_shards"))
      val glob = ev.agg(
        expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
          .as("single_est"),
        countDistinct($"user_id").as("exact_users"))
      merged.crossJoin(broadcast(glob))
        .select($"n_shards", $"exact_users",
          (abs($"union_est" - $"exact_users") <= $"exact_users" * 0.05)
            .cast("bigint").as("within_5pct"),
          ($"union_est" === $"single_est").cast("bigint")
            .as("merge_lossless"))
    }),

    // Bloom membership probe with part-name tokens: maybe-present iff all
    // D probe bits are set. Reports the false-positive count against the
    // exact membership (semi-join ground truth) — the number every Bloom
    // deployment monitors. Filter is 4 rows → broadcast to the probes.
    "sketch_bloom_probe" -> ((s, d) => {
      import s.implicits._
      val filt = bloomShared(s, d)
      val probeWords = t(s, d, "part")
        .select(explode(split(lower($"p_name"), "\\s+")).as("tok"))
        .filter($"tok" =!= "")
        .select(regexp_replace($"tok", "[^a-z0-9]+", "").as("word"))
        .distinct()
      val checks = probeWords
        .select($"word", explode(array((0 until D).map(bitPosCol): _*)).as("p"))
      // LEFT join: a probe bit landing in a long word NO corpus word ever
      // touched means the filter word is absent entirely — that is a
      // definite miss (hit=0), not a row to drop (an inner join would
      // silently erase the check and could report a false "maybe")
      val maybe = checks
        .select($"word", ($"p" / 63).cast("int").as("word_j"),
          expr("p % 63").as("bit"))
        .join(broadcast(filt), Seq("word_j"), "left_outer")
        .select($"word",
          coalesce(expr("cast(shiftright(bits, bit) & 1 as int)"), lit(0))
            .as("hit"))
        .groupBy($"word").agg(min($"hit").as("maybe"))
      val present = probeWords.join(
        words(s, d).select($"word").distinct(), Seq("word"), "left_semi")
        .select($"word", lit(1).as("present"))
      maybe.join(present, Seq("word"), "left_outer")
        .select($"word", $"maybe", coalesce($"present", lit(0)).as("present"))
        .agg(count(lit(1)).as("n_probed"),
          sum($"maybe").cast("long").as("n_maybe"),
          sum($"present").cast("long").as("n_present"),
          sum(when($"maybe" === 1 && $"present" === 0, 1).otherwise(0))
            .cast("long").as("n_false_pos"))
    }),

    // Histogram quantile sketch — the fourth sketch contract: a
    // 1000-bin fixed-width integer histogram is the trivially
    // mergeable (bin-wise sum) constant-size summary a cluster uses
    // for p50/p95/p99 when exact sorts don't fit; the estimate's
    // error contract is ±½ bin width. Every per-q row carries the
    // VERIFIED contract: the chosen bin, its edges, the midpoint
    // estimate, the exact order statistic (rank ⌈q·n⌉ with the
    // integer-exact position (n·q+99) div 100 — no float in ranks),
    // and an integer-compare `within` proving the exact quantile's
    // bin IS the chosen bin in both engines. Scale shape: one scan
    // folds to per-value counts (bounded by the 2-dp value domain);
    // every window after runs on that bounded frame or the 1000-bin
    // histogram — the doc_sample_weighted bounded-domain discipline.
    "sketch_hist_quantiles" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events").select($"value")
      val bounds = ev.agg(min($"value").as("v0"), max($"value").as("v1"))
      // the per-value fold is pinned: both the histogram and the
      // exact-rank branch read ONE derivation (review finding — a
      // `def` here re-scanned events per branch), and the frame is
      // value-domain bounded, so the checkpoint is small
      val vc = ev.crossJoin(broadcast(bounds))
        .groupBy($"value", $"v0", $"v1").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val binCol = when($"v1" === $"v0", 0L).otherwise(least(lit(999L),
        floor((($"value" - $"v0") * 1000.0) / ($"v1" - $"v0"))))
      val qarr = "array(50L, 95L, 99L)"
      val hist = vc.select(binCol.as("bin"), $"c", $"v0", $"v1")
        .groupBy($"bin", $"v0", $"v1").agg(sum($"c").as("hc"))
        .withColumn("hcum", sum($"hc").over(Window.orderBy($"bin")))
        .withColumn("n", sum($"hc").over(Window.partitionBy()))
      val estB = hist
        .select($"bin", $"hcum", $"n", $"v0", $"v1",
          explode(expr(qarr)).as("qn"))
        .filter($"hcum" >= expr("(n * qn + 99) div 100"))
        .groupBy($"qn", $"n", $"v0", $"v1").agg(min($"bin").as("qbin"))
      val exact = vc
        .withColumn("cum", sum($"c").over(Window.orderBy($"value")))
        .withColumn("nn", sum($"c").over(Window.partitionBy()))
        .select($"value", $"cum", $"nn", explode(expr(qarr)).as("qn"))
        .filter($"cum" >= expr("(nn * qn + 99) div 100"))
        .groupBy($"qn").agg(min($"value").as("exact_q"))
      estB.join(exact, "qn")
        .select($"qn".as("q_pct"), $"n", $"qbin",
          round($"v0" + ($"qbin" * ($"v1" - $"v0")) / 1000.0, 6)
            .as("lo"),
          round($"v0" + (($"qbin" + 1L) * ($"v1" - $"v0")) / 1000.0, 6)
            .as("hi"),
          round(($"v0" + ($"qbin" * ($"v1" - $"v0")) / 1000.0
            + $"v0" + (($"qbin" + 1L) * ($"v1" - $"v0")) / 1000.0)
            / 2.0, 6).as("est"),
          $"exact_q",
          (when($"v1" === $"v0", 0L).otherwise(least(lit(999L),
            floor((($"exact_q" - $"v0") * 1000.0) / ($"v1" - $"v0"))))
            === $"qbin").as("within"))
        .orderBy($"q_pct")
    }),

    // KMV (k-minimum-values) distinct sketch — the fifth sketch
    // contract, for mergeable distinct counting with oracle-checkable
    // CONTENT (unlike HLL, whose registers are engine-specific): keep
    // the k = 64 smallest DISTINCT 60-bit md5-window hashes of the
    // word domain; the kth smallest h_k estimates
    // distinct ≈ (k−1)·2^60 / h_k. The sketch content (k_kept, h_k)
    // hash-matches DuckDB exactly and the estimate is one
    // exact-integer floor division (DECIMAL(38,0): 63·2^60 overflows
    // int64). Scale shape: the bottom-k plans as TakeOrdered over the
    // distinct-hash agg — per-partition partial bottom-k, constant
    // driver state regardless of corpus size; rel_err audits the
    // estimate against the exact distinct (expected |err| ~ 1/√k).
    "sketch_kmv" -> ((s, d) => {
      import s.implicits._
      val sk = words(s, d).select(kmvHash.as("h")).distinct()
        .orderBy($"h").limit(KmvK)
        .agg(count(lit(1)).as("k_kept"), max($"h").as("h_k"))
      val ex = words(s, d)
        .agg(countDistinct($"word").as("exact_distinct"))
      sk.crossJoin(broadcast(ex))
        .withColumn("est_distinct",
          when($"k_kept" < KmvK, $"k_kept").otherwise(expr(
            s"cast((cast(${KmvK - 1} as decimal(38,0)) * $KmvM)" +
              " div h_k as bigint)")))
        .select($"k_kept", $"h_k", $"est_distinct", $"exact_distinct",
          round(($"est_distinct" - $"exact_distinct").cast("double")
            / $"exact_distinct", 4).as("rel_err"))
    }),

    // Misra-Gries heavy hitters (Misra & Gries 1982; merge rule from
    // Agarwal et al. 2013, "Mergeable Summaries") — the k-counter
    // frequent-items sketch that finds every word with frequency
    // above a threshold in ONE pass with O(k) state per partition:
    // the mapPartitions stage is the genuine per-partition imperative
    // loop (increment / insert / decrement-all), the merge is a
    // pointwise counter sum followed by subtracting the (k+1)-th
    // largest summed counter (summaries-merge rule) over a frame
    // bounded by k·partitions rows — never by the corpus. The sketch
    // estimate depends on partition boundaries, so the DECLARED
    // output is partitioning-independent: the exact heavy set
    // (true·(k+1) > 2n — every such word provably survives the
    // merge) with its exact count and the PROVABLE two-sided bound
    // check est ≤ true ∧ (true−est)·(k+1) ≤ 2n (per-partition error
    // sums to n/(k+1); the merge subtraction adds at most n/(k+1)
    // more since k+1 counters cannot each exceed n/(k+1)). A bound
    // violation surfaces as a 0 flag → oracle hash mismatch.
    "sketch_mg_heavy" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val perPart = words(s, d).select($"word").as[String]
        .mapPartitions { it =>
          val m = scala.collection.mutable.HashMap.empty[String, Long]
          it.foreach { w =>
            if (m.contains(w)) m(w) += 1L
            else if (m.size < k) m(w) = 1L
            else {
              val keys = m.keys.toArray
              var i = 0
              while (i < keys.length) {
                val nv = m(keys(i)) - 1L
                if (nv == 0L) m.remove(keys(i)) else m.update(keys(i), nv)
                i += 1
              }
            }
          }
          m.iterator
        }.toDF("word", "est_part")
      val summed = perPart.groupBy($"word").agg(sum($"est_part").as("est_sum"))
      // (k+1)-th largest summed counter — the merge's subtrahend; the
      // window frame is ≤ k·partitions rows (constant at any corpus)
      val cut = summed
        .withColumn("rk", row_number().over(
          Window.orderBy($"est_sum".desc, $"word".asc)))
        .agg(max(when($"rk" === k + 1, $"est_sum")).as("sub"))
      val sk = summed.crossJoin(broadcast(cut))
        .select($"word", ($"est_sum" - coalesce($"sub", lit(0L))).as("est"))
        .filter($"est" > 0L)
      val exact = words(s, d).groupBy($"word").agg(count(lit(1)).as("true_cnt"))
      // n is the sum of the exact counts — no third tokenize pass
      // (review finding, round 11)
      val tot = exact.agg(sum($"true_cnt").as("n_tot"))
      exact.crossJoin(broadcast(tot))
        .filter($"true_cnt" * (k + 1) > $"n_tot" * 2)
        .join(sk, "word")
        .select($"word", $"true_cnt",
          ($"est" <= $"true_cnt" &&
            ($"true_cnt" - $"est") * (k + 1) <= $"n_tot" * 2)
            .cast("bigint").as("bound_ok"))
        .orderBy($"word")
    }),

    // KMV merge — mergeability for the content-checkable distinct
    // sketch: shard-local bottom-k sets (doc_id%4 shards) union
    // (distinct, then bottom-k again) into EXACTLY the single-pass
    // global sketch — the k smallest hashes of a union are always
    // contained in the union of per-shard k smallest, so the merge is
    // lossless by construction and `matches_direct` asserts it
    // in-query. Per-shard bottom-k runs as a shard-partitioned window
    // (shard-bounded state); the merge itself touches ≤ shards·k rows.
    "sketch_kmv_merge" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val hs = TextWordCount.docWords(s, d)
        .select((col("doc_id") % 4).cast("int").as("shard"),
          kmvHash.as("h"))
        .distinct()
      val shardSk = hs
        .withColumn("rk",
          row_number().over(Window.partitionBy($"shard").orderBy($"h")))
        .filter($"rk" <= KmvK)
      val nsh = shardSk.agg(
        countDistinct($"shard").as("n_shards"),
        count(lit(1)).as("n_kept_total"))
      val merged = shardSk.select($"h").distinct()
        .orderBy($"h").limit(KmvK)
        .agg(count(lit(1)).as("k_kept"), max($"h").as("h_k_merged"))
      val direct = hs.select($"h").distinct()
        .orderBy($"h").limit(KmvK)
        .agg(max($"h").as("h_k_direct"))
      merged.crossJoin(broadcast(direct)).crossJoin(broadcast(nsh))
        .select($"n_shards", $"n_kept_total", $"k_kept",
          $"h_k_merged", $"h_k_direct",
          when($"k_kept" < KmvK, $"k_kept").otherwise(expr(
            s"cast((cast(${KmvK - 1} as decimal(38,0)) * $KmvM)" +
              " div h_k_merged as bigint)")).as("est_distinct"),
          ($"h_k_merged" === $"h_k_direct").cast("bigint")
            .as("matches_direct"))
    }),

    // KMV set-operation estimates (the theta-sketch workflow, Beyer
    // et al. 2007) — Jaccard / union / intersection between two
    // 3-shingle populations (docs split doc_id%2; the wc word domain
    // is a 31-word toy vocabulary where both halves trivially overlap,
    // so the audit runs on Dedup's ~16k-shingle domain instead) from
    // bottom-k sketches alone: the k smallest hashes of A∪B all live
    // inside K_A ∪ K_B, and for any union-sketch element membership
    // in K_A is EXACT membership in A (x among the k smallest of the
    // union and x∈A ⇒ x among the k smallest of A) — so
    // J ≈ |K(A∪B) ∩ K_A ∩ K_B| / k needs no rescan of the corpus.
    // union_est is the (k−1)·2^60/θ floor, inter_est = J·union_est as
    // one widened integer floor. The exact Jaccard audits the estimate
    // (expected |err| ~ 1/sqrt(k)). Scale shape: per-side bottom-k
    // runs as side-partitioned windows (constant state per side);
    // everything after the sketches is ≤ 2k rows of broadcast joins;
    // only the exact audit touches the full shingle table again.
    "sketch_kmv_intersect" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // the md5-per-shingle map rides the FANNED raw shingle stream and
      // the distinct runs directly on (side, h) — equivalent set to the
      // old distinct-shingles-then-hash-then-distinct (md5 is a pure
      // function of the shingle, side of the doc), one exchange fewer,
      // and the hash map runs on every core instead of the single-file
      // scan's one task (r16 optimization)
      val hs = Dedup.shingleStream(s, d, 3, fanned = true)
        .select((col("doc_id") % 2).cast("int").as("side"),
          expr("cast(conv(substring(md5(cast(shingle as binary))," +
            " 1, 15), 16, 10) as bigint)").as("h"))
        .distinct()
      val kept = hs
        .withColumn("rk",
          row_number().over(Window.partitionBy($"side").orderBy($"h")))
        .filter($"rk" <= KmvK)
        .select($"side", $"h")
      val unionSk = kept.select($"h").distinct()
        .orderBy($"h").limit(KmvK)
      val mk = unionSk
        .join(broadcast(kept.filter($"side" === 0)
          .select($"h".as("ha"))), $"h" === $"ha", "left_outer")
        .join(broadcast(kept.filter($"side" === 1)
          .select($"h".as("hb"))), $"h" === $"hb", "left_outer")
        .agg(count(lit(1)).as("k_kept"), max($"h").as("theta"),
          sum(($"ha".isNotNull && $"hb".isNotNull).cast("long"))
            .as("n_both"))
      val ex = hs.groupBy($"h").agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("u_exact"),
          sum(($"cnt" === 2).cast("long")).as("i_exact"))
      mk.crossJoin(broadcast(ex))
        .withColumn("union_est",
          when($"k_kept" < KmvK, $"k_kept").otherwise(expr(
            s"cast((cast(${KmvK - 1} as decimal(38,0)) * $KmvM)" +
              " div theta as bigint)")))
        .select($"k_kept", $"theta", $"n_both", $"union_est",
          expr("cast(cast(n_both as decimal(38,0)) * union_est" +
            " div k_kept as bigint)").as("inter_est"),
          round($"n_both".cast("double") / $"k_kept", 4)
            .as("jaccard_est"),
          round($"i_exact".cast("double") / $"u_exact", 4)
            .as("exact_jaccard"),
          (round($"n_both".cast("double") / $"k_kept", 4) -
            round($"i_exact".cast("double") / $"u_exact", 4))
            .as("jaccard_err"))
    }),

    // AMS F2 tug-of-war sketch (Alon–Matias–Szegedy 1996) — the
    // second frequency moment (self-join size / skew number) from 8
    // integer counters: estimator r keeps S_r = Σ_w sign_r(w)·cnt_w
    // with a deterministic md5-hex-digit sign family, E[S²] = F2, and
    // the published estimate is the lower median of the 8 squares.
    // The sketch is LINEAR, so per-shard sketches (doc_id%4) merged
    // by plain addition must equal the direct single-pass sketch —
    // asserted in-query (n_mismatch), the same mergeability contract
    // as the CMS/Bloom/KMV merges. Everything is exact integers until
    // the final double casts; squares and F2 widen to DECIMAL(38,0)
    // (cnt² overflows int64 at cluster-scale counts). Scale shape:
    // one vocab-bounded (shard, word) agg, 8 in-row signs, then
    // ≤ 32-row frames end-to-end.
    "sketch_ams_f2" -> ((s, d) => {
      import s.implicits._
      val wc = TextWordCount.docWords(s, d)
        .select((col("doc_id") % 4).cast("int").as("shard"), $"word")
        .groupBy($"shard", $"word").agg(count(lit(1)).as("cnt"))
      def signs = (0 until 8).map { r =>
        struct(lit(r.toLong).as("r"),
          expr(s"case when cast(conv(substring(md5(cast(word as" +
            s" binary)), ${r + 1}, 1), 16, 10) as int) <= 7" +
            " then 1 else -1 end")
            .cast("long").as("sg"))
      }
      val shardSk = wc
        .select($"shard", $"cnt", explode(array(signs: _*)).as("e"))
        .groupBy($"shard", $"e.r".as("r"))
        .agg(sum($"e.sg" * $"cnt").as("sk"))
      val merged = shardSk.groupBy($"r").agg(sum($"sk").as("sk_merged"))
      val tot = wc.groupBy($"word").agg(sum($"cnt").as("cnt"))
      val direct = tot
        .select($"cnt", explode(array(signs: _*)).as("e"))
        .groupBy($"e.r".as("r"))
        .agg(sum($"e.sg" * $"cnt").as("sk_direct"))
      val es = merged.join(direct, "r")
        .select($"r", $"sk_merged", $"sk_direct",
          expr("cast(sk_merged as decimal(38,0)) * sk_merged").as("est"))
      val med = es.select($"est").orderBy($"est").limit(4)
        .agg(max($"est").as("f2_est"))
      val f2 = tot
        .agg(sum(expr("cast(cnt as decimal(38,0)) * cnt")).as("f2_exact"))
      val mm = es.agg(sum(($"sk_merged" =!= $"sk_direct").cast("long"))
        .as("n_mismatch"))
      med.crossJoin(broadcast(f2)).crossJoin(broadcast(mm))
        .select(lit(8L).as("n_estimators"),
          $"f2_exact".cast("double").as("f2_exact"),
          $"f2_est".cast("double").as("f2_est"),
          round(($"f2_est".cast("double") - $"f2_exact".cast("double"))
            / $"f2_exact".cast("double"), 4).as("rel_err"),
          $"n_mismatch")
    }),

    // q-digest quantile sketch (Shrivastava et al. 2004) — the
    // quantile member of the sketch family and, unlike the
    // range-gridded sketch_hist_quantiles, a RANK-error summary that
    // stays accurate under arbitrary value skew. Deterministic by
    // construction (leaf counting + a canonical bottom-up compression
    // are pure functions of the value multiset — no GK insertion
    // order, no KLL coin flips), so the DIGEST ITSELF is replayed by
    // the oracle: with a leaf-only build, each compression level folds
    // sibling pairs into parents independently per family, which
    // DuckDB unrolls as 16 chained CTEs — est_q, its rank, and the
    // node-count bound are all hash-compared exactly, not just
    // contract-gated. Verified contract per quantile: the reported
    // value's inclusive rank reaches the target and its exclusive rank
    // overshoots by at most L·t (L = 16 levels, t = max(1, n/k)) —
    // the textbook q-digest guarantee, checked against exact ranks.
    // Scale shape: the corpus pass is ONE bounded-domain (2-dp e2
    // lattice) count agg with map-side combine; the compression runs
    // as one task over those bounded counts, and everything after is
    // digest-sized (<= 3k nodes). The per-partition build + order-free
    // merge path for UNBOUNDED domains is [[graft.engine.QDigest]]
    // fromValues/merge, property-tested (merge law, bound under
    // arbitrary splits) in QDigestSpec.
    "sketch_qdigest_quantiles" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val k = 1024
      val e2all = t(s, d, "events")
        .select(expr("cast(round(value * 100) as long)").as("e2"))
      val inR = e2all
        .filter($"e2" >= 0L && $"e2" < graft.engine.QDigest.U.toLong)
      if (inR.head(1).isEmpty)
        Seq.empty[(Long, Long, Long, Long, Double, Double, Long,
            Boolean, Boolean)]
          .toDF("q_pct", "n", "n_out_of_range", "target_rank", "est_q",
            "exact_q", "est_rank", "state_bounded", "within_bound")
      else {
        val nOut = e2all.filter($"e2" < 0L ||
            $"e2" >= graft.engine.QDigest.U.toLong)
          .agg(count(lit(1)).as("n_out_of_range"))
        val vc = inR.groupBy($"e2").agg(count(lit(1)).as("c"))
          .localCheckpoint() // bounded by the 2-dp value domain
        // digest build: bounded counts -> ONE canonical-compress task
        val estRows = vc.select($"e2".cast("int"), $"c").as[(Int, Long)]
          .coalesce(1)
          .mapPartitions { it =>
            val m = scala.collection.mutable.HashMap.empty[Long, Long]
            var n = 0L
            it.foreach { case (v, c) =>
              m.update(graft.engine.QDigest.leafId(v), c); n += c
            }
            val dig = graft.engine.QDigest.compress(m, n, 1024)
            val okSize = graft.engine.QDigest.size(dig) <= 3 * 1024
            val tt = math.max(1L, n / 1024)
            Seq(50L, 90L, 99L).iterator.map { q =>
              val target = (n * q + 99) / 100
              (q, n, target,
                graft.engine.QDigest.quantile(dig, target).toLong,
                okSize, tt)
            }
          }
          .toDF("q_pct", "n", "target_rank", "est_e2", "state_bounded",
            "t")
        val cum = vc
          .withColumn("cum", sum($"c").over(Window.orderBy($"e2")))
        val exact = estRows.select($"q_pct", $"target_rank".as("tr"))
          .join(cum, $"cum" >= $"tr")
          .groupBy($"q_pct").agg(min($"e2").as("exact_e2"))
        // inclusive rank of the estimate (#values <= est) and the
        // exclusive rank (#values < est) — the two sides of the
        // q-digest guarantee; 3-row broadcast theta-joins
        val rankLe = estRows.select($"q_pct", $"est_e2".as("ee"))
          .join(cum, $"e2" <= $"ee")
          .groupBy($"q_pct").agg(max($"cum").as("est_rank"))
        val rankLt = estRows.select($"q_pct", $"est_e2".as("ee"))
          .join(cum, $"e2" < $"ee")
          .groupBy($"q_pct").agg(max($"cum").as("est_rank_lt"))
        estRows.join(exact, "q_pct")
          .join(rankLe, Seq("q_pct"), "left_outer")
          .join(rankLt, Seq("q_pct"), "left_outer")
          .na.fill(0L, Seq("est_rank", "est_rank_lt"))
          .crossJoin(broadcast(nOut))
          .select($"q_pct", $"n", $"n_out_of_range", $"target_rank",
            round($"est_e2" / 100.0, 2).as("est_q"),
            round($"exact_e2" / 100.0, 2).as("exact_q"),
            $"est_rank", $"state_bounded",
            ($"est_rank" >= $"target_rank" &&
              $"est_rank_lt" <= $"target_rank" + lit(16L) * $"t")
              .as("within_bound"))
          .orderBy($"q_pct")
      }
    }),

    // q-digest MERGE law under the oracle (r15 verdict ask #2) — the
    // quantile member of the merge family beside sketch_cms_merge /
    // sketch_bloom_merge / sketch_hll_merge / sketch_kmv_merge, with
    // one honest difference those rows don't have: CMS/Bloom/HLL
    // merges are LOSSLESS (linear / bitwise / register-max), but a
    // q-digest shard build is itself a lossy compression, so merging
    // compressed shard digests need not reproduce the one-shot corpus
    // digest. The n-way merge is therefore stated canonically —
    // count-map SUM of the shard digests, then ONE recompression at
    // the combined n (pairwise merging with intermediate compressions
    // would be merge-order-dependent; the sum-then-compress form is
    // the order-free associative formulation QDigestSpec's merge law
    // pins) — and the declared row hash-checks the ENTIRE pipeline in
    // DuckDB: 4 shard-local compressions (the leaf-only fold, grouped
    // by shard), the merged digest's PARENT-AWARE recompression (a
    // family may now fold into a parent that already holds mass from
    // another shard — the leaf-only fold's missing case), the
    // one-shot corpus digest for comparison, per-quantile estimates
    // from BOTH digests, the exact drift between them (symmetric node
    // difference — the price of mergeability, usually 0 or tiny), and
    // the merged digest's rank guarantee against exact corpus ranks
    // with the composed audit bound L·(Σ_s t_s + t): each shard
    // compression contributes <= L·t_s rank slack, summation adds
    // the slacks, and the final recompression adds L·t. Scale shape:
    // one bounded-domain (shard × e2 lattice) count agg with map-side
    // combine is the only corpus pass; the digest algebra runs as one
    // task over those bounded counts, exactly like the quantiles row.
    "sketch_qdigest_merge" -> ((s, d) => {
      import s.implicits._
      val k = 1024
      val vc = t(s, d, "events")
        .select(($"event_id" % 4).as("shard"),
          expr("cast(round(value * 100) as long)").as("e2"))
        .filter($"e2" >= 0L && $"e2" < graft.engine.QDigest.U.toLong)
        .groupBy($"shard", $"e2").agg(count(lit(1)).as("c"))
        .localCheckpoint() // bounded: 4 × the 2-dp value domain
      val rows = vc.select($"shard".cast("int"), $"e2".cast("int"), $"c")
        .as[(Int, Int, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          import graft.engine.QDigest
          val leaves = scala.collection.mutable
            .HashMap.empty[Int, scala.collection.mutable.HashMap[Long, Long]]
          it.foreach { case (sh, v, c) =>
            leaves.getOrElseUpdate(sh,
              scala.collection.mutable.HashMap.empty[Long, Long])
              .update(QDigest.leafId(v), c)
          }
          val shardNs = leaves.view.mapValues(_.valuesIterator.sum).toMap
          val n = shardNs.valuesIterator.sum
          if (n == 0L) Iterator.empty
          else {
            val tTot = math.max(1L, n / k)
            val tSum = shardNs.valuesIterator
              .map(ns => math.max(1L, ns / k)).sum
            val shardDigs = leaves.toSeq.map { case (sh, m) =>
              QDigest.compress(m, shardNs(sh), k)
            }
            // n-way merge: count-map sum, ONE recompress at total n
            val summed = scala.collection.mutable.HashMap.empty[Long, Long]
            shardDigs.foreach(_.foreach { case (id, c) =>
              summed.update(id, summed.getOrElse(id, 0L) + c) })
            val merged = QDigest.compress(summed, n, k)
            // one-shot corpus digest + exact leaf cums for the audit
            val allLeaves = scala.collection.mutable.HashMap.empty[Long, Long]
            leaves.valuesIterator.foreach(_.foreach { case (id, c) =>
              allLeaves.update(id, allLeaves.getOrElse(id, 0L) + c) })
            val single = QDigest.compress(allLeaves, n, k)
            val drift =
              ((merged.toSet diff single.toSet) ++
                (single.toSet diff merged.toSet)).size.toLong
            val exact = allLeaves.toSeq
              .map { case (id, c) => (QDigest.loOf(id), c) }.sortBy(_._1)
            def rankLe(v: Int): Long =
              exact.iterator.takeWhile(_._1 <= v).map(_._2).sum
            def rankLt(v: Int): Long =
              exact.iterator.takeWhile(_._1 < v).map(_._2).sum
            Seq(50L, 90L, 99L).iterator.map { q =>
              val target = (n * q + 99) / 100
              val em = QDigest.quantile(merged, target)
              val es = QDigest.quantile(single, target)
              (q, n, target, em.toLong, es.toLong, rankLe(em),
                QDigest.size(merged).toLong, QDigest.size(single).toLong,
                drift,
                QDigest.size(merged) <= 3 * k && QDigest.size(single) <= 3 * k,
                rankLe(em) >= target &&
                  rankLt(em) <= target + 16L * (tSum + tTot))
            }
          }
        }
        .toDF("q_pct", "n", "target_rank", "est_e2_m", "est_e2_s",
          "est_rank", "nodes_merged", "nodes_single", "drift_nodes",
          "state_bounded", "within_bound")
      rows.select($"q_pct", $"n", $"target_rank",
          round($"est_e2_m" / 100.0, 2).as("est_q_merged"),
          round($"est_e2_s" / 100.0, 2).as("est_q_single"),
          $"est_rank", $"nodes_merged", $"nodes_single", $"drift_nodes",
          $"state_bounded", $"within_bound")
        .orderBy($"q_pct")
    }))

  /** The 16 unrolled q-digest fold levels for the oracle: at step X,
    * level-X nodes group by parent and the family folds iff its sum
    * stays within t — independent per family for a leaf-only build
    * (counts reach level X-1 only through step X), which is exactly
    * why the sequential Scala compression replays as set-wise SQL. */
  private def qdigestFoldSql: String =
    (16 to 1 by -1).map { x =>
      val lo = 1L << x
      val hi = 1L << (x + 1)
      s"""f$x AS MATERIALIZED (
         |  SELECT node // 2 AS p, CAST(SUM(cnt) AS BIGINT) AS s,
         |    MAX(thr) AS thr
         |  FROM l$x, tt WHERE node >= $lo AND node < $hi GROUP BY 1),
         |l${x - 1} AS MATERIALIZED (
         |  SELECT node, cnt FROM l$x WHERE node >= $hi OR node < $lo
         |  UNION ALL
         |  SELECT p AS node, s AS cnt FROM f$x WHERE s <= thr
         |  UNION ALL
         |  SELECT l.node, l.cnt FROM l$x l JOIN f$x f
         |    ON l.node // 2 = f.p AND f.s > f.thr
         |  WHERE l.node >= $lo AND l.node < $hi)""".stripMargin
    }.mkString(",\n")

  /** Shard-grouped variant of [[qdigestFoldSql]] for the merge row:
    * the same leaf-only family-independent fold, with `shard` carried
    * through every level and per-shard thresholds from `tts`. */
  private def qdigestShardFoldSql: String =
    (16 to 1 by -1).map { x =>
      val lo = 1L << x
      val hi = 1L << (x + 1)
      s"""fs$x AS MATERIALIZED (
         |  SELECT shard, node // 2 AS p, CAST(SUM(cnt) AS BIGINT) AS s
         |  FROM ls$x WHERE node >= $lo AND node < $hi GROUP BY 1, 2),
         |ls${x - 1} AS MATERIALIZED (
         |  SELECT shard, node, cnt FROM ls$x
         |  WHERE node >= $hi OR node < $lo
         |  UNION ALL
         |  SELECT f.shard, f.p AS node, f.s AS cnt
         |  FROM fs$x f JOIN tts t USING (shard) WHERE f.s <= t.thr
         |  UNION ALL
         |  SELECT l.shard, l.node, l.cnt FROM ls$x l
         |    JOIN fs$x f ON l.shard = f.shard AND l.node // 2 = f.p
         |    JOIN tts t ON t.shard = l.shard
         |  WHERE f.s > t.thr AND l.node >= $lo AND l.node < $hi)"""
        .stripMargin
    }.mkString(",\n")

  /** PARENT-AWARE fold for recompressing a MERGED digest (nodes at
    * mixed levels): unlike the leaf-only fold, a family's parent may
    * already hold mass (from another shard's compression), so the
    * fold test is children-sum + existing parent vs t, a folded
    * family REPLACES its old parent row, and an unfolded one leaves
    * all three nodes in place — exactly QDigest.compress's walk,
    * which stays family-independent per level because a fold only
    * ever writes one level up. */
  private def qdigestMergedFoldSql: String =
    (16 to 1 by -1).map { x =>
      val lo = 1L << x
      val hi = 1L << (x + 1)
      s"""fm$x AS MATERIALIZED (
         |  SELECT node // 2 AS p, CAST(SUM(cnt) AS BIGINT) AS cs
         |  FROM lm$x WHERE node >= $lo AND node < $hi GROUP BY 1),
         |gm$x AS MATERIALIZED (
         |  SELECT f.p, f.cs + CAST(COALESCE(l.cnt, 0) AS BIGINT) AS s,
         |    tt.thr
         |  FROM fm$x f LEFT JOIN lm$x l ON l.node = f.p, tt),
         |lm${x - 1} AS MATERIALIZED (
         |  SELECT l.node, l.cnt FROM lm$x l
         |  WHERE NOT EXISTS (SELECT 1 FROM gm$x g WHERE g.s <= g.thr
         |    AND (g.p = l.node OR (g.p = l.node // 2
         |         AND l.node >= $lo AND l.node < $hi)))
         |  UNION ALL
         |  SELECT p AS node, s AS cnt FROM gm$x WHERE s <= thr)"""
        .stripMargin
    }.mkString(",\n")

  val oracle: Map[String, String] = Map(

    // the full digest is replayed (see the query scaladoc): leaf
    // counts, 16 canonical fold levels, the (hi, lo)-ordered rank
    // walk, and both rank sides of the guarantee — every output
    // column is exact, including est_q
    "sketch_qdigest_quantiles" ->
      s"""WITH e AS (
         |  SELECT CAST(ROUND(value * 100) AS BIGINT) AS e2 FROM events),
         |r AS MATERIALIZED (
         |  SELECT e2 FROM e WHERE e2 >= 0 AND e2 < 65536),
         |oo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_out FROM e
         |       WHERE e2 < 0 OR e2 >= 65536),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r),
         |tt AS (SELECT GREATEST(1, n // 1024) AS thr FROM nn),
         |l16 AS MATERIALIZED (
         |  SELECT 65536 + e2 AS node, CAST(COUNT(*) AS BIGINT)
         |    AS cnt FROM r GROUP BY e2),
         |$qdigestFoldSql,
         |dg AS (SELECT node, cnt,
         |         CAST(FLOOR(LOG2(node)) AS BIGINT) AS lvl FROM l0),
         |dn AS (SELECT cnt, (65536 >> lvl) AS w,
         |         (node - (CAST(1 AS BIGINT) << lvl)) * (65536 >> lvl)
         |           AS lo
         |       FROM dg),
         |dc AS (SELECT lo + w - 1 AS hi, lo, cnt,
         |         CAST(SUM(cnt) OVER (ORDER BY lo + w - 1, lo)
         |           AS BIGINT) AS cum
         |       FROM dn),
         |nd AS (SELECT COUNT(*) AS nodes FROM l0),
         |q AS (SELECT UNNEST([50, 90, 99]) AS q_pct),
         |tr AS (SELECT CAST(q_pct AS BIGINT) AS q_pct, n,
         |         (n * q_pct + 99) // 100 AS target FROM q, nn),
         |est AS (SELECT tr.q_pct, tr.n, tr.target,
         |          MIN(dc.hi) AS est_e2
         |        FROM tr JOIN dc ON dc.cum >= tr.target
         |        GROUP BY 1, 2, 3),
         |vc AS (SELECT e2, COUNT(*) AS c FROM r GROUP BY e2),
         |cc AS (SELECT e2, CAST(SUM(c) OVER (ORDER BY e2) AS BIGINT)
         |         AS cum FROM vc),
         |ex AS (SELECT tr.q_pct, MIN(cc.e2) AS exact_e2
         |       FROM tr JOIN cc ON cc.cum >= tr.target GROUP BY 1),
         |le AS (SELECT est.q_pct, MAX(cc.cum) AS est_rank
         |       FROM est JOIN cc ON cc.e2 <= est.est_e2 GROUP BY 1),
         |lt AS (SELECT est.q_pct, MAX(cc.cum) AS est_rank_lt
         |       FROM est LEFT JOIN cc ON cc.e2 < est.est_e2 GROUP BY 1)
         |SELECT est.q_pct, est.n, oo.n_out AS n_out_of_range,
         |  est.target AS target_rank,
         |  ROUND(est.est_e2 / 100.0, 2) AS est_q,
         |  ROUND(ex.exact_e2 / 100.0, 2) AS exact_q,
         |  le.est_rank,
         |  nd.nodes <= 3072 AS state_bounded,
         |  (le.est_rank >= est.target AND
         |   COALESCE(lt.est_rank_lt, 0) <= est.target + 16 * tt.thr)
         |    AS within_bound
         |FROM est JOIN ex USING (q_pct) JOIN le USING (q_pct)
         |  JOIN lt USING (q_pct), oo, nd, tt
         |ORDER BY q_pct""".stripMargin,

    // the full merge pipeline is replayed: 4 shard-local leaf-only
    // folds (shard-grouped), the count-map sum, the parent-aware
    // recompression at total n, the one-shot corpus digest, the
    // node-level drift between them, and both rank sides of the
    // composed guarantee — every output column exact
    "sketch_qdigest_merge" ->
      s"""WITH e AS (
         |  SELECT event_id % 4 AS shard,
         |    CAST(ROUND(value * 100) AS BIGINT) AS e2 FROM events),
         |r AS MATERIALIZED (
         |  SELECT shard, e2 FROM e WHERE e2 >= 0 AND e2 < 65536),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r),
         |tt AS (SELECT GREATEST(1, n // 1024) AS thr FROM nn),
         |tts AS MATERIALIZED (
         |  SELECT shard, GREATEST(1, COUNT(*) // 1024) AS thr
         |  FROM r GROUP BY 1),
         |ts AS (SELECT CAST(SUM(thr) AS BIGINT) AS tsum FROM tts),
         |ls16 AS MATERIALIZED (
         |  SELECT shard, 65536 + e2 AS node,
         |    CAST(COUNT(*) AS BIGINT) AS cnt FROM r GROUP BY 1, 2),
         |$qdigestShardFoldSql,
         |lm16 AS MATERIALIZED (
         |  SELECT node, CAST(SUM(cnt) AS BIGINT) AS cnt
         |  FROM ls0 GROUP BY 1),
         |$qdigestMergedFoldSql,
         |l16 AS MATERIALIZED (
         |  SELECT 65536 + e2 AS node, CAST(COUNT(*) AS BIGINT)
         |    AS cnt FROM r GROUP BY e2),
         |$qdigestFoldSql,
         |dgm AS (SELECT node, cnt,
         |          CAST(FLOOR(LOG2(node)) AS BIGINT) AS lvl FROM lm0),
         |dcm AS (SELECT lo + w - 1 AS hi, lo, cnt,
         |          CAST(SUM(cnt) OVER (ORDER BY lo + w - 1, lo)
         |            AS BIGINT) AS cum
         |        FROM (SELECT cnt, (65536 >> lvl) AS w,
         |                (node - (CAST(1 AS BIGINT) << lvl))
         |                  * (65536 >> lvl) AS lo
         |              FROM dgm)),
         |dgs AS (SELECT node, cnt,
         |          CAST(FLOOR(LOG2(node)) AS BIGINT) AS lvl FROM l0),
         |dcs AS (SELECT lo + w - 1 AS hi, lo, cnt,
         |          CAST(SUM(cnt) OVER (ORDER BY lo + w - 1, lo)
         |            AS BIGINT) AS cum
         |        FROM (SELECT cnt, (65536 >> lvl) AS w,
         |                (node - (CAST(1 AS BIGINT) << lvl))
         |                  * (65536 >> lvl) AS lo
         |              FROM dgs)),
         |ndm AS (SELECT CAST(COUNT(*) AS BIGINT) AS nodes FROM lm0),
         |nds AS (SELECT CAST(COUNT(*) AS BIGINT) AS nodes FROM l0),
         |dr AS (SELECT CAST(
         |         (SELECT COUNT(*) FROM ((SELECT node, cnt FROM lm0)
         |            EXCEPT (SELECT node, cnt FROM l0))) +
         |         (SELECT COUNT(*) FROM ((SELECT node, cnt FROM l0)
         |            EXCEPT (SELECT node, cnt FROM lm0)))
         |         AS BIGINT) AS drift_nodes),
         |q AS (SELECT UNNEST([50, 90, 99]) AS q_pct),
         |tr AS (SELECT CAST(q_pct AS BIGINT) AS q_pct, n,
         |         (n * q_pct + 99) // 100 AS target FROM q, nn),
         |em AS (SELECT tr.q_pct, tr.n, tr.target,
         |          MIN(dcm.hi) AS est_e2
         |        FROM tr JOIN dcm ON dcm.cum >= tr.target
         |        GROUP BY 1, 2, 3),
         |es AS (SELECT tr.q_pct, MIN(dcs.hi) AS est_e2
         |       FROM tr JOIN dcs ON dcs.cum >= tr.target GROUP BY 1),
         |vc AS (SELECT e2, COUNT(*) AS c FROM r GROUP BY e2),
         |cc AS (SELECT e2, CAST(SUM(c) OVER (ORDER BY e2) AS BIGINT)
         |         AS cum FROM vc),
         |le AS (SELECT em.q_pct, MAX(cc.cum) AS est_rank
         |       FROM em JOIN cc ON cc.e2 <= em.est_e2 GROUP BY 1),
         |lt AS (SELECT em.q_pct, MAX(cc.cum) AS est_rank_lt
         |       FROM em LEFT JOIN cc ON cc.e2 < em.est_e2 GROUP BY 1)
         |SELECT em.q_pct, em.n, em.target AS target_rank,
         |  ROUND(em.est_e2 / 100.0, 2) AS est_q_merged,
         |  ROUND(es.est_e2 / 100.0, 2) AS est_q_single,
         |  le.est_rank, ndm.nodes AS nodes_merged,
         |  nds.nodes AS nodes_single, dr.drift_nodes,
         |  (ndm.nodes <= 3072 AND nds.nodes <= 3072) AS state_bounded,
         |  (le.est_rank >= em.target AND
         |   COALESCE(lt.est_rank_lt, 0) <= em.target
         |     + 16 * (ts.tsum + tt.thr)) AS within_bound
         |FROM em JOIN es USING (q_pct) JOIN le USING (q_pct)
         |  JOIN lt USING (q_pct), ndm, nds, dr, ts, tt
         |ORDER BY q_pct""".stripMargin,

    "sketch_kmv" ->
      s"""WITH ws AS ($wordsSql),
        |hs AS (SELECT DISTINCT $kmvHashSql AS h FROM ws),
        |bot AS (SELECT h FROM hs ORDER BY h LIMIT $KmvK),
        |sk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_kept,
        |              MAX(h) AS h_k FROM bot),
        |ex AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT)
        |         AS exact_distinct FROM ws),
        |est AS (
        |  SELECT k_kept, h_k,
        |    CASE WHEN k_kept < $KmvK THEN k_kept
        |         ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) * $KmvM)
        |                // h_k AS BIGINT) END AS est_distinct,
        |    exact_distinct
        |  FROM sk, ex)
        |SELECT k_kept, h_k, est_distinct, exact_distinct,
        |  ROUND(CAST(est_distinct - exact_distinct AS DOUBLE)
        |    / exact_distinct, 4) + 0.0 AS rel_err
        |FROM est""".stripMargin,

    // k = 64 counters: the heavy set is every word with
    // true·(k+1) > 2n, and the sketch side's bound check must pass
    // for ALL of them (a violation flips bound_ok to 0 → hash fail)
    "sketch_mg_heavy" ->
      s"""WITH ws AS ($wordsSql),
        |ex AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS true_cnt
        |       FROM ws GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM ws)
        |SELECT word, true_cnt, CAST(1 AS BIGINT) AS bound_ok
        |FROM ex, tot WHERE true_cnt * 65 > n_tot * 2
        |ORDER BY word""".stripMargin,

    "sketch_kmv_merge" ->
      s"""WITH dw AS ($docWordsSql),
        |hs AS (SELECT DISTINCT CAST(doc_id % 4 AS INTEGER) AS shard,
        |         $kmvHashSql AS h FROM dw),
        |ssk AS (SELECT shard, h,
        |          ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h)
        |            AS rk
        |        FROM hs),
        |kept AS (SELECT shard, h FROM ssk WHERE rk <= $KmvK),
        |nsh AS (SELECT CAST(COUNT(DISTINCT shard) AS BIGINT)
        |          AS n_shards,
        |        CAST(COUNT(*) AS BIGINT) AS n_kept_total FROM kept),
        |mg AS (SELECT h FROM (SELECT DISTINCT h FROM kept)
        |       ORDER BY h LIMIT $KmvK),
        |m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_kept,
        |         MAX(h) AS h_k_merged FROM mg),
        |dr AS (SELECT MAX(h) AS h_k_direct
        |       FROM (SELECT h FROM (SELECT DISTINCT h FROM hs)
        |             ORDER BY h LIMIT $KmvK))
        |SELECT n_shards, n_kept_total, k_kept, h_k_merged, h_k_direct,
        |  CASE WHEN k_kept < $KmvK THEN k_kept
        |       ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) * $KmvM)
        |              // h_k_merged AS BIGINT) END AS est_distinct,
        |  CAST(CASE WHEN h_k_merged = h_k_direct THEN 1 ELSE 0 END
        |    AS BIGINT) AS matches_direct
        |FROM m2, dr, nsh""".stripMargin,

    "sketch_kmv_intersect" ->
      s"""WITH ${Dedup.shinglesSql(3, "sh")},
        |hs AS (SELECT DISTINCT CAST(doc_id % 2 AS INTEGER) AS side,
        |         ('0x' || substring(md5(shingle), 1, 15))::BIGINT AS h
        |       FROM sh),
        |ssk AS (SELECT side, h,
        |          ROW_NUMBER() OVER (PARTITION BY side ORDER BY h)
        |            AS rk
        |        FROM hs),
        |kept AS (SELECT side, h FROM ssk WHERE rk <= $KmvK),
        |usk AS (SELECT h FROM (SELECT DISTINCT h FROM kept)
        |        ORDER BY h LIMIT $KmvK),
        |mk AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k_kept, MAX(u.h) AS theta,
        |    CAST(SUM(CASE WHEN a.ha IS NOT NULL AND b.hb IS NOT NULL
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_both
        |  FROM usk u
        |  LEFT JOIN (SELECT h AS ha FROM kept WHERE side = 0) a
        |    ON u.h = a.ha
        |  LEFT JOIN (SELECT h AS hb FROM kept WHERE side = 1) b
        |    ON u.h = b.hb),
        |ex AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS u_exact,
        |    CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS i_exact
        |  FROM (SELECT h, COUNT(*) AS cnt FROM hs GROUP BY h)),
        |est AS (
        |  SELECT k_kept, theta, n_both,
        |    CASE WHEN k_kept < $KmvK THEN k_kept
        |         ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) * $KmvM)
        |                // theta AS BIGINT) END AS union_est,
        |    u_exact, i_exact
        |  FROM mk, ex)
        |SELECT k_kept, theta, n_both, union_est,
        |  CAST((CAST(n_both AS HUGEINT) * union_est) // k_kept
        |    AS BIGINT) AS inter_est,
        |  ROUND(CAST(n_both AS DOUBLE) / k_kept, 4) AS jaccard_est,
        |  ROUND(CAST(i_exact AS DOUBLE) / u_exact, 4) AS exact_jaccard,
        |  ROUND(CAST(n_both AS DOUBLE) / k_kept, 4)
        |    - ROUND(CAST(i_exact AS DOUBLE) / u_exact, 4)
        |    AS jaccard_err
        |FROM est""".stripMargin,

    "sketch_ams_f2" ->
      s"""WITH dw AS ($docWordsSql),
        |wc AS (SELECT CAST(doc_id % 4 AS INTEGER) AS shard, word,
        |         COUNT(*) AS cnt
        |       FROM dw GROUP BY 1, 2),
        |rs AS (SELECT unnest(range(8)) AS r),
        |sg AS (
        |  SELECT wc.shard, wc.cnt, rs.r,
        |    CASE WHEN strpos('0123456789abcdef', substring(md5(wc.word),
        |           CAST(rs.r + 1 AS INTEGER), 1)) - 1 <= 7
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM wc, rs),
        |ss AS (SELECT shard, r, CAST(SUM(sgn * cnt) AS BIGINT) AS sk
        |       FROM sg GROUP BY 1, 2),
        |mg AS (SELECT r, CAST(SUM(sk) AS BIGINT) AS sk_merged
        |       FROM ss GROUP BY r),
        |tot AS (SELECT word, CAST(SUM(cnt) AS BIGINT) AS cnt
        |        FROM wc GROUP BY word),
        |dsg AS (
        |  SELECT t.cnt, rs.r,
        |    CASE WHEN strpos('0123456789abcdef', substring(md5(t.word),
        |           CAST(rs.r + 1 AS INTEGER), 1)) - 1 <= 7
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM tot t, rs),
        |dr AS (SELECT r, CAST(SUM(sgn * cnt) AS BIGINT) AS sk_direct
        |       FROM dsg GROUP BY r),
        |es AS (SELECT mg.r, sk_merged, sk_direct,
        |         CAST(sk_merged AS HUGEINT) * sk_merged AS est
        |       FROM mg JOIN dr USING (r)),
        |md AS (SELECT MAX(est) AS f2_est
        |       FROM (SELECT est FROM es ORDER BY est LIMIT 4)),
        |f2 AS (SELECT SUM(CAST(cnt AS HUGEINT) * cnt) AS f2_exact
        |       FROM tot),
        |mm AS (SELECT CAST(SUM(CASE WHEN sk_merged <> sk_direct
        |         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
        |       FROM es)
        |SELECT CAST(8 AS BIGINT) AS n_estimators,
        |  CAST(f2_exact AS DOUBLE) AS f2_exact,
        |  CAST(f2_est AS DOUBLE) AS f2_est,
        |  ROUND((CAST(f2_est AS DOUBLE) - CAST(f2_exact AS DOUBLE))
        |    / CAST(f2_exact AS DOUBLE), 4) + 0.0 AS rel_err,
        |  n_mismatch
        |FROM md, f2, mm""".stripMargin,

    "sketch_hist_quantiles" ->
      """WITH b AS (SELECT MIN(value) AS v0, MAX(value) AS v1
        |           FROM events),
        |vc AS (SELECT value, v0, v1, COUNT(*) AS c
        |       FROM events, b GROUP BY 1, 2, 3),
        |hist AS (
        |  SELECT bin, v0, v1, CAST(SUM(c) AS BIGINT) AS hc FROM (
        |    SELECT CASE WHEN v1 = v0 THEN 0 ELSE LEAST(999,
        |      CAST(FLOOR(((value - v0) * 1000.0) / (v1 - v0))
        |        AS BIGINT)) END AS bin, c, v0, v1
        |    FROM vc)
        |  GROUP BY 1, 2, 3),
        |h2 AS (SELECT *,
        |    CAST(SUM(hc) OVER (ORDER BY bin) AS BIGINT) AS hcum,
        |    CAST(SUM(hc) OVER () AS BIGINT) AS n
        |  FROM hist),
        |qv AS (SELECT CAST(x AS BIGINT) AS qn
        |       FROM unnest([50, 95, 99]) t(x)),
        |estb AS (
        |  SELECT qn, n, v0, v1, CAST(MIN(bin) AS BIGINT) AS qbin
        |  FROM h2, qv WHERE hcum >= (n * qn + 99) // 100
        |  GROUP BY 1, 2, 3, 4),
        |c2 AS (SELECT value,
        |    CAST(SUM(c) OVER (ORDER BY value) AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER () AS BIGINT) AS nn
        |  FROM vc),
        |exact AS (
        |  SELECT qn, MIN(value) AS exact_q
        |  FROM c2, qv WHERE cum >= (nn * qn + 99) // 100 GROUP BY 1)
        |SELECT eb.qn AS q_pct, eb.n, eb.qbin,
        |  ROUND(eb.v0 + (eb.qbin * (eb.v1 - eb.v0)) / 1000.0, 6) AS lo,
        |  ROUND(eb.v0 + ((eb.qbin + 1) * (eb.v1 - eb.v0)) / 1000.0, 6)
        |    AS hi,
        |  ROUND((eb.v0 + (eb.qbin * (eb.v1 - eb.v0)) / 1000.0
        |    + eb.v0 + ((eb.qbin + 1) * (eb.v1 - eb.v0)) / 1000.0)
        |    / 2.0, 6) AS est,
        |  e.exact_q,
        |  (CASE WHEN eb.v1 = eb.v0 THEN 0 ELSE LEAST(999,
        |    CAST(FLOOR(((e.exact_q - eb.v0) * 1000.0) / (eb.v1 - eb.v0))
        |      AS BIGINT)) END) = eb.qbin AS within
        |FROM estb eb JOIN exact e ON e.qn = eb.qn
        |ORDER BY q_pct""".stripMargin,
    "sketch_hll_merge" ->
      """SELECT CAST(4 AS BIGINT) AS n_shards,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  CAST(abs(approx_count_distinct(user_id)
        |           - COUNT(DISTINCT user_id))
        |       <= COUNT(DISTINCT user_id) * 0.05 AS BIGINT) AS within_5pct,
        |  CAST(1 AS BIGINT) AS merge_lossless
        |FROM events""".stripMargin,

    "sketch_cms" -> {
      val rows = (0 until D).map(r =>
        s"SELECT $r AS h_row, ${bucketSql(r)} AS bucket FROM w")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH w AS ($wordsSql),
         |cells AS (
         |  $rows)
         |SELECT h_row, bucket, COUNT(*) AS cnt
         |FROM cells GROUP BY h_row, bucket
         |ORDER BY h_row, bucket""".stripMargin
    },

    "sketch_cms_est" -> {
      val probeRows = (0 until D).map(r =>
        s"SELECT word, exact_cnt, $r AS h_row, ${bucketSql(r)} AS bucket FROM exact")
        .mkString("\n  UNION ALL\n  ")
      val cellRows = (0 until D).map(r =>
        s"SELECT $r AS h_row, ${bucketSql(r)} AS bucket FROM w")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH w AS ($wordsSql),
         |cells AS (
         |  $cellRows),
         |cms AS (SELECT h_row, bucket, COUNT(*) AS cnt
         |        FROM cells GROUP BY h_row, bucket),
         |exact AS (SELECT word, COUNT(*) AS exact_cnt FROM w
         |          GROUP BY word ORDER BY exact_cnt DESC, word LIMIT 20),
         |probes AS (
         |  $probeRows)
         |SELECT p.word, p.exact_cnt, MIN(c.cnt) AS est_cnt
         |FROM probes p JOIN cms c USING (h_row, bucket)
         |GROUP BY p.word, p.exact_cnt
         |ORDER BY exact_cnt DESC, word""".stripMargin
    },

    "sketch_cms_merge" -> {
      val rows = (0 until D).map(r =>
        s"SELECT shard, $r AS h_row, ${bucketSql(r)} AS bucket FROM w")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH w AS (
         |  SELECT CAST(doc_id % 2 AS INTEGER) AS shard, word
         |  FROM (${TextWordCount.docWordsSql})),
         |cells AS (
         |  $rows),
         |shard_cms AS (SELECT shard, h_row, bucket, COUNT(*) AS cnt
         |              FROM cells GROUP BY shard, h_row, bucket)
         |SELECT h_row, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt,
         |  COUNT(*) AS n_shards
         |FROM shard_cms GROUP BY h_row, bucket
         |ORDER BY h_row, bucket""".stripMargin
    },

    "sketch_bloom_merge" -> {
      val rows = (0 until D).map(r =>
        s"SELECT shard, ${bitPosSql(r)} AS p FROM w")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH w AS (
         |  SELECT CAST(doc_id % 2 AS INTEGER) AS shard, word
         |  FROM (${TextWordCount.docWordsSql})),
         |bits AS (
         |  $rows),
         |shard_bloom AS (
         |  SELECT shard, ${wordJSql()} AS word_j,
         |    CAST(bit_or(${maskSql()}) AS BIGINT) AS bits
         |  FROM bits GROUP BY 1, 2)
         |SELECT word_j, CAST(bit_or(bits) AS BIGINT) AS bits,
         |  COUNT(*) AS n_shards
         |FROM shard_bloom GROUP BY word_j
         |ORDER BY word_j""".stripMargin
    },

    "sketch_bloom" -> {
      val rows = (0 until D).map(r =>
        s"SELECT ${bitPosSql(r)} AS p FROM w").mkString("\n  UNION ALL\n  ")
      s"""WITH w AS ($wordsSql),
         |bits AS (
         |  $rows)
         |SELECT ${wordJSql()} AS word_j,
         |  CAST(bit_or(${maskSql()}) AS BIGINT) AS bits
         |FROM bits GROUP BY 1 ORDER BY word_j""".stripMargin
    },

    "sketch_bloom_probe" -> {
      val checkRows = (0 until D).map(r =>
        s"SELECT word, ${bitPosSql(r)} AS p FROM probe_words")
        .mkString("\n  UNION ALL\n  ")
      val bitRows = (0 until D).map(r =>
        s"SELECT ${bitPosSql(r)} AS p FROM w").mkString("\n  UNION ALL\n  ")
      s"""WITH w AS ($wordsSql),
         |bits AS (
         |  $bitRows),
         |filt AS (SELECT ${wordJSql()} AS word_j,
         |           CAST(bit_or(${maskSql()}) AS BIGINT) AS bits
         |         FROM bits GROUP BY 1),
         |probe_words AS (
         |  SELECT DISTINCT regexp_replace(tok, '[^a-z0-9]+', '', 'g') AS word
         |  FROM (SELECT unnest(list_filter(
         |          regexp_split_to_array(lower(p_name), '\\s+'), x -> x <> '')) AS tok
         |        FROM part)),
         |checks AS (
         |  $checkRows),
         |maybe AS (
         |  SELECT word, MIN(COALESCE(CAST((f.bits >> (c.p % 63)) & 1 AS INTEGER),
         |                            0)) AS maybe
         |  FROM checks c LEFT JOIN filt f ON f.word_j = ${wordJSql("c.p")}
         |  GROUP BY word),
         |present AS (SELECT DISTINCT word, 1 AS present FROM w
         |            WHERE word IN (SELECT word FROM probe_words))
         |SELECT COUNT(*) AS n_probed,
         |  CAST(SUM(maybe) AS BIGINT) AS n_maybe,
         |  CAST(SUM(COALESCE(present, 0)) AS BIGINT) AS n_present,
         |  CAST(SUM(CASE WHEN maybe = 1 AND COALESCE(present, 0) = 0
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
         |FROM maybe LEFT JOIN present USING (word)""".stripMargin
    })
}
