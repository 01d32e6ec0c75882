package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface for the DOCUMENT ingest path (SURVEY.md
  * §2.5 dedup family) — the streaming twin of `dedup_incremental`: a
  * training-data pipeline does not receive its corpus as one batch, it
  * ingests an unbounded stream of crawled documents and must admit each
  * NEW content fingerprint exactly once, rejecting both what the durable
  * corpus already holds and what earlier micro-batches already admitted.
  *
  * Same discipline as EventStream: the transform is written against a
  * plain DataFrame so one code path serves batch (`spark.read`) and
  * streaming (`spark.readStream`), with batch-stream parity asserted in
  * StreamingSpec.
  */
object DocStream {

  case class Admit(fp: String, doc_id: Long)

  /** Windowed token accounting over a document stream encoded with the
    * PERSISTED BPE tokenizer ([[graft.engine.BpeStore]]): a production
    * ingest path tokenizes arriving documents with the artifact another
    * cluster fit yesterday, never an in-session re-fit. The stored rank table
    * loads ONCE driver-side (bounded: ≤ n_merges rows, validated
    * against the manifest) and rides the task closure; the encode is
    * a stateless per-doc map (zero stream-side shuffle), and the only
    * stateful operator is the per-(window, source) sum — counters,
    * constant state per key. Emits (w_start, source, n_words, n_cps,
    * n_tokens, compression), the per-window twin of
    * `BpeStore.encodeStoredCounts`. Batch mode: identical plan minus
    * the watermark (parity in StreamingSpec). */
  def bpeTokenCounts(docs: DataFrame, storeDir: String,
      wmDelay: String = "1 hour"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks = graft.engine.BpeStore.loadRanks(spark, storeDir)
    val base = docs
      .select($"ingest_ts", $"source",
        expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")
          .as("toks"))
      .as[(java.sql.Timestamp, String, Seq[String])]
      .mapPartitions { it =>
        it.map { case (ts, src, toks) =>
          val (words, cps, tokens) =
            graft.engine.BpeTokenizer.countsFor(toks, ranks)
          (ts, src, words, cps, tokens)
        }
      }
      .toDF("ingest_ts", "source", "n_words", "n_cps", "n_tokens")
    val src =
      if (docs.isStreaming) base.withWatermark("ingest_ts", wmDelay)
      else base
    src.groupBy(window($"ingest_ts", "1 hour").as("w"), $"source")
      .agg(sum($"n_words").as("n_words"), sum($"n_cps").as("n_cps"),
        sum($"n_tokens").as("n_tokens"))
      .select($"w.start".as("w_start"), $"source", $"n_words", $"n_cps",
        $"n_tokens",
        round($"n_cps".cast("double") / $"n_tokens", 4).as("compression"))
  }

  /** Windowed curation-rate monitor: the live accept/reject dashboard a
    * streaming ingest pipeline watches — per event-time hour, how many
    * arriving docs each quality verdict claimed. The verdict chain is
    * the SAME too_short / low_entropy / low_stopword rule set as the
    * declared batch `doc_filter_reasons`, but restated as a STATELESS
    * per-row fold (token counts, entropy, and stopword ratio computed
    * inside the row via higher-order functions — no explode, no per-doc
    * shuffle), so the only stateful operator in the streaming plan is
    * the windowed count itself. One code path serves batch and
    * streaming (batch == the doc_filter_reasons verdict rollup,
    * streaming == batch: both parity-tested). */
  def curationRates(docs: DataFrame, wmDelay: String = "1 hour"): DataFrame = {
    import docs.sparkSession.implicits._
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
      .map(w => s"'$w'").mkString(", ")
    val scored = docs
      .withColumn("toks",
        expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
      .withColumn("n", size($"toks").cast("long"))
      // sum over token types of cnt·log2(cnt), computed LINEARLY: one
      // sort + one fold counting runs of equal tokens. (The obvious
      // form — aggregate over array_distinct with size(filter(...)) per
      // type — rescans the token array per distinct token: O(types ×
      // n_tokens) inside a single row's projection, a micro-batch stall
      // on a large high-diversity doc; review finding r8.)
      .withColumn("entropy", expr(
        "round(log2(cast(n as double)) - aggregate(array_sort(toks)," +
          " struct(cast(null as string) as prev, 0D as run, 0D as acc)," +
          " (st, t) -> if(st.prev is null or t = st.prev," +
          "   struct(t as prev, st.run + 1D as run, st.acc as acc)," +
          "   struct(t as prev, 1D as run," +
          "     st.acc + st.run * log2(st.run) as acc))," +
          " st -> st.acc + if(st.run > 0D, st.run * log2(st.run), 0D))" +
          " / n, 4)"))
      .withColumn("stop_ratio", expr(
        s"round(cast(size(filter(toks, x -> x in ($stop))) as double)" +
          " / n, 4)"))
      .withColumn("verdict",
        when($"n" < 10, "too_short")
          .when($"entropy" < 3.0, "low_entropy")
          .when($"stop_ratio" < 0.05, "low_stopword")
          .otherwise("kept"))
    val src = if (docs.isStreaming) scored.withWatermark("ingest_ts", wmDelay)
      else scored
    src.groupBy(window($"ingest_ts", "1 hour"), $"verdict")
      .agg(count(lit(1)).as("n_docs"))
      .select($"window.start".as("w_start"), $"verdict", $"n_docs")
  }

  /** Exactly-once corpus admission.
    *
    *  - fingerprint = md5(text) (the dedup_exact/dedup_incremental key);
    *  - the existing-corpus rejection is a stream-static LEFT ANTI join
    *    against `corpusFps(fp)` — the static side is the durable corpus
    *    fingerprint artifact, re-read per micro-batch, so a corpus
    *    refresh is picked up without restarting the query;
    *  - cross-batch dedup is keyed state (flatMapGroupsWithState): the
    *    FIRST micro-batch containing a fingerprint emits one admission
    *    (the min doc_id inside that batch, matching the batch twin's
    *    deterministic min-id rule); later arrivals are dropped.
    *
    * State is one row per admitted fingerprint and the admitted
    * POPULATION is unbounded over an infinite crawl, so streaming mode
    * requires an `ingest_ts` column (crawl records carry fetch times)
    * and carries an EVENT-TIME TTL, exactly like
    * EventStream.runningUserCounts: a fingerprint idle past `idleUs` of
    * event time is evicted once the watermark passes its horizon, so
    * the state store is bounded by the active-horizon fingerprint set;
    * a duplicate arriving after eviction would be re-admitted (the
    * usual TTL trade — the periodic BATCH dedup pass collapses anything
    * beyond the horizon). Event-time timeout is deliberate:
    * ProcessingTimeTimeout + the default continuous trigger makes the
    * engine run no-data batches forever (observed: epoch 612 and
    * climbing on a drained source), while the event-time clock only
    * advances with data.
    *
    * Batch mode needs no timestamp column and degrades to exactly the
    * dedup_incremental shape: anti join + min-doc_id per fingerprint. */
  def admittedDocs(docs: DataFrame, corpusFps: DataFrame,
      idleUs: Long = 7L * 86400000000L,
      wmDelay: String = "1 hour"): Dataset[Admit] = {
    import docs.sparkSession.implicits._
    def anti(d: DataFrame) = d.join(corpusFps.select($"fp"), Seq("fp"), "left_anti")
    if (!docs.isStreaming)
      anti(docs.select(md5($"text".cast("binary")).as("fp"),
          $"doc_id".cast("long")))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapGroups((fp, rows) => Admit(fp, rows.map(_._2).min))
    else
      anti(docs.withWatermark("ingest_ts", wmDelay)
          .select(md5($"text".cast("binary")).as("fp"),
            $"doc_id".cast("long"), unix_micros($"ingest_ts").as("us"),
            $"ingest_ts"))
        .as[(String, Long, Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append(),
            GroupStateTimeout.EventTimeTimeout) {
          (fp: String, batch: Iterator[(String, Long, Long, java.sql.Timestamp)],
           state: GroupState[Long]) =>
            if (state.hasTimedOut) { state.remove(); Iterator.empty }
            else {
              val rows = batch.toSeq
              val already = state.exists
              val seen = math.max(state.getOption.getOrElse(Long.MinValue),
                rows.iterator.map(_._3).max)
              state.update(seen)
              // keep the horizon alive on every arrival, admitted or not
              state.setTimeoutTimestamp(math.max((seen + idleUs) / 1000L,
                state.getCurrentWatermarkMs() + 1L))
              if (already) Iterator.empty
              else Iterator.single(Admit(fp, rows.iterator.map(_._2).min))
            }
        }
  }

  case class MgCounter(shard: Int, ver: Long, word: String, est: Long)

  /** Streaming Misra-Gries frequent words — the ONLINE twin of the
    * declared `sketch_mg_heavy`: the same k-counter
    * increment/insert/decrement-all loop, run as per-shard GroupState
    * over an unbounded doc stream. Words shard by md5 (a word lives
    * in exactly ONE shard), so the state store is k counters × a
    * FIXED shard alphabet — bounded by construction, no TTL needed —
    * and the per-word guarantee is the per-shard one:
    * true − n_shard/(k+1) ≤ est ≤ true for every word, whatever the
    * arrival order or micro-batch interleaving (the bound, not the
    * counter values, is the contract — StreamingSpec asserts it for
    * batch mode AND across a two-batch stream). Each update re-emits
    * the shard's counters tagged with a version; the max version per
    * shard is the live sketch. */
  def mgHeavy(docs: DataFrame, k: Int = 64, shards: Int = 8)
      : Dataset[MgCounter] = {
    import docs.sparkSession.implicits._
    docs.select(explode(expr(
        "filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("word"))
      .select($"word", expr(
        s"cast(conv(substring(md5(cast(word as binary)), 1, 2)," +
          s" 16, 10) as int) % $shards").as("shard"))
      .as[(String, Int)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Update(),
          GroupStateTimeout.NoTimeout) {
        (shard: Int, batch: Iterator[(String, Int)],
         state: GroupState[(Long, Map[String, Long])]) =>
          val (ver, m0) = state.getOption.getOrElse(
            (0L, Map.empty[String, Long]))
          val m = scala.collection.mutable.HashMap[String, Long]() ++ m0
          batch.foreach { case (w, _) =>
            if (m.contains(w)) m(w) += 1L
            else if (m.size < k) m(w) = 1L
            else {
              val keys = m.keys.toArray
              var i = 0
              while (i < keys.length) {
                val nv = m(keys(i)) - 1L
                if (nv == 0L) m.remove(keys(i))
                else m.update(keys(i), nv)
                i += 1
              }
            }
          }
          state.update((ver + 1, m.toMap))
          m.iterator.map { case (w, c) => MgCounter(shard, ver + 1, w, c) }
      }
  }

  /** Per-doc CDC chunk geometry computed IN-ROW (no explode, no
    * state): n_chunks = cuts strictly before the end + the closing
    * sentinel chunk — EXACTLY the batch chunker's bounds∪{len} count
    * (cut positions are distinct and ≥ 8; a cut AT len merges with
    * the sentinel there, which is why the filter takes i < len).
    * The `len >= 8` CASE guards Spark's descending-sequence trap
    * (sequence(8, len < 8) yields [8..len] DOWNWARD, never empty). */
  private def withChunkGeom(docs: DataFrame): DataFrame = {
    import graft.queries.PipelineOps.cdcCutSql
    docs
      .withColumn("len", length(col("text")).cast("long"))
      .filter(col("len") > 0)
      .withColumn("n_chunks", expr(
        "case when len >= 8 then size(filter(sequence(8, len)," +
          s" i -> (${cdcCutSql("i")}) and i < len)) else 0 end")
        .cast("long") + 1L)
  }

  /** Batch-trained CDC chunk-geometry baseline: per source, the
    * corpus expected chunk length as an e4 integer (bytes·10⁴ div
    * chunks) under the SAME cut rule the monitor applies — train on
    * the documents table, broadcast into the stream. */
  def cdcModel(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    withChunkGeom(docs)
      .groupBy($"source")
      .agg(sum($"len").as("bytes"), sum($"n_chunks").as("chunks"))
      .select($"source", expr(
        "cast(cast(bytes as decimal(38,0)) * 10000 div chunks" +
          " as bigint)").as("exp_len_e4"))
  }

  /** Online chunk-geometry drift monitor — catches a content-shape
    * change (markup floods, encoding corruption, template rollouts)
    * the moment it moves the average CDC chunk length: per (hour
    * window, source), live avg chunk length vs the trained baseline,
    * verdict `drift` when the live e4 length leaves the ±25% band
    * (|live − exp|·4 > exp, one integer comparison — no float enters
    * the verdict), null when the source is unmodeled (LEFT-join
    * baseline, the house monitor rule). COMPLETELY STATELESS per row:
    * the cut count folds in-row, the baseline joins BEFORE the
    * windowed agg (stream-static broadcast), and the only state is
    * the windowed sum triple. */
  def cdcMonitor(docs: DataFrame, model: DataFrame,
      wmDelay: String = "1 hour"): DataFrame = {
    import docs.sparkSession.implicits._
    val g = withChunkGeom(docs)
      .join(broadcast(model), Seq("source"), "left_outer")
    val src = if (docs.isStreaming) g.withWatermark("ingest_ts", wmDelay)
      else g
    src.groupBy(window($"ingest_ts", "1 hour"), $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"len").as("bytes"),
        sum($"n_chunks").as("n_chunks"),
        max($"exp_len_e4").as("exp_len_e4"))
      .withColumn("live_len_e4", expr(
        "cast(cast(bytes as decimal(38,0)) * 10000 div n_chunks" +
          " as bigint)"))
      .select($"window.start".as("w_start"), $"source", $"n_docs",
        $"bytes", $"n_chunks",
        ($"live_len_e4".cast("double") / 1e4).as("live_chunk_len"),
        ($"exp_len_e4".cast("double") / 1e4).as("exp_chunk_len"),
        when($"exp_len_e4".isNull, lit(null).cast("string"))
          .when(abs($"live_len_e4" - $"exp_len_e4") * 4 > $"exp_len_e4",
            "drift")
          .otherwise("ok").as("verdict"))
  }

}
