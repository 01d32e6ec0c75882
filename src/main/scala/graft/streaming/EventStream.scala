package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.4 "streaming" row; the
  * reference is batch-only, so this is the §2.5 scale extension for the
  * `events` stream): watermarked tumbling-window aggregation and
  * GroupState-based per-key running state.
  *
  * The transforms are defined against plain DataFrames so the SAME code
  * path serves batch and streaming (`spark.read` vs `spark.readStream`) —
  * batch-stream parity is asserted in StreamingSpec.
  */
object EventStream {

  /** Reference bin model for [[psiDrift]]: per event_type, the
    * history's 10-bin value counts r0..r9 with total n_ref, plus the
    * GLOBAL value bounds every bin assignment derives from. Bounded by
    * the type alphabet (one flat row per type), so it broadcasts into
    * the live stream — the train-in-batch half of the PSI monitor.
    * The bin rule is the ONE definition shared with the declared
    * log_psi_drift ([[graft.queries.EventsLog.valueBin]]). */
  def psiModel(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val bounds = events
      .agg(min($"value").as("v0"), max($"value").as("v1"))
    val binSums = (1 to 9).map(b =>
      sum(when($"bin" === b.toLong, 1L).otherwise(0L)).as(s"r$b")) ++
      Seq(count(lit(1)).as("n_ref"), min($"v0").as("v0"),
        min($"v1").as("v1"))
    events.select($"event_type", $"value").crossJoin(broadcast(bounds))
      .select($"event_type",
        graft.queries.EventsLog.valueBin.as("bin"), $"v0", $"v1")
      .groupBy($"event_type")
      .agg(sum(when($"bin" === 0L, 1L).otherwise(0L)).as("r0"),
        binSums: _*)
  }

  /** Online PSI drift monitor — the serve-in-stream half of the
    * declared log_psi_drift: per (hour window, event_type), the
    * Laplace-smoothed PSI of the window's value distribution against
    * the broadcast reference model. The stream-static join runs
    * BEFORE the windowed agg (Structured Streaming forbids joins after
    * a streaming aggregation); the
    * agg carries ten conditional bin sums, so per-key state is a
    * fixed 10-counter row — never a value list; the ln() fold is a
    * post-agg projection built from the SAME e10-quantized term as
    * the batch query ([[graft.queries.EventsLog.psiTermE10]]). The
    * page-out verdict is the batch 0.1 line PLUS a 2(k−1)/n
    * small-sample noise floor: a no-drift window of n samples has
    * E[PSI] ≈ (k−1)/n, so an hourly window of tens of events would
    * page constantly on the raw batch threshold — the floor demands
    * proportionally more evidence from smaller windows and converges
    * to the batch rule as n grows. Evaluated as the exact integer
    * cross-product psi_e10·n > 10⁹·n + 18·10¹⁰. */
  def psiDrift(events: DataFrame, model: DataFrame,
      wmDelay: String = "1 hour"): DataFrame = {
    import events.sparkSession.implicits._
    val keyed = events.select($"ts", $"event_type", $"value")
      // LEFT OUTER (ADVICE r8): an event type absent from the trained
      // model still surfaces as a monitor row — psi/drifted are null
      // ("unmodeled"), never a silent drop. The bin column is null for
      // such rows (valueBin needs v0/v1), which the conditional sums
      // simply never match — n still counts the arrivals.
      .join(broadcast(model), Seq("event_type"), "left_outer")
      .withColumn("bin", graft.queries.EventsLog.valueBin)
    val src = if (events.isStreaming) keyed.withWatermark("ts", wmDelay)
      else keyed
    val aggs = (1 to 9).map(b =>
      sum(when($"bin" === b.toLong, 1L).otherwise(0L)).as(s"c$b")) ++
      (0 to 9).map(b => min(col(s"r$b")).as(s"r$b")) ++
      Seq(min($"n_ref").as("n_ref"), count(lit(1)).as("n"))
    val psiE10 = (0 to 9).map { b =>
      graft.queries.EventsLog.psiTermE10(
        s"(cast(c$b + 1 as double) / (n + 10))",
        s"(cast(r$b + 1 as double) / (n_ref + 10))")
    }.mkString("(", " + ", ")")
    src.groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(sum(when($"bin" === 0L, 1L).otherwise(0L)).as("c0"), aggs: _*)
      .select(unix_micros($"window.start").as("hour_us"),
        $"event_type", $"n", expr(psiE10).as("psi_e10"), $"n_ref")
      .select($"hour_us", $"event_type", $"n",
        round($"psi_e10".cast("double") / 1e10, 4).as("psi"),
        // DECIMAL(38,0): psi_e10·n overflows int64 at cluster-scale n;
        // null psi_e10 (unmodeled type) propagates to a null verdict
        expr("""cast(psi_e10 as decimal(38,0))
          |  * cast(n as decimal(38,0))
          |  > cast(1000000000 as decimal(38,0))
          |    * cast(n as decimal(38,0))
          |    + cast(180000000000 as decimal(38,0))""".stripMargin)
          .as("drifted"))
  }

  /** Watermarked tumbling-window counts per event_type. In streaming
    * mode the 1-hour watermark bounds state; in batch mode the watermark
    * is a no-op and results equal the `log_hourly` batch query. */
  def hourlyCounts(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:00").as("hour"),
        $"event_type", $"n")
  }

  /** Watermarked SLIDING-window counts (2h windows every 1h): each event
    * lands in two overlapping windows — the streaming twin of the
    * declared `log_sliding` batch query. Distinct-user counting is
    * deliberately absent here: exact distinct is unsupported in
    * streaming aggregation (unbounded per-window state); the scale path
    * is `approx_count_distinct`, which is mergeable and bounded. */
  def slidingCounts(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros($"w.start").as("w_start"), $"n")
  }

  /** Watermarked tumbling-window APPROXIMATE distinct users — the scale
    * path slidingCounts' scaladoc points at: exact distinct needs
    * unbounded per-window state on a stream, while HLL state is
    * fixed-size and MERGEABLE, so partial sketches combine across
    * micro-batches and shuffle partitions. Batch parity is EXACT, not
    * approximate-vs-approximate: the HLL merge is order-insensitive and
    * lossless (shard-union == global estimate, proven in SketchesSpec),
    * so streaming and batch produce identical estimates over the same
    * data regardless of how micro-batches split it. */
  def hourlyUserEstimates(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(approx_count_distinct($"user_id", 0.01).as("approx_users"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:00").as("hour"),
        $"approx_users")
  }

  /** Stream-static enrichment join: each event picks up its user's
    * first-seen timestamp from a STATIC dimension frame. The static side
    * is broadcast-hinted — on a cluster every executor joins map-side
    * with zero shuffle of the unbounded stream, the canonical shape for
    * dimension enrichment at scale. Works identically in batch. */
  def enriched(events: DataFrame, firstSeen: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events.join(broadcast(firstSeen), Seq("user_id"), "left_outer")
      .select($"event_id", $"user_id", $"event_type",
        unix_micros($"first_seen").as("first_seen_us"))
  }

  case class UserCount(user_id: Long, n: Long)

  case class AnomStats(user_id: Long, n_events: Long, mu: Double, sd: Double)

  /** Online per-user anomaly-model stats — the streaming twin of the
    * batch `log_anomaly` stats stage: each update emits the user's
    * current (n, mean, sample-sd) so a scoring join can flag live events
    * against the freshest model without re-scanning history.
    *
    * Exactness discipline: state holds the DECIMAL power sums (n, Σx,
    * Σx²) with each term rounded to scale 10 HALF_UP exactly as Spark's
    * double→decimal(28,10) cast does in the batch query — decimal sums
    * are associative, so after any interleaving/restart the final
    * streaming stats are BIT-IDENTICAL to batch (asserted in
    * StreamingSpec), not approximately equal. mu/sd reproduce the batch
    * operand order: mu = Σx/n, sd = sqrt((Σx² − Σx·(Σx/n))/(n−1)).
    * Same event-time TTL as runningUserCounts bounds state to the
    * active user set. */
  def anomalyStats(events: DataFrame,
      idleUs: Long = 86400000000L, wmDelay: String = "1 hour"): Dataset[AnomStats] = {
    import events.sparkSession.implicits._
    val isBatch = !events.isStreaming
    val in = if (isBatch) events else events.withWatermark("ts", wmDelay)
    def d10(x: Double): BigDecimal =
      BigDecimal(java.math.BigDecimal.valueOf(x)
        .setScale(10, java.math.RoundingMode.HALF_UP))
    in.select($"user_id".cast("long"), $"value".cast("double"),
        unix_micros($"ts").as("us"), $"ts")
      .as[(Long, Double, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(),
          if (isBatch) GroupStateTimeout.NoTimeout
          else GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[(Long, Double, Long, java.sql.Timestamp)],
         state: GroupState[(Long, BigDecimal, BigDecimal, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (n, s1, s2, seen) = state.getOption
              .getOrElse((0L, BigDecimal(0), BigDecimal(0), Long.MinValue))
            batch.foreach { e =>
              n += 1; s1 += d10(e._2); s2 += d10(e._2 * e._2)
              if (e._3 > seen) seen = e._3
            }
            state.update((n, s1, s2, seen))
            if (!isBatch)
              state.setTimeoutTimestamp(math.max((seen + idleUs) / 1000L,
                state.getCurrentWatermarkMs() + 1L))
            val s1d = s1.toDouble
            val sd = if (n == 1) 0.0
              else math.sqrt((s2.toDouble - s1d * (s1d / n)) / (n - 1))
            Iterator.single(AnomStats(user, n, s1d / n, sd))
          }
      }
  }

  /** Stateful per-user running event counts via flatMapGroupsWithState —
    * the Spark-native form of the reference's per-key reduce state
    * (M5 whole-partition reduce generalized to unbounded streams).
    *
    * State is O(1) per user but the user POPULATION is unbounded over an
    * infinite stream, so in streaming mode state carries an event-time
    * TTL: a user idle (no events) for `idleUs` of event time is evicted
    * once the watermark passes their horizon — the state store is then
    * bounded by the ACTIVE user set, not the all-time population. A user
    * returning after eviction restarts at 0 (the usual TTL trade; size
    * `idleUs` to the longest absence worth bridging). Batch mode sees
    * each group whole and keeps the exact NoTimeout shape. */
  def runningUserCounts(events: DataFrame,
      idleUs: Long = 86400000000L, wmDelay: String = "1 hour"): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    val isBatch = !events.isStreaming
    val in = if (isBatch) events else events.withWatermark("ts", wmDelay)
    // `ts` rides along: the event-time-timeout checker requires the
    // watermarked column to reach the state operator
    in.select($"user_id".cast("long"), unix_micros($"ts").as("us"), $"ts")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(),
          if (isBatch) GroupStateTimeout.NoTimeout
          else GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            // idle past the TTL horizon: drop the state row, emit nothing
            state.remove()
            Iterator.empty
          } else {
            var (n, seen) = state.getOption.getOrElse((0L, Long.MinValue))
            batch.foreach { e => n += 1; if (e._2 > seen) seen = e._2 }
            state.update((n, seen))
            if (!isBatch)
              state.setTimeoutTimestamp(math.max((seen + idleUs) / 1000L,
                state.getCurrentWatermarkMs() + 1L))
            Iterator.single(UserCount(user, n))
          }
      }
  }

  /** Streaming exact dedup — the training-data-pipeline op (§2.5) on an
    * unbounded stream: state is bounded by the watermark window (an
    * event_id seen twice >1h apart is re-admitted; within the window it
    * is dropped). In batch mode this degrades to plain dropDuplicates. */
  def dedupedEvents(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    if (events.isStreaming)
      events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")
  }

  /** Session windows via the native `session_window` operator — the same
    * transform serves batch and streaming (watermark bounds streaming
    * state; sessions close after `gap` of event-time inactivity and the
    * window end is last-event + gap, exclusive). Mirrors the declared
    * batch query `q_session_window`. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame = {
    import events.sparkSession.implicits._
    val in = if (events.isStreaming) events.withWatermark("ts", gap) else events
    in.groupBy(session_window($"ts", gap), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        unix_micros($"session_window.start").as("s_start"),
        unix_micros($"session_window.end").as("s_end"),
        $"n_events")
  }

  case class TypePair(user_id: Long, s_start: Long,
      type_a: String, type_b: String)

  /** Streaming session co-occurrence — the unbounded-stream twin of the
    * declared `log_cooccurrence` batch query. Per-user state is the open
    * session's (start, last, distinct-type list); the list is bounded by
    * the event-type ALPHABET, not the event volume, so state stays a few
    * dozen bytes per user at any stream length. A session emits its
    * unordered type pairs the moment it closes — gap exceeded in-stream,
    * or event-time timeout once the watermark passes the session end
    * (the timeout is armed at the session end, never at or before the
    * current watermark) — so downstream pair counting is an ordinary
    * incremental streaming aggregation. Batch mode sees each user's
    * history whole and reproduces the declared query's pair multiset
    * exactly (asserted in StreamingSpec). Streaming caveat: an event
    * arriving in a LATER batch with a timestamp earlier than
    * already-folded state is mis-sessioned (the native `session_window`
    * operator handles such late merges). */
  def sessionTypePairs(events: DataFrame, gapUs: Long,
      wmDelay: String = "1 hour"): Dataset[TypePair] = {
    import events.sparkSession.implicits._
    val isBatch = !events.isStreaming
    val in = if (isBatch) events else events.withWatermark("ts", wmDelay)
    def pairs(user: Long, start: Long, tys: Seq[String]): Iterator[TypePair] = {
      val st = tys.sorted
      st.indices.iterator.flatMap(i =>
        (i + 1 until st.size).iterator.map(j =>
          TypePair(user, start, st(i), st(j))))
    }
    in.select($"user_id".cast("long"), unix_micros($"ts").as("us"),
        $"event_type", $"ts")
      .as[(Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
          if (isBatch) GroupStateTimeout.NoTimeout
          else GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[(Long, Long, String, java.sql.Timestamp)],
         state: GroupState[(Long, Long, Seq[String])]) =>
          if (state.hasTimedOut) {
            val (start, _, tys) = state.get
            state.remove()
            pairs(user, start, tys)
          } else {
            val evs = batch.map(e => (e._2, e._3)).toArray.sorted
            var (start, last, tys) =
              state.getOption.getOrElse((-1L, -1L, Seq.empty[String]))
            val out = Seq.newBuilder[TypePair]
            evs.foreach { case (ts, ty) =>
              if (start < 0) { start = ts; last = ts; tys = Seq(ty) }
              else if (ts - last > gapUs) {
                out ++= pairs(user, start, tys)
                start = ts; last = ts; tys = Seq(ty)
              } else {
                // cross-batch late data must never shrink the open
                // session's end / timeout horizon
                last = math.max(last, ts)
                if (!tys.contains(ty)) tys = tys :+ ty
              }
            }
            if (start >= 0) {
              state.update((start, last, tys))
              if (isBatch) out ++= pairs(user, start, tys)
              else {
                val endMs = (last + gapUs) / 1000
                state.setTimeoutTimestamp(
                  math.max(endMs, state.getCurrentWatermarkMs() + 1))
              }
            }
            out.result().iterator
          }
      }
  }

  case class FunnelHit(user_id: Long, stage: String, t_us: Long)

  /** Streaming ordered-funnel detection via flatMapGroupsWithState — the
    * unbounded-stream twin of the declared `log_funnel` batch query.
    * Per-user state is three timestamps (earliest view, earliest click
    * strictly after it, earliest purchase strictly after that); a row is
    * EMITTED the moment a user first advances a stage, so downstream
    * consumers see conversions as they happen instead of per-run totals.
    * State is three longs per user — but the user POPULATION is
    * unbounded over an infinite stream, so in streaming mode the state
    * carries an event-time TTL: a user with no funnel activity for
    * `idleUs` of event time is evicted once the watermark passes their
    * horizon, bounding the store by the active user set. A user
    * returning after eviction starts a fresh funnel (the TTL trade —
    * size `idleUs` to the longest conversion window worth tracking; a
    * completed funnel's state is likewise dropped on idle). Each
    * micro-batch folds its events in event-time order so within-batch
    * ordering is exact.
    *
    * Batch mode sees each user's full history in one sorted NoTimeout
    * pass, which reproduces log_funnel's min/join semantics exactly
    * (asserted in StreamingSpec). Streaming caveat, as for
    * sessionTypePairs: an event arriving in a later batch with a
    * timestamp before an already-latched stage cannot retro-correct
    * earlier decisions. */
  def funnelHits(events: DataFrame,
      idleUs: Long = 86400000000L, wmDelay: String = "1 hour"): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    val isBatch = !events.isStreaming
    val src = if (isBatch) events else events.withWatermark("ts", wmDelay)
    // `ts` rides along for the event-time-timeout checker
    src.filter($"event_type".isin("view", "click", "purchase"))
      .select($"user_id".cast("long"), $"event_type",
        unix_micros($"ts").as("us"), $"ts")
      .as[(Long, String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
          if (isBatch) GroupStateTimeout.NoTimeout
          else GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[(Long, String, Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            // idle past the TTL horizon: drop the funnel state row
            state.remove()
            Iterator.empty
          } else {
            var (tv, tc, tp, seen) =
              state.getOption.getOrElse((-1L, -1L, -1L, Long.MinValue))
            val out = Seq.newBuilder[FunnelHit]
            batch.toArray.sortBy(e => (e._3, e._2)).foreach { case (_, et, t, _) =>
              if (t > seen) seen = t
              et match {
                case "view" if tv < 0 =>
                  tv = t; out += FunnelHit(user, "view", t)
                case "click" if tv >= 0 && tc < 0 && t > tv =>
                  tc = t; out += FunnelHit(user, "click", t)
                case "purchase" if tc >= 0 && tp < 0 && t > tc =>
                  tp = t; out += FunnelHit(user, "purchase", t)
                case _ =>
              }
            }
            state.update((tv, tc, tp, seen))
            if (!isBatch)
              state.setTimeoutTimestamp(math.max((seen + idleUs) / 1000L,
                state.getCurrentWatermarkMs() + 1L))
            out.result().iterator
          }
      }
  }

  /** Stream-stream self interval join: same-user event pairs within
    * `seconds` of each other — the streaming form of the declared
    * `q_range_join`. Watermarks on both sides plus the time-bound join
    * condition let Spark expire join state (without them a stream-stream
    * join buffers forever). */
  def pairsWithin(events: DataFrame, seconds: Int): DataFrame = {
    import events.sparkSession.implicits._
    def side(p: String) = {
      val s = events.select($"user_id".as(s"${p}_user"), $"ts".as(s"${p}_ts"),
        $"event_id".as(s"${p}_id"))
      if (s.isStreaming) s.withWatermark(s"${p}_ts", "1 hour") else s
    }
    side("a").join(side("b"),
      col("a_user") === col("b_user") && col("a_id") < col("b_id") &&
        col("b_ts") >= col("a_ts") - expr(s"INTERVAL $seconds SECONDS") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $seconds SECONDS"))
  }

  /** Stream-stream LEFT OUTER interval join: every purchase, matched to
    * the same user's clicks in the `seconds` window before it — or
    * null-extended when no click arrives. The outer side is the part
    * inner joins can't express: an unmatched purchase is emitted (with
    * null click columns) only once the click-side watermark proves no
    * matching click can still arrive, which is exactly the point at
    * which Spark can also DROP the buffered purchase from state. Both
    * watermarks plus the time-bound condition keep state finite at any
    * scale; in batch mode the same plan is a plain left join (parity
    * asserted in StreamingSpec). Append-mode caveat: null-extended rows
    * for the newest purchases stay withheld until a later batch advances
    * the watermark — the flush is tested explicitly. */
  def purchasesWithClicks(events: DataFrame, seconds: Int): DataFrame = {
    import events.sparkSession.implicits._
    def side(tpe: String, p: String) = {
      val s = events.filter($"event_type" === tpe)
        .select($"user_id".as(s"${p}_user"), $"ts".as(s"${p}_ts"),
          $"event_id".as(s"${p}_id"))
      if (s.isStreaming) s.withWatermark(s"${p}_ts", "1 hour") else s
    }
    side("purchase", "p").join(side("click", "c"),
        $"p_user" === $"c_user" &&
          $"c_ts" >= $"p_ts" - expr(s"INTERVAL $seconds SECONDS") &&
          $"c_ts" <= $"p_ts",
        "left_outer")
      .select($"p_user".as("user_id"), $"p_id", $"p_ts", $"c_id", $"c_ts")
  }

  /** Stream-stream FULL OUTER interval join — completes the join-mode
    * matrix (inner `pairsWithin`, LEFT OUTER `purchasesWithClicks`): an
    * unmatched purchase null-extends its click columns AND an unmatched
    * click null-extends the purchase columns, each exactly when the
    * opposing watermark proves no match can still arrive — the same
    * instant the buffered row leaves state, so outer emission adds no
    * state beyond the inner join's. Both key columns are nullable in the
    * output, so the user id is surfaced as coalesce(p_user, c_user).
    * Batch mode plans a plain full join (parity asserted in
    * StreamingSpec). */
  def purchasesFullOuterClicks(events: DataFrame, seconds: Int): DataFrame = {
    import events.sparkSession.implicits._
    def side(tpe: String, p: String) = {
      val s = events.filter($"event_type" === tpe)
        .select($"user_id".as(s"${p}_user"), $"ts".as(s"${p}_ts"),
          $"event_id".as(s"${p}_id"))
      if (s.isStreaming) s.withWatermark(s"${p}_ts", "1 hour") else s
    }
    side("purchase", "p").join(side("click", "c"),
        $"p_user" === $"c_user" &&
          $"c_ts" >= $"p_ts" - expr(s"INTERVAL $seconds SECONDS") &&
          $"c_ts" <= $"p_ts",
        "full_outer")
      .select(coalesce($"p_user", $"c_user").as("user_id"),
        $"p_id", $"p_ts", $"c_id", $"c_ts")
  }

  /** Launch helper: run a streaming query over a parquet directory into
    * an in-memory table and block until all available data is processed. */
  def runToMemory(spark: SparkSession, srcDir: String,
      transform: DataFrame => DataFrame, queryName: String,
      mode: OutputMode = OutputMode.Append()): Unit = {
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = transform(stream).writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable() finally q.stop()
  }
}
