package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.Tables.t

class StreamingSpec extends SparkSpec {

  /** Events staged to a micros-timestamp parquet dir (the raw testdata is
    * TIMESTAMP(NANOS), which neither batch nor streaming Spark reads). */
  private lazy val stagedEvents: String = {
    val dir = Files.createTempDirectory("graft_stream").resolve("events").toString
    t(spark, sf(), "events").write.parquet(dir)
    dir
  }

  test("windowed counts: streaming result == batch result (parity)") {
    import spark.implicits._
    // Complete mode re-emits all windows (append would hold back windows
    // the watermark hasn't closed), so the final table equals batch.
    EventStream.runToMemory(spark, stagedEvents,
      EventStream.hourlyCounts, "hourly_stream", OutputMode.Complete())
    val streamed = spark.table("hourly_stream")
      .orderBy($"hour", $"event_type")
      .collect()

    val batch = EventStream.hourlyCounts(spark.read.parquet(stagedEvents))
      .orderBy($"hour", $"event_type")
      .collect()

    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("sliding windows: streaming result == batch == declared log_sliding") {
    import spark.implicits._
    EventStream.runToMemory(spark, stagedEvents,
      EventStream.slidingCounts, "sliding_stream", OutputMode.Complete())
    val streamed = spark.table("sliding_stream")
      .orderBy($"w_start").collect()
    val batch = EventStream.slidingCounts(spark.read.parquet(stagedEvents))
      .orderBy($"w_start").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
    // and the (w_start, n) columns agree with the declared batch query
    val declared = graft.SparkEntry.queries("log_sliding")(spark, sf())
      .select($"w_start", $"n").orderBy($"w_start").collect()
    assert(streamed.toSeq == declared.toSeq)
  }

  test("windowed approx distinct: streaming == batch exactly (HLL merge is lossless)") {
    import spark.implicits._
    EventStream.runToMemory(spark, stagedEvents,
      EventStream.hourlyUserEstimates, "hourly_users_stream",
      OutputMode.Complete())
    val streamed = spark.table("hourly_users_stream")
      .orderBy($"hour").collect()
    val batch = EventStream.hourlyUserEstimates(
        spark.read.parquet(stagedEvents))
      .orderBy($"hour").collect()
    assert(streamed.nonEmpty)
    // exact equality, not tolerance: the sketch merge is order-insensitive
    assert(streamed.toSeq == batch.toSeq)
    // and the estimate is a real distinct count: within 5% of exact
    val exact = spark.read.parquet(stagedEvents)
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:00")
        .as("hour"))
      .agg(countDistinct($"user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    streamed.foreach { r =>
      val (h, est) = (r.getString(0), r.getLong(1))
      val ex = exact(h)
      assert(math.abs(est - ex) <= math.max(1L, (ex * 0.05).toLong),
        s"window $h: estimate $est vs exact $ex")
    }
  }

  test("stream-static broadcast enrichment == batch join (parity)") {
    import spark.implicits._
    val dim = spark.read.parquet(stagedEvents)
      .groupBy($"user_id").agg(min($"ts").as("first_seen"))
    EventStream.runToMemory(spark, stagedEvents,
      df => EventStream.enriched(df, dim), "enrich_stream")
    val streamed = spark.table("enrich_stream").orderBy($"event_id").collect()
    val batch = EventStream.enriched(spark.read.parquet(stagedEvents), dim)
      .orderBy($"event_id").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
    // every event must resolve its user (the dim was built from the
    // same data) — a null first_seen means the join silently degraded
    assert(streamed.forall(!_.isNullAt(3)))
  }

  test("mapGroupsWithState running counts match batch groupBy") {
    import spark.implicits._
    EventStream.runToMemory(spark, stagedEvents,
      df => EventStream.runningUserCounts(df).toDF(),
      "user_counts_stream", OutputMode.Update())
    // final state per user = last update emitted
    val streamed = spark.table("user_counts_stream")
      .groupBy($"user_id").agg(max($"n").as("n"))
      .orderBy($"user_id").collect()

    val batch = spark.read.parquet(stagedEvents)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
      .orderBy($"user_id").collect()

    assert(streamed.nonEmpty)
    assert(streamed.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      batch.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("anomaly stats: streaming decimal power sums match batch bit-exact") {
    import spark.implicits._
    EventStream.runToMemory(spark, stagedEvents,
      df => EventStream.anomalyStats(df).toDF(),
      "anom_stream", OutputMode.Update())
    // n strictly increases per emission, so max(struct) is the final row
    val streamed = spark.table("anom_stream")
      .groupBy($"user_id")
      .agg(max(struct($"n_events", $"mu", $"sd")).as("f"))
      .select($"user_id", $"f.n_events", $"f.mu", $"f.sd")
      .orderBy($"user_id").collect()
    // the batch log_anomaly stats stage, verbatim
    val batch = spark.read.parquet(stagedEvents)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(28,10)")).cast("double").as("s1"),
        sum(($"value" * $"value").cast("decimal(28,10)")).cast("double")
          .as("s2"))
      .select($"user_id", $"n", ($"s1" / $"n").as("mu"),
        when($"n" === 1, 0.0)
          .otherwise(sqrt(($"s2" - $"s1" * ($"s1" / $"n")) / ($"n" - 1)))
          .as("sd"))
      .orderBy($"user_id").collect()
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0) && s.getLong(1) == b.getLong(1))
      // == on doubles: the parity claim is BIT-exact, not approximate
      assert(s.getDouble(2) == b.getDouble(2), s"mu, user ${s.getLong(0)}")
      assert(s.getDouble(3) == b.getDouble(3), s"sd, user ${s.getLong(0)}")
    }
  }

  test("streaming dedup drops in-window duplicates, batch parity on uniques") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dedup").resolve("dup").toString
    val src = t(spark, sf(), "events")
    // duplicate every event (same event_id, same ts) — stream must emit
    // each id exactly once
    src.union(src).write.parquet(dir)
    EventStream.runToMemory(spark, dir,
      EventStream.dedupedEvents, "dedup_stream")
    val streamed = spark.table("dedup_stream")
    assert(streamed.count() == src.count())
    assert(streamed.select("event_id").distinct().count() == src.count())
  }

  test("session_window: streaming result == batch result (parity)") {
    import spark.implicits._
    EventStream.runToMemory(spark, stagedEvents,
      df => EventStream.sessionCounts(df), "sessions_stream",
      OutputMode.Complete())
    val streamed = spark.table("sessions_stream")
      .orderBy($"user_id", $"s_start").collect()
    val batch = EventStream.sessionCounts(spark.read.parquet(stagedEvents))
      .orderBy($"user_id", $"s_start").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("session type pairs: batch rollup == log_cooccurrence; streaming flush") {
    import spark.implicits._
    // batch parity: rolling the emitted pairs up by type pair must equal
    // the declared lag-based query row-for-row
    val rolled = EventStream
      .sessionTypePairs(t(spark, sf(), "events"), 1800000000L)
      .groupBy($"type_a", $"type_b").agg(count(lit(1)).as("n_sessions"))
      .orderBy($"type_a", $"type_b").collect()
    val declared = graft.queries.EventsLog
      .queries("log_cooccurrence")(spark, sf()).collect()
    assert(rolled.nonEmpty)
    assert(rolled.toSeq == declared.toSeq)

    // streaming: pairs for a closed session appear only after the
    // watermark passes its end (event-time timeout), and carry the
    // session's distinct sorted types
    val dir = Files.createTempDirectory("graft_cooc_to").toString
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-06-01 10:05:00")
    val t2 = java.sql.Timestamp.valueOf("2024-06-01 10:10:00")
    val far = java.sql.Timestamp.valueOf("2024-06-01 20:00:00")
    Seq((1L, t0, "view"), (1L, t1, "click"), (1L, t2, "view"))
      .toDF("user_id", "ts", "event_type").write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b1").schema
    val q = EventStream.sessionTypePairs(
        spark.readStream.schema(schema).parquet(s"$dir/*"), 1800000000L).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("cooc_timeout").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cooc_timeout").isEmpty,
        "open session must not emit pairs yet")
      Seq((2L, far, "error")).toDF("user_id", "ts", "event_type")
        .write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val got = spark.table("cooc_timeout")
        .select($"user_id", $"type_a", $"type_b").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(got.toSeq == Seq((1L, "click", "view")),
        s"expected user 1's single click/view pair, got ${got.toSeq}")
    } finally q.stop()
  }

  test("funnel hits: batch pass reproduces log_funnel; streaming == batch") {
    import spark.implicits._
    val batch = EventStream.funnelHits(spark.read.parquet(stagedEvents))
    val byStage = batch.groupBy($"stage").agg(countDistinct($"user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val declared = graft.SparkEntry.queries("log_funnel")(spark, sf()).head()
    assert(byStage.getOrElse("view", 0L) == declared.getLong(0))
    assert(byStage.getOrElse("click", 0L) == declared.getLong(1))
    assert(byStage.getOrElse("purchase", 0L) == declared.getLong(2))

    EventStream.runToMemory(spark, stagedEvents,
      df => EventStream.funnelHits(df).toDF(), "funnel_stream")
    val streamed = spark.table("funnel_stream")
      .orderBy($"user_id", $"t_us", $"stage").collect()
    assert(streamed.toSeq ==
      batch.toDF().orderBy($"user_id", $"t_us", $"stage").collect().toSeq)
    // a user's stages latch in order: view <= click <= purchase times
    val perUser = batch.groupBy($"user_id").pivot("stage",
        Seq("view", "click", "purchase")).agg(first($"t_us")).collect()
    perUser.foreach { r =>
      if (!r.isNullAt(2)) assert(r.getLong(2) > r.getLong(1), "click after view")
      if (!r.isNullAt(3)) assert(r.getLong(3) > r.getLong(2), "purchase after click")
    }
  }

  test("stream-stream interval self-join == batch join (parity)") {
    import spark.implicits._
    EventStream.runToMemory(spark, stagedEvents,
      df => EventStream.pairsWithin(df, 60)
        .select($"a_user", $"a_id", $"b_id"),
      "pairs_stream", OutputMode.Append())
    val streamed = spark.table("pairs_stream")
      .orderBy($"a_user", $"a_id", $"b_id").collect()
    val batch = EventStream.pairsWithin(spark.read.parquet(stagedEvents), 60)
      .select($"a_user", $"a_id", $"b_id")
      .orderBy($"a_user", $"a_id", $"b_id").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("running counts: idle user state evicts once the TTL horizon passes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rc_evict").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, ts("2024-06-01 10:00:00")), (1L, ts("2024-06-01 10:05:00")))
      .toDF("user_id", "ts").write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b1").schema
    val q = EventStream.runningUserCounts(
        spark.readStream.schema(schema).parquet(s"$dir/*")).toDF()
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("rc_evict").start()
    try {
      q.processAllAvailable()
      def stateRows: Long =
        q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
          .lastOption.getOrElse(-1L)
      assert(stateRows == 1L, s"user 1 held as state, got $stateRows")
      // three days later: the watermark passes user 1's 24h idle horizon
      // — their state row must drop, leaving only the fresh user's
      Seq((2L, ts("2024-06-04 12:00:00")))
        .toDF("user_id", "ts").write.parquet(s"$dir/b2")
      q.processAllAvailable()
      assert(stateRows == 1L,
        s"user 1 evicted, only user 2 held; got $stateRows")
      // eviction emitted nothing: one update per (user, micro-batch)
      // — both user-1 events fold in one batch, so one (1,2) row
      val got = spark.table("rc_evict")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.toSeq == Seq((1L, 2L), (2L, 1L)),
        s"unexpected emissions: ${got.toSeq}")
    } finally q.stop()
  }

  test("funnel: idle user state evicts once the TTL horizon passes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fn_evict").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, ts("2024-06-01 10:00:00"), "view"),
        (1L, ts("2024-06-01 10:05:00"), "click"))
      .toDF("user_id", "ts", "event_type").write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b1").schema
    val q = EventStream.funnelHits(
        spark.readStream.schema(schema).parquet(s"$dir/*")).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("fn_evict").start()
    try {
      q.processAllAvailable()
      def stateRows: Long =
        q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
          .lastOption.getOrElse(-1L)
      assert(stateRows == 1L, s"user 1's funnel held as state, got $stateRows")
      assert(spark.table("fn_evict").count() == 2, "view+click hits emitted")
      // three days later: watermark passes user 1's idle horizon — the
      // half-complete funnel is dropped; only the fresh user's state stays
      Seq((2L, ts("2024-06-04 12:00:00"), "view"))
        .toDF("user_id", "ts", "event_type").write.parquet(s"$dir/b2")
      q.processAllAvailable()
      assert(stateRows == 1L,
        s"user 1 evicted, only user 2 held; got $stateRows")
      assert(spark.table("fn_evict").count() == 3, "eviction emitted rows")
    } finally q.stop()
  }

  test("stream-stream FULL OUTER join: both sides null-extend on flush") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fouter").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: matched click+purchase; user 2: purchase with no click;
    // user 3: click with no purchase — both 2 and 3 must null-extend
    val rows = Seq(
      (1L, ts("2024-06-01 10:00:00"), "click", 100L),
      (1L, ts("2024-06-01 10:00:30"), "purchase", 101L),
      (2L, ts("2024-06-01 10:01:00"), "purchase", 200L),
      (3L, ts("2024-06-01 10:02:00"), "click", 300L))
    rows.toDF("user_id", "ts", "event_type", "event_id")
      .write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b1").schema
    val q = EventStream.purchasesFullOuterClicks(
        spark.readStream.schema(schema).parquet(s"$dir/*"), 60)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("fouter").start()
    try {
      q.processAllAvailable()
      val live = spark.table("fouter").collect()
      assert(live.map(_.getLong(0)).toSeq == Seq(1L),
        s"only the matched pair may emit live, got ${live.toSeq}")
      // advance BOTH watermark nodes (the query watermark is their min):
      // one far click and one far purchase; each stays withheld itself
      // (its own outer verdict is still open)
      Seq((8L, ts("2024-06-01 20:00:00"), "click", 800L),
          (9L, ts("2024-06-01 20:00:00"), "purchase", 900L))
        .toDF("user_id", "ts", "event_type", "event_id")
        .write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val got = spark.table("fouter")
        .select($"user_id", $"p_id", $"c_id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))
        .sortBy(_._1)
      assert(got.toSeq == Seq((1L, 101L, 100L), (2L, 200L, -1L), (3L, -1L, 300L)),
        s"expected both-side null extension, got ${got.toSeq}")

      // batch parity: the same transform over a static frame is a plain
      // full join producing the same three rows
      val batch = EventStream.purchasesFullOuterClicks(
          rows.toDF("user_id", "ts", "event_type", "event_id"), 60)
        .select($"user_id", $"p_id", $"c_id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))
        .sortBy(_._1)
      assert(batch.toSeq == got.toSeq)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: matches emit live, null rows on flush") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_louter").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: click then purchase 30s later (matched); user 2: purchase
    // with no click (must null-extend once the watermark passes it)
    Seq(
      (1L, ts("2024-06-01 10:00:00"), "click", 100L),
      (1L, ts("2024-06-01 10:00:30"), "purchase", 101L),
      (2L, ts("2024-06-01 10:01:00"), "purchase", 200L))
      .toDF("user_id", "ts", "event_type", "event_id")
      .write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b1").schema
    val q = EventStream.purchasesWithClicks(
        spark.readStream.schema(schema).parquet(s"$dir/*"), 60)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("louter").start()
    try {
      q.processAllAvailable()
      // the matched pair emits as soon as both sides arrive...
      val live = spark.table("louter").collect()
      assert(live.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 101L)),
        s"expected only the matched purchase live, got ${live.toSeq}")
      // ...the unmatched purchase is withheld: no click can be ruled out
      // until the click-side watermark passes p_ts
      assert(!live.exists(_.getLong(0) == 2L))
      // far-future events advance the watermark (1h delay) beyond user
      // 2's purchase — on BOTH sides: the query watermark is the MIN
      // over the two watermark nodes, so a click alone would leave the
      // purchase-side watermark (and the join's flush point) behind.
      // The null-extended row must then flush and its state drop; the
      // far purchase itself stays withheld (its own no-click verdict is
      // still open).
      Seq((3L, ts("2024-06-01 20:00:00"), "click", 300L),
          (4L, ts("2024-06-01 20:00:00"), "purchase", 301L))
        .toDF("user_id", "ts", "event_type", "event_id")
        .write.parquet(s"$dir/b2")
      q.processAllAvailable()
      val all = spark.table("louter").orderBy($"user_id").collect()
      assert(all.map(r => (r.getLong(0), r.getLong(1), r.isNullAt(3))).toSeq ==
        Seq((1L, 101L, false), (2L, 200L, true)),
        s"expected user 2 null-extended after flush, got ${all.toSeq}")
    } finally q.stop()

    // batch parity: the same transform over a batch frame is a plain
    // left join — same rows as the flushed streaming table on the fixture
    val batch = EventStream.purchasesWithClicks(
        spark.read.parquet(stagedEvents), 60)
      .orderBy($"user_id", $"p_id", $"c_id").collect()
    val expected = {
      val ev = spark.read.parquet(stagedEvents)
      val p = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts".as("p_ts"), $"event_id".as("p_id"))
      val c = ev.filter($"event_type" === "click")
        .select($"user_id".as("cu"), $"ts".as("c_ts"), $"event_id".as("c_id"))
      p.join(c, $"user_id" === $"cu" &&
          $"c_ts" >= $"p_ts" - expr("INTERVAL 60 SECONDS") &&
          $"c_ts" <= $"p_ts", "left_outer")
        .select($"user_id", $"p_id", $"p_ts", $"c_id", $"c_ts")
        .orderBy($"user_id", $"p_id", $"c_id").collect()
    }
    assert(batch.nonEmpty && batch.toSeq == expected.toSeq)
  }

  test("dedup state survives a query restart via checkpoint (exactly-once)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_restart").toString
    val (src, sink, chk) = (s"$root/src", s"$root/sink", s"$root/chk")
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00")
    val t5 = java.sql.Timestamp.valueOf("2024-06-01 10:05:00")
    def rows(r: Seq[(Long, java.sql.Timestamp)]) =
      r.toDF("event_id", "ts")
    rows(Seq((1L, t0), (2L, t0), (3L, t0), (3L, t0)))
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    def runOnce(): Unit = {
      val q = EventStream.dedupedEvents(
          spark.readStream.schema(schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", chk)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    // second run: id 3 re-arrives within the watermark window plus a new
    // id — the recovered state store must still drop the duplicate
    rows(Seq((3L, t5), (4L, t5))).write.mode("append").parquet(src)
    runOnce()

    val out = spark.read.parquet(sink).select($"event_id").as[Long].collect()
    assert(out.sorted.toSeq == Seq(1L, 2L, 3L, 4L),
      s"restart lost or duplicated state: ${out.sorted.toSeq}")
  }

  test("watermark bounds state: late rows beyond watermark are dropped") {
    import spark.implicits._
    // Two batches: second contains a row >2h older than the max event
    // time of the first — with a 1h watermark it must be dropped from
    // the append-mode result.
    val dir = Files.createTempDirectory("graft_late").toString
    val base = java.sql.Timestamp.valueOf("2024-06-01 10:30:00")
    val late = java.sql.Timestamp.valueOf("2024-06-01 07:10:00")
    Seq((base, "click")).toDF("ts", "event_type")
      .write.parquet(s"$dir/b1")

    val schema = spark.read.parquet(s"$dir/b1").schema
    val q = EventStream.hourlyCounts(
        spark.readStream.schema(schema).parquet(s"$dir/*"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late_stream").start()
    try {
      q.processAllAvailable()
      Seq((late, "click")).toDF("ts", "event_type")
        .write.parquet(s"$dir/b2")
      q.processAllAvailable()
    } finally q.stop()
    // the late 07:00 window never appears in append output; the 10:00
    // window is still open (not emitted) — so nothing contains 07:00
    val hours = spark.table("late_stream").select($"hour").as[String].collect()
    assert(!hours.contains("2024-06-01 07:00"))
  }

  /** Per-shard word truth for the MG monitor tests: (shard -> (word
    * -> exact count)), sharded by the SAME md5 rule as mgHeavy. */
  private def mgTruth(): Map[Int, Map[String, Long]] = {
    import spark.implicits._
    t(spark, sf(), "documents")
      .select(explode(expr(
        "filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("word"))
      .select($"word", expr(
        "cast(conv(substring(md5(cast(word as binary)), 1, 2)," +
          " 16, 10) as int) % 8").as("shard"))
      .as[(String, Int)].collect()
      .groupBy(_._2).view.mapValues(
        _.groupBy(_._1).view.mapValues(_.length.toLong).toMap).toMap
  }

  private def assertMgBounds(est: Map[(Int, String), Long],
      truth: Map[Int, Map[String, Long]], k: Int): Unit = {
    for (((shard, w), e) <- est) {
      val tr = truth(shard).getOrElse(w, 0L)
      assert(e <= tr, s"shard $shard '$w': est $e exceeds true $tr")
    }
    for ((shard, words) <- truth) {
      val n = words.values.sum
      for ((w, tr) <- words if tr * (k + 1) > n) {
        val e = est.getOrElse((shard, w), 0L)
        assert(e > 0, s"shard $shard heavy '$w' missing from the sketch")
        assert((tr - e) * (k + 1) <= n,
          s"shard $shard '$w': est $e violates the n/(k+1) bound")
      }
    }
  }

  test("mg heavy (batch): every counter under-counts, every heavy " +
      "word survives within the n/(k+1) bound") {
    val rows = DocStream.mgHeavy(t(spark, sf(), "documents"))
      .collect().map(c => (c.shard, c.word) -> c.est).toMap
    assert(rows.nonEmpty)
    assertMgBounds(rows, mgTruth(), k = 64)
  }

  test("mg heavy (streaming): the bound holds across micro-batches, " +
      "state carries the counters") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_mg").toString
    val src = s"$root/src"
    val docs = t(spark, sf(), "documents").select($"doc_id", $"text")
    docs.filter($"doc_id" % 2 === 0).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = DocStream.mgHeavy(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(src)).toDF()
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("mg_stream").start()
    try {
      q.processAllAvailable()
      docs.filter($"doc_id" % 2 === 1).write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("mg_stream")
    val finalVer = emitted.groupBy($"shard".as("s"))
      .agg(max($"ver").as("v"))
    val got = emitted.join(finalVer, $"shard" === $"s" && $"ver" === $"v")
      .select($"shard", $"word", $"est")
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got.nonEmpty)
    // versions advanced: at least one shard saw 2 micro-batches
    assert(emitted.agg(max($"ver")).head().getLong(0) >= 2L,
      "state did not carry across micro-batches")
    assertMgBounds(got, mgTruth(), k = 64)
  }

  test("doc admission (batch): equals the dedup_incremental admit set") {
    import spark.implicits._
    val docs = t(spark, sf(), "documents")
    val corpusFps = docs.filter($"doc_id" % 5 <= 2)
      .select(md5($"text".cast("binary")).as("fp")).distinct()
    val batch = docs.filter($"doc_id" % 5 === 4)
      .unionAll(docs.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text", $"lang",
          $"source", $"n_chars"))
      .select($"doc_id", $"text")
    val got = DocStream.admittedDocs(batch, corpusFps).collect()
      .map(a => (a.fp, a.doc_id)).sortBy(_._2)
    val want = graft.SparkEntry.queries("dedup_incremental")(spark, sf())
      .filter($"admit_id" < 2000000L) // same two sub-batches as above
      .select($"fp", $"admit_id").as[(String, Long)].collect().sortBy(_._2)
    assert(got.toSeq == want.toSeq,
      s"batch admission differs: got ${got.length}, want ${want.length}")
  }

  test("doc admission (streaming): corpus + cross-batch dups rejected exactly once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_docstream").toString
    val src = s"$root/src"
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-06-01 10:05:00")
    // corpus knows contents A and B; the stream delivers:
    //   batch 1: A (corpus dup), C (new), C again (in-batch dup, higher id)
    //   batch 2: C (cross-batch dup), D (new)
    Seq((10L, "doc A", t0), (12L, "doc C", t0), (11L, "doc C", t0))
      .toDF("doc_id", "text", "ingest_ts").write.mode("append").parquet(src)
    val corpusFps = Seq("doc A", "doc B").toDF("text")
      .select(md5($"text".cast("binary")).as("fp"))
    val schema = spark.read.parquet(src).schema
    val q = DocStream.admittedDocs(
        spark.readStream.schema(schema).parquet(src), corpusFps)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("doc_admit").start()
    try {
      q.processAllAvailable()
      Seq((13L, "doc C", t1), (14L, "doc D", t1))
        .toDF("doc_id", "text", "ingest_ts").write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("doc_admit")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    // C admitted once at its min in-batch id (11), D admitted once; A
    // rejected by the corpus side; nothing admitted twice
    assert(out == Seq(11L, 14L), s"admissions: $out")
  }

  test("doc admission state survives a query restart via checkpoint") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_docrestart").toString
    val (src, sink, chk) = (s"$root/src", s"$root/sink", s"$root/chk")
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-06-01 10:05:00")
    Seq((1L, "doc X", t0)).toDF("doc_id", "text", "ingest_ts")
      .write.mode("append").parquet(src)
    val corpusFps = Seq("doc Z").toDF("text")
      .select(md5($"text".cast("binary")).as("fp"))
    val schema = spark.read.parquet(src).schema
    def runOnce(): Unit = {
      val q = DocStream.admittedDocs(
          spark.readStream.schema(schema).parquet(src), corpusFps)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", chk)
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    // X re-arrives after restart plus a new Y — the recovered state
    // store must still reject the duplicate admission
    Seq((2L, "doc X", t1), (3L, "doc Y", t1))
      .toDF("doc_id", "text", "ingest_ts").write.mode("append").parquet(src)
    runOnce()
    val out = spark.read.parquet(sink).select($"doc_id").as[Long]
      .collect().sorted.toSeq
    assert(out == Seq(1L, 3L), s"restart lost or duplicated state: $out")
  }

  test("doc admission: idle fingerprint state evicts past the TTL horizon") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_docttl").toString
    val src = s"$root/src"
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00")
    // 10 days later: beyond the 7-day idle TTL AND the 1h watermark delay
    val t10 = java.sql.Timestamp.valueOf("2024-06-11 10:00:00")
    Seq((1L, "doc E", t0)).toDF("doc_id", "text", "ingest_ts")
      .write.mode("append").parquet(src)
    val corpusFps = Seq("doc Z").toDF("text")
      .select(md5($"text".cast("binary")).as("fp"))
    val schema = spark.read.parquet(src).schema
    val q = DocStream.admittedDocs(
        spark.readStream.schema(schema).parquet(src), corpusFps)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("doc_ttl").start()
    try {
      q.processAllAvailable()
      // advance the watermark far past E's horizon with an unrelated doc,
      // then re-deliver E — after eviction it is re-admitted (the
      // documented TTL trade)
      Seq((2L, "doc F", t10)).toDF("doc_id", "text", "ingest_ts")
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      Seq((3L, "doc E", t10)).toDF("doc_id", "text", "ingest_ts")
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("doc_ttl")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 2L, 3L),
      s"expected E re-admitted after TTL eviction: $out")
  }

  test("curation rates (batch): equals the doc_filter_reasons verdict rollup") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:30:00")
    val staged = t(spark, sf(), "documents")
      .withColumn("ingest_ts", lit(t0))
    val got = DocStream.curationRates(staged)
      .select($"verdict", $"n_docs").as[(String, Long)]
      .collect().toMap
    val want = graft.SparkEntry.queries("doc_filter_reasons")(spark, sf())
      .groupBy($"verdict").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == want, s"per-row verdicts differ from declared: $got vs $want")
  }

  test("curation rates (streaming): windowed verdict counts == batch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_curate").toString
    val src = s"$root/src"
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:10:00")
    val t1 = java.sql.Timestamp.valueOf("2024-06-01 11:20:00")
    Seq(
      (1L, "the cat sat on the mat with a hat and a bat of it is", t0),
      (2L, "tiny", t0),
      (3L, "zz zz zz zz zz zz zz zz zz zz zz zz", t1),
      (4L, "the dog ran to the park and it is a big day in town", t1))
      .toDF("doc_id", "text", "ingest_ts").write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = DocStream.curationRates(
        spark.readStream.schema(schema).parquet(src))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("curate_stream").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("curate_stream")
      .select($"w_start", $"verdict", $"n_docs")
      .orderBy($"w_start", $"verdict").collect().toSeq
    val batch = DocStream.curationRates(spark.read.parquet(src))
      .orderBy($"w_start", $"verdict").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streaming $streamed != batch $batch")
    // the fixture exercises both windows and at least 2 verdicts
    assert(streamed.map(_.getString(1)).distinct.length >= 2)
  }

  test("embed drift (batch): cell histogram equals the declared assignment rollup") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:15:00")
    val emb = t(spark, sf(), "embeddings").withColumn("ingest_ts", lit(t0))
    val cb = EmbedStream.codebook(t(spark, sf(), "embeddings"))
    val got = EmbedStream.cellDrift(emb, cb)
      .select($"cell", $"n_vecs").as[(Long, Long)].collect().toMap
    val want = graft.SparkEntry.queries("sim_ivf_assign")(spark, sf())
      .groupBy($"cent_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got == want, s"drift cells differ from sim_ivf_assign: $got vs $want")
  }

  test("embed drift (streaming): windowed cell counts == batch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_drift").toString
    val src = s"$root/src"
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:10:00")
    val t1 = java.sql.Timestamp.valueOf("2024-06-01 11:40:00")
    val ref = t(spark, sf(), "embeddings")
    // two hour-windows of streamed vectors drawn from the fixture
    ref.filter($"vec_id" % 3 === 0).withColumn("ingest_ts", lit(t0))
      .unionAll(ref.filter($"vec_id" % 3 === 1).withColumn("ingest_ts", lit(t1)))
      .write.mode("append").parquet(src)
    val cb = EmbedStream.codebook(ref)
    val schema = spark.read.parquet(src).schema
    val q = EmbedStream.cellDrift(
        spark.readStream.schema(schema).parquet(src), cb)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("drift_stream").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("drift_stream")
      .orderBy($"w_start", $"cell").collect().toSeq
    val batch = EmbedStream.cellDrift(spark.read.parquet(src), cb)
      .orderBy($"w_start", $"cell").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streaming $streamed != batch $batch")
    // both windows present
    assert(streamed.map(_.getTimestamp(0)).distinct.length == 2)
  }

  test("psi drift (batch): per-window PSI replays from the raw values") {
    import spark.implicits._
    val ev = t(spark, sf(), "events")
    val model = EventStream.psiModel(ev)
    val got = EventStream.psiDrift(ev, model)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // exact driver replay: model bins from global bounds over the SAME
    // events, per (hour, type) Laplace-smoothed PSI in e10 integers
    val raw = ev.select($"event_type", unix_micros($"ts").as("us"),
        $"value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val v0 = raw.map(_._3).min; val v1 = raw.map(_._3).max
    def binOf(v: Double): Int =
      if (v1 == v0) 0 else math.min(9, math.floor((v - v0) * 10.0 / (v1 - v0)).toInt)
    val ref = raw.groupBy(_._1).map { case (ty, g) =>
      ty -> (g.length.toLong, g.groupBy(e => binOf(e._3))
        .map { case (b, h) => b -> h.length.toLong }) }
    val hourUs = 3600000000L
    val expected = raw.groupBy(e => (e._2 / hourUs * hourUs, e._1))
      .map { case ((h, ty), g) =>
        val n = g.length.toLong
        val cnt = g.groupBy(e => binOf(e._3))
          .map { case (b, x) => b -> x.length.toLong }
        val (nRef, rCnt) = ref(ty)
        val psiE10 = (0 to 9).map { b =>
          val p2 = (cnt.getOrElse(b, 0L) + 1) / (n + 10).toDouble
          val p1 = (rCnt.getOrElse(b, 0L) + 1) / (nRef + 10).toDouble
          math.round((p2 - p1) * math.log(p2 / p1) * 1e10)
        }.sum
        (h, ty) -> (n, math.round(psiE10.toDouble / 1e10 * 1e4)
          / 1e4.toDouble)
      }
    assert(got == expected, "windowed PSI diverges from exact replay")
  }

  test("psi drift: live values below the model's range land in bin 0") {
    import spark.implicits._
    val ev = t(spark, sf(), "events")
    // model trained ONLY on the upper value range — live traffic then
    // includes values below the training min, the downward-drift path
    val model = EventStream.psiModel(ev.filter($"value" >= 200.0))
    val got = EventStream.psiDrift(ev, model)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val bounds = ev.filter($"value" >= 200.0)
      .agg(min($"value"), max($"value")).head()
    val (v0, v1) = (bounds.getDouble(0), bounds.getDouble(1))
    def binOf(v: Double): Int =
      if (v1 == v0) 0
      else math.max(0, math.min(9,
        math.floor((v - v0) * 10.0 / (v1 - v0)).toInt))
    val refRaw = ev.filter($"value" >= 200.0)
      .select($"event_type", $"value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val ref = refRaw.groupBy(_._1).map { case (ty, g) =>
      ty -> (g.length.toLong, g.groupBy(e => binOf(e._2))
        .map { case (b, h) => b -> h.length.toLong }) }
    val raw = ev.select($"event_type", unix_micros($"ts").as("us"),
        $"value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val hourUs = 3600000000L
    val expected = raw.groupBy(e => (e._2 / hourUs * hourUs, e._1))
      .map { case ((h, ty), g) =>
        val n = g.length.toLong
        val cnt = g.groupBy(e => binOf(e._3))
          .map { case (b, x) => b -> x.length.toLong }
        val (nRef, rCnt) = ref(ty)
        val psiE10 = (0 to 9).map { b =>
          val p2 = (cnt.getOrElse(b, 0L) + 1) / (n + 10).toDouble
          val p1 = (rCnt.getOrElse(b, 0L) + 1) / (nRef + 10).toDouble
          math.round((p2 - p1) * math.log(p2 / p1) * 1e10)
        }.sum
        (h, ty) -> (n, math.round(psiE10.toDouble / 1e10 * 1e4)
          / 1e4.toDouble)
      }
    assert(got == expected,
      "below-range values must clamp into bin 0, not vanish")
    // every window's n must equal its raw event count (nothing is
    // silently dropped by a negative bin)
    assert(got.values.map(_._1).sum == raw.length.toLong)
  }

  test("psi drift (streaming): windowed PSI == batch (parity)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_psi").toString
    val src = s"$root/src"
    val ev = t(spark, sf(), "events")
    ev.filter($"event_id" % 2 === 0).write.mode("append").parquet(src)
    ev.filter($"event_id" % 2 === 1).write.mode("append").parquet(src)
    val model = EventStream.psiModel(ev)
    val schema = spark.read.parquet(src).schema
    val q = EventStream.psiDrift(
        spark.readStream.schema(schema).parquet(src), model)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("psi_stream").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("psi_stream")
      .orderBy($"hour_us", $"event_type").collect().toSeq
    val batch = EventStream.psiDrift(spark.read.parquet(src), model)
      .orderBy($"hour_us", $"event_type").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streaming ${streamed.size} rows != batch ${batch.size}")
    // hourly slices of a stationary fixture should mostly sit BELOW
    // the 0.1 page-out line — the verdict must not fire everywhere
    assert(streamed.count(_.getBoolean(4)) < streamed.size,
      "drift verdict fired on every window of a stationary stream")
  }

  test("nn serve (batch): per-query top-1 is the exact cell maximum") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:15:00")
    val all = t(spark, sf(), "embeddings")
    val queries = all.filter($"vec_id" % 37 === 1)
      .withColumn("ingest_ts", lit(t0))
    val cb = EmbedStream.codebook(all)
    val got = EmbedStream.nnServe(queries, all, cb)
      .select($"qid", $"nn_id", $"nn_sim").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // replay: per vector, its 8-centroid cell; per query, the exact
    // rounded-cosine argmax over same-cell candidates (ties → low id)
    val vecs = all.select($"vec_id",
        $"embedding".cast("array<double>").as("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0d; var na = 0d; var nb = 0d
      a.indices.foreach { i =>
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      math.round(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e4) / 1e4.toDouble
    }
    val cents = (0L until 8L).map(c => c -> vecs(c))
    def cellOf(v: Array[Double]): Long =
      cents.map { case (c, cv) => (-cos(v, cv), c) }.min._2
    val cells = vecs.map { case (id, v) => id -> cellOf(v) }
    got.foreach { case (qid, (nnId, nnSim)) =>
      val cands = vecs.keys.filter(c =>
        c != qid && cells(c) == cells(qid))
      val want = cands.map(c => (-cos(vecs(qid), vecs(c)), c)).min
      assert(nnId == want._2 && math.abs(nnSim + want._1) < 1e-9,
        s"q$qid: got ($nnId, $nnSim), want (${want._2}, ${-want._1})")
    }
    assert(got.nonEmpty)
  }

  test("nn serve (streaming): windowed top-1 == batch (parity)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_nn").toString
    val src = s"$root/src"
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:10:00")
    val t1 = java.sql.Timestamp.valueOf("2024-06-01 11:40:00")
    val all = t(spark, sf(), "embeddings")
    all.filter($"vec_id" % 37 === 1).withColumn("ingest_ts", lit(t0))
      .unionAll(all.filter($"vec_id" % 37 === 2)
        .withColumn("ingest_ts", lit(t1)))
      .write.mode("append").parquet(src)
    val cb = EmbedStream.codebook(all)
    val schema = spark.read.parquet(src).schema
    val q = EmbedStream.nnServe(
        spark.readStream.schema(schema).parquet(src), all, cb)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("nn_stream").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("nn_stream")
      .orderBy($"w_start", $"qid").collect().toSeq
    val batch = EmbedStream.nnServe(spark.read.parquet(src), all, cb)
      .orderBy($"w_start", $"qid").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streaming ${streamed.size} rows != batch ${batch.size}")
    assert(streamed.map(_.getTimestamp(0)).distinct.length == 2,
      "both serve windows must be present")
  }

  test("nn serve: duplicate same-window arrivals don't inflate n_cand") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:10:00")
    val t1 = java.sql.Timestamp.valueOf("2024-06-01 10:40:00")
    val all = t(spark, sf(), "embeddings")
    val once = all.filter($"vec_id" % 37 === 1).withColumn("ingest_ts", lit(t0))
    val twice = once.unionAll(once.withColumn("ingest_ts", lit(t1)))
    val cb = EmbedStream.codebook(all)
    def res(q: org.apache.spark.sql.DataFrame) =
      EmbedStream.nnServe(q, all, cb)
        .select($"qid", $"nn_id", $"nn_sim", $"n_cand").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // ADVICE r8: a query arriving twice within one hour window must
    // produce the same row as arriving once — including n_cand
    assert(res(twice) == res(once),
      "duplicate arrival changed the serve row (n_cand inflation)")
  }

  test("recall canary: low-hit shares replay from the serve rows") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:15:00")
    val all = t(spark, sf(), "embeddings")
    val queries = all.filter($"vec_id" % 37 === 1)
      .withColumn("ingest_ts", lit(t0))
    val cb = EmbedStream.codebook(all)
    val serve = EmbedStream.nnServe(queries, all, cb)
      .select($"nn_sim").collect().map(_.getDouble(0))
    val floor = 5000L
    val expLow = serve.count(s => math.round(s * 1e4) < floor).toLong
    val got = EmbedStream.recallCanary(queries, all, cb, floor).collect()
    assert(got.length == 1)
    assert(got.head.getLong(1) == serve.length.toLong,
      "canary lost queries")
    assert(got.head.getLong(2) == expLow, "low-hit count diverges")
    assert(got.head.getBoolean(3) == (expLow * 5 >= serve.length),
      "alert rule diverges")
  }

  test("recall canary (streaming): closed window == batch (parity)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_canary").toString
    val src = s"$root/src"
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:10:00")
    val t1 = java.sql.Timestamp.valueOf("2024-06-01 13:40:00")
    val all = t(spark, sf(), "embeddings")
    all.filter($"vec_id" % 37 === 1).withColumn("ingest_ts", lit(t0))
      .unionAll(all.filter($"vec_id" % 37 === 2)
        .withColumn("ingest_ts", lit(t1)))
      .write.mode("append").parquet(src)
    val cb = EmbedStream.codebook(all)
    val schema = spark.read.parquet(src).schema
    // chained windowed aggs → append mode; the t1 batch pushes the
    // watermark past window [10:00, 11:00)'s close, so that window
    // emits; [13:00, 14:00) stays open and must NOT emit yet
    val q = EmbedStream.recallCanary(
        spark.readStream.schema(schema).parquet(src), all, cb)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("canary_stream").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("canary_stream").collect().toSeq
    val batch = EmbedStream.recallCanary(spark.read.parquet(src), all, cb)
      .filter($"w_start" === java.sql.Timestamp.valueOf("2024-06-01 10:00:00"))
      .collect().toSeq
    assert(streamed.nonEmpty, "closed canary window never emitted")
    assert(streamed == batch, "canary stream != batch on closed window")
  }

  test("cdc monitor (batch): geometry replays; band verdicts; null rule") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:15:00")
    val base = t(spark, sf(), "documents")
    val docs = base.withColumn("ingest_ts", lit(t0))
    val model = DocStream.cdcModel(base)
    val got = DocStream.cdcMonitor(docs, model).collect()
    assert(got.nonEmpty)
    // pure-Scala replay of the cut rule per source
    val raw = base.select($"source", $"text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .filter(_._2.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    def chunksOf(text: String): Long = {
      val cuts = (8 to text.length).count { i =>
        val hex = md.digest(text.substring(i - 8, i).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        java.lang.Long.parseLong(hex, 16) % 64 == 0 && i < text.length
      }
      cuts + 1L
    }
    val bySrc = raw.groupBy(_._1).map { case (s0, xs) =>
      s0 -> (xs.length.toLong, xs.map(_._2.length.toLong).sum,
        xs.map(x => chunksOf(x._2)).sum)
    }
    got.foreach { r =>
      val (src, nDocs, bytes, nChunks) =
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val (en, eb, ec) = bySrc(src)
      assert(nDocs == en && bytes == eb && nChunks == ec,
        s"$src: geometry diverges from the pure-Scala cut replay")
      // trained on the identical corpus → live == expected → ok
      assert(r.getString(7) == "ok", s"$src: ${r.getString(7)}")
    }
    assert(got.map(_.getString(1)).toSet == bySrc.keySet)
    // unmodeled source → null verdict (LEFT-join baseline rule)
    val dropSrc = bySrc.keySet.min
    val got2 = DocStream
      .cdcMonitor(docs, model.filter($"source" =!= dropSrc)).collect()
    assert(got2.find(_.getString(1) == dropSrc).get.isNullAt(7),
      "unmodeled source must publish a null verdict")
    // a 3x-inflated baseline puts every live length outside ±25%
    val got3 = DocStream
      .cdcMonitor(docs, model.withColumn("exp_len_e4", $"exp_len_e4" * 3))
      .collect()
    got3.foreach(r => assert(r.getString(7) == "drift",
      s"${r.getString(1)}: expected drift against a 3x baseline"))
  }

  test("cdc monitor (streaming): == batch (parity)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cdc").toString
    val src = s"$root/src"
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:15:00")
    val base = t(spark, sf(), "documents")
    base.filter($"doc_id" % 2 === 0).withColumn("ingest_ts", lit(t0))
      .write.mode("append").parquet(src)
    base.filter($"doc_id" % 2 === 1).withColumn("ingest_ts", lit(t0))
      .write.mode("append").parquet(src)
    val model = DocStream.cdcModel(base)
    val schema = spark.read.parquet(src).schema
    val q = DocStream.cdcMonitor(
        spark.readStream.schema(schema).parquet(src), model)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("cdc_stream").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("cdc_stream")
      .orderBy($"w_start", $"source").collect().toSeq
    val batch = DocStream.cdcMonitor(spark.read.parquet(src), model)
      .orderBy($"w_start", $"source").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streaming ${streamed.size} rows != batch ${batch.size}")
  }

  test("stored-tokenizer doc stream: windowed counts == batch artifact encode") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_bpe_serve").toString
    graft.engine.BpeStore.save(spark, sf(), store)

    // batch, one window: per-source sums must equal the batch
    // stored-artifact encode exactly
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:15:00")
    val docs1 = t(spark, sf(), "documents").withColumn("ingest_ts", lit(t0))
    val got = DocStream.bpeTokenCounts(docs1, store)
      .select($"source", $"n_words", $"n_cps", $"n_tokens", $"compression")
      .orderBy($"source").collect().toSeq
    val want = graft.engine.BpeStore.encodeStoredCounts(spark, store, sf())
      .orderBy($"source").collect().toSeq
    assert(got.nonEmpty && got == want,
      s"windowed stored encode != batch artifact encode")

    // streaming over two windows == batch same plan
    val root = Files.createTempDirectory("graft_bpe_stream").toString
    val src = s"$root/src"
    val t1 = java.sql.Timestamp.valueOf("2024-06-01 11:40:00")
    val ref = t(spark, sf(), "documents")
    ref.filter($"doc_id" % 2 === 0).withColumn("ingest_ts", lit(t0))
      .unionAll(ref.filter($"doc_id" % 2 === 1)
        .withColumn("ingest_ts", lit(t1)))
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = DocStream.bpeTokenCounts(
        spark.readStream.schema(schema).parquet(src), store)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("bpe_stream").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("bpe_stream")
      .orderBy($"w_start", $"source").collect().toSeq
    val batch = DocStream.bpeTokenCounts(spark.read.parquet(src), store)
      .orderBy($"w_start", $"source").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streaming ${streamed.size} != batch ${batch.size}")
    assert(streamed.map(_.getTimestamp(0)).distinct.length == 2,
      "both ingest windows must be present")
  }
}
