package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.OutputMode

import graft.ops.EventQueries
import graft.streaming.StreamingQueries

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  test("stream funnel equals batch funnel on testdata") {
    val dir = sf("sf0.001")
    val streamed = StreamingQueries.runCompleteMode(spark, dir, "t_funnel")(
      StreamingQueries.funnelCounts).orderBy("event_type")
      .as[(String, Long)].collect().toSeq
    val batch = EventQueries.conversionFunnel(
      ingest.Sources.events(spark, dir)).as[(String, Long)].collect().toSeq
    assert(streamed == batch)
  }

  test("append-mode watermarked sessions equal batch sessionization") {
    // the production streaming-session configuration: watermark + append,
    // finalized by the sentinel batch — must emit exactly the batch
    // sessions (q_stream_sessions_append shares the batch oracle verbatim;
    // this is the in-suite twin of that hash gate)
    val dir = sf("sf0.001")
    val streamed = StreamingQueries
      .runAppendFinalized(spark, dir, "t_sess_append")(
        StreamingQueries.sessionizeAppend(_))
      .filter(col("user_id") =!= -1L) // the earlier sentinel's session IS
      // finalized by the later one's watermark — batch-side filter, always
      .orderBy("user_id", "session_start")
      .as[(Long, Timestamp, Long, Long)].collect().toSeq
    val batch = ops.WindowedQueries.sessionize(
        ingest.Sources.events(spark, dir))
      .as[(Long, Timestamp, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("append-mode watermarked daily revenue equals the batch aggregate") {
    val dir = sf("sf0.001")
    val streamed = StreamingQueries
      .runAppendFinalized(spark, dir, "t_rev_append")(
        StreamingQueries.windowedRevenue(_, delay = "0 seconds"))
      .filter(col("event_date") < lit("2099-01-01").cast("date"))
      .orderBy("event_date")
      .as[(java.sql.Date, Double)].collect().toSeq
    val batch = EventQueries.dailyRevenue(ingest.Sources.events(spark, dir))
      .as[(java.sql.Date, Double)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stateful stream on the RocksDB state store matches batch results") {
    // Tuning.rocksDbStateStore is the 100 TB state configuration; prove the
    // provider actually loads and produces identical results on a stateful
    // (dedup + agg) query — the conf is read at query start, so setting it
    // on the shared session scoped to this test is enough: the harness's
    // per-query session starts from the caller's CURRENT conf
    Tuning.rocksDbStateStore.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = sf("sf0.001")
      var stateMetrics = Set.empty[String]
      val streamed = StreamingQueries.countDailyActiveUsers(
        StreamingQueries.runStream(spark, dir, "t_rocks", "append",
          onDrained = q => {
            import scala.jdk.CollectionConverters._
            stateMetrics = q.lastProgress.stateOperators
              .flatMap(_.customMetrics.keySet.asScala).toSet
          })(StreamingQueries.dedupDailyUsers))
        .as[(java.sql.Date, String, Long)].collect().toSeq
      // the store that ran reports its own custom metrics: RocksDB's are
      // rocksdb*, the default HDFS-backed store's are loadedMapCache*
      assert(stateMetrics.exists(_.startsWith("rocksdb")),
        s"state operator metrics $stateMetrics are not RocksDB's")
      val batch = EventQueries.dailyActiveUsers(
        ingest.Sources.events(spark, dir))
        .as[(java.sql.Date, String, Long)].collect().toSeq
      assert(streamed == batch)
    } finally Tuning.rocksDbStateStore.keys.foreach(spark.conf.unset)
  }

  test("transformWithState funnel matches the flatMapGroupsWithState machine") {
    // TWS runs only on the RocksDB state store
    Tuning.rocksDbStateStore.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[graft.streaming.FunnelState.In]
      val q = graft.streaming.FunnelStateTws.conversions(spark,
          mem.toDS().withWatermark("ts", "0 seconds"))
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("t_tws")
        .option("checkpointLocation",
          tempDir("graft-tws").toString)
        .start()
      try {
        val events = ingest.Sources.events(spark, sf("sf0.001"))
        val typed = StreamingQueries.toConversionInput(events)
          .as[graft.streaming.FunnelState.In].collect()
        mem.addData(typed.toIndexedSeq)
        q.processAllAvailable()
        val streamed = spark.table("t_tws")
          .as[graft.streaming.FunnelState.Conversion].collect()
          .sortBy(c => (c.user_id, micros(c.purchaseAt), micros(c.viewAt)))
        val batch = graft.streaming.FunnelState.conversions(spark,
            StreamingQueries.toConversionInput(events)
              .as[graft.streaming.FunnelState.In]).collect()
          .sortBy(c => (c.user_id, micros(c.purchaseAt), micros(c.viewAt)))
        assert(streamed.length == batch.length && streamed.sameElements(batch))
      } finally q.stop()
    } finally Tuning.rocksDbStateStore.keys.foreach(spark.conf.unset)
  }

  private def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  test("transformWithState evicts idle funnel state via event-time timers") {
    Tuning.rocksDbStateStore.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      implicit val sqlCtx = spark.sqlContext
      import graft.streaming.FunnelState.In
      val mem = MemoryStream[In]
      val q = graft.streaming.FunnelStateTws.conversions(spark,
          mem.toDS().withWatermark("ts", "2 hours"), idleTimeout = "1h")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("t_tws_evict")
        .option("checkpointLocation",
          tempDir("graft-twse").toString)
        .start()
      try {
        def batch(rows: In*): Unit = { mem.addData(rows); q.processAllAvailable() }
        // b1: user 1 views (watermark still 0: no timer yet)
        batch(In(1, ts("2024-01-01 10:00:00"), 1, "view", 0.0),
          In(2, ts("2024-01-01 10:00:00"), 9, "signup", 0.0))
        // b2: touch user 1 so a timer registers at wm(08:00) + 1h = 09:00
        batch(In(3, ts("2024-01-01 10:01:00"), 1, "signup", 0.0))
        // b3 + b4: advance the watermark past the timer -> user 1 evicted
        batch(In(4, ts("2024-01-01 13:00:00"), 9, "signup", 0.0))
        batch(In(5, ts("2024-01-01 13:01:00"), 9, "signup", 0.0))
        // b5: click+purchase would convert IF the old view survived
        batch(In(6, ts("2024-01-01 13:02:00"), 1, "click", 0.0),
          In(7, ts("2024-01-01 13:03:00"), 1, "purchase", 42.0))
        assert(spark.table("t_tws_evict").count() == 0,
          "idle state must be evicted before the late click/purchase")
      } finally q.stop()
    } finally Tuning.rocksDbStateStore.keys.foreach(spark.conf.unset)
  }

  test("the append-finalized harness leaves no sentinel build dir behind") {
    // a fresh copy of the events file: its sf dir misses the per-JVM
    // sentinel memo, so this run builds the sentinel
    val dir = tempDir("graft-sentspec")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf("sf0.001"), "events.parquet"),
      dir.resolve("events.parquet"))
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def builds() = tmp.list().filter(_.startsWith("graft-sentcache")).toSet
    val before = builds()
    val revenue = StreamingQueries
      .runAppendFinalized(spark, dir.toString, "t_sent_build")(
        StreamingQueries.windowedRevenue(_, delay = "0 seconds"))
    assert(revenue.count() > 0)
    // a suite JVM running beside this one may hold its own build dir for
    // a moment; a leaked dir never goes away
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Millis, Seconds, Span}
    eventually(timeout(Span(30, Seconds)), interval(Span(200, Millis))) {
      assert((builds() -- before).isEmpty)
    }
  }

  test("windowed revenue with watermark finalizes closed windows and drops late rows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamingQueries.windowedRevenue(mem.toDF(), delay = "1 hour")
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("t_wm")
      .option("checkpointLocation",
        tempDir("graft-wm").toString)
      .start()
    try {
      mem.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "purchase", 10.0, "{}"),
        Ev(2, ts("2024-01-01 11:00:00"), 2, "purchase", 5.0, "{}"))
      q.processAllAvailable()
      // advance watermark past day-1 window end (+1h delay)
      mem.addData(Ev(3, ts("2024-01-02 02:00:00"), 1, "purchase", 7.0, "{}"))
      q.processAllAvailable()
      // this day-1 row is behind the watermark -> dropped
      mem.addData(Ev(4, ts("2024-01-01 09:00:00"), 3, "purchase", 99.0, "{}"))
      q.processAllAvailable()
      val out = spark.table("t_wm")
        .as[(java.sql.Date, Double)].collect().toMap
      assert(out(java.sql.Date.valueOf("2024-01-01")) == 15.0) // late 99 dropped
      assert(!out.contains(java.sql.Date.valueOf("2024-01-02"))) // still open
    } finally q.stop()
  }

  test("watermark-bounded dedup matches exact dedup for in-window data") {
    val dir = sf("sf0.001")
    val bounded = StreamingQueries.countDailyActiveUsers(
      StreamingQueries.runStream(spark, dir, "t_dau_wm", "append")(
        StreamingQueries.dedupDailyUsersBounded(_, delay = "60 days")))
      .as[(java.sql.Date, String, Long)].collect().toSeq
    val exact = EventQueries.dailyActiveUsers(
        ingest.Sources.events(spark, dir))
      .as[(java.sql.Date, String, Long)].collect().toSeq
    assert(bounded == exact)
  }

  test("left-outer interval join: abandoned views equal the batch NOT EXISTS") {
    val dir = sf("sf0.001")
    val streamed = StreamingQueries.countAbandonedViews(
        StreamingQueries.runAppendFinalized(spark, dir, "t_abandoned")(
          StreamingQueries.streamAbandonedViews(_))
          .filter(col("view_ts") < lit("2099-01-01").cast("timestamp")))
      .as[(java.sql.Date, Long)].collect().toSeq
    val ev = ingest.Sources.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    val batch = views.join(purchases,
        org.apache.spark.sql.functions.expr(
          """v_user = p_user AND purchase_ts >= view_ts
            |AND purchase_ts <= view_ts + interval 30 minutes""".stripMargin),
        "left_anti")
      .groupBy(org.apache.spark.sql.functions.to_date(col("view_ts"))
        .as("event_date"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("abandoned_views"))
      .orderBy("event_date")
      .as[(java.sql.Date, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream interval join matches the batch banded range join") {
    val dir = sf("sf0.001")
    val streamed = StreamingQueries.countAttributionPairs(
      StreamingQueries.runStream(spark, dir, "t_attr", "append")(
        StreamingQueries.streamAttributionPairs(_)))
      .as[(java.sql.Date, Long)].collect().toSeq
    val batch = graft.ops.AsOfJoin.viewToPurchaseWithin(
        ingest.Sources.events(spark, dir))
      .as[(java.sql.Date, Long)].collect().toSeq
    assert(streamed == batch)
  }

  test("streaming dedup + batch count equals batch exact distinct") {
    val dir = sf("sf0.001")
    val streamed = StreamingQueries.countDailyActiveUsers(
      StreamingQueries.runStream(spark, dir, "t_dau", "append")(
        StreamingQueries.dedupDailyUsers))
      .as[(java.sql.Date, String, Long)].collect().toSeq
    val batch = EventQueries.dailyActiveUsers(
        ingest.Sources.events(spark, dir))
      .as[(java.sql.Date, String, Long)].collect().toSeq
    assert(streamed == batch)
  }

  test("stream-static segment revenue: dimension broadcast, batch ≡ stream") {
    val dir = sf("sf0.001")
    val ev = ingest.Sources.events(spark, dir)
    val cust = ingest.Sources.table(spark, dir, "customer")
    // the batch shape of the per-micro-batch plan: the dimension side must
    // broadcast (the stream never shuffles for the join)
    val plan = StreamingQueries.segmentRevenue(ev, cust)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension join must broadcast:\n$plan")
    val streamed = StreamingQueries.runCompleteMode(
        spark, dir, "t_segment_rev")(StreamingQueries.segmentRevenue(_, cust))
      .orderBy("segment")
      .as[(String, Double, Long)].collect().toSeq
    val batch = StreamingQueries.segmentRevenue(ev, cust).orderBy("segment")
      .as[(String, Double, Long)].collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("TransitionState emits the boundary transition when a user's " +
      "sequence splits across micro-batches") {
    import graft.streaming.TransitionState
    import graft.streaming.TransitionState.In
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[In]
    val q = TransitionState.transitions(spark, mem.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("t_transitions")
      .option("checkpointLocation",
        tempDir("graft-trans").toString)
      .start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      // batch 1: u1 view→click (also out-of-order arrival inside the
      // batch — the in-batch sort must fix it); u2 view
      mem.addData(
        In(2, ts("2024-01-01 10:05:00"), 1, "click"),
        In(1, ts("2024-01-01 10:00:00"), 1, "view"),
        In(3, ts("2024-01-01 10:00:00"), 2, "view"))
      q.processAllAvailable()
      // batch 2: u1 purchase (boundary transition click→purchase must
      // come from CARRIED STATE), u2 error
      mem.addData(
        In(4, ts("2024-01-01 11:00:00"), 1, "purchase"),
        In(5, ts("2024-01-01 11:00:00"), 2, "error"))
      q.processAllAvailable()
      val got = spark.table("t_transitions")
        .as[TransitionState.Transition].collect()
        .map(t => (t.user_id, t.prev_type, t.next_type)).sorted.toSeq
      assert(got == Seq((1L, "click", "purchase"), (1L, "view", "click"),
        (2L, "view", "error")), got.toString)
    } finally q.stop()
  }

  test("VelocityState counts across the micro-batch boundary and ages out") {
    import graft.streaming.VelocityState
    import graft.streaming.VelocityState.In
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[In]
    val q = VelocityState.flags(spark, mem.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("t_velocity")
      .option("checkpointLocation",
        tempDir("graft-vel").toString)
      .start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      // batch 1: two u1 events inside the hour (out-of-order arrival —
      // the in-batch sort must fix it), plus a same-second TIE: the
      // RANGE frame counts peers, so both tie members report 3
      mem.addData(
        In(2, ts("2024-01-01 10:20:00"), 1),
        In(1, ts("2024-01-01 10:20:00"), 1),
        In(3, ts("2024-01-01 10:00:00"), 1))
      q.processAllAvailable()
      // batch 2: the boundary event must see all three CARRIED entries
      // (n=4); a later event past the window ages everything out (n=1)
      mem.addData(
        In(4, ts("2024-01-01 10:59:00"), 1),
        In(5, ts("2024-01-01 13:00:00"), 1))
      q.processAllAvailable()
      val got = spark.table("t_velocity")
        .as[VelocityState.Flag].collect()
        .map(f => (f.event_id, f.n_in_window)).sortBy(_._1).toSeq
      assert(got == Seq((1L, 3L), (2L, 3L), (3L, 1L), (4L, 4L), (5L, 1L)),
        got.toString)
    } finally q.stop()
  }

  test("VelocityState same-second run split across micro-batches: the " +
      "earlier member undercounts its peers (documented stand-in)") {
    import graft.streaming.VelocityState
    import graft.streaming.VelocityState.In
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[In]
    val q = VelocityState.flags(spark, mem.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("t_velocity_split")
      .option("checkpointLocation",
        tempDir("graft-vel-split").toString)
      .start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      // batch 1 carries the FIRST member of a same-second run
      mem.addData(In(1, ts("2024-01-01 10:20:00"), 1))
      q.processAllAvailable()
      // batch 2 carries the SECOND member of the SAME second: arrival
      // order stands in for event order across batches, so the earlier
      // member keeps its partial count (1) while the later member sees
      // the full run (2) — a batch RANGE frame would report 2 for BOTH.
      // This is the documented cross-batch-tie trade, pinned here.
      mem.addData(In(2, ts("2024-01-01 10:20:00"), 1))
      q.processAllAvailable()
      val got = spark.table("t_velocity_split")
        .as[VelocityState.Flag].collect()
        .map(f => (f.event_id, f.n_in_window)).sortBy(_._1).toSeq
      assert(got == Seq((1L, 1L), (2L, 2L)), got.toString)
    } finally q.stop()
  }

  test("TransitionState TTL twin: an evicted user's return event emits NO " +
      "boundary transition (the documented horizon miss), while the " +
      "unbounded machine emits it") {
    import graft.streaming.TransitionState
    import graft.streaming.TransitionState.In
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    def run(name: String,
        wire: (org.apache.spark.sql.Dataset[In]) =>
          org.apache.spark.sql.Dataset[TransitionState.Transition]) = {
      val mem = MemoryStream[In]
      val q = wire(mem.toDS()).writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(name)
        .option("checkpointLocation",
          tempDir(s"graft-$name").toString)
        .start()
      try {
        // batch 1: u1 click, u2 view (both keys get state)
        mem.addData(In(1, ts("2024-01-01 10:00:00"), 1, "click"),
          In(2, ts("2024-01-01 10:00:00"), 2, "view"))
        q.processAllAvailable()
        // batch 2: only u2 — advances the watermark 10 hours past u1's
        // last activity (horizon = 1h), so u1's state times out in the
        // flush batch that follows the watermark update
        mem.addData(In(3, ts("2024-01-01 20:00:00"), 2, "view"))
        q.processAllAvailable()
        // batch 3: u1 returns (on-time: ahead of the 19:00 watermark)
        mem.addData(In(4, ts("2024-01-01 20:30:00"), 1, "purchase"))
        q.processAllAvailable()
        spark.table(name).as[TransitionState.Transition].collect()
          .map(t => (t.user_id, t.prev_type, t.next_type)).sorted.toSeq
      } finally q.stop()
    }
    val unbounded = run("t_trans_nottl",
      ds => TransitionState.transitions(spark, ds))
    val ttl = run("t_trans_ttl",
      ds => TransitionState.transitionsTtl(spark, ds, "1 hour"))
    // the unbounded machine emits u1's boundary transition; the TTL twin
    // evicted u1 and misses it — everything else identical
    assert(unbounded == Seq((1L, "click", "purchase"), (2L, "view", "view")),
      unbounded.toString)
    assert(ttl == Seq((2L, "view", "view")), ttl.toString)
  }

  test("VelocityState TTL twin: a LATE return event behind the watermark " +
      "is DROPPED by the watermark filter (no flag at all); the unbounded " +
      "twin still counts it against the surviving window peer") {
    import graft.streaming.VelocityState
    import graft.streaming.VelocityState.In
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    def run(name: String,
        wire: (org.apache.spark.sql.Dataset[In]) =>
          org.apache.spark.sql.Dataset[VelocityState.Flag]) = {
      val mem = MemoryStream[In]
      val q = wire(mem.toDS()).writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(name)
        .option("checkpointLocation",
          tempDir(s"graft-$name").toString)
        .start()
      try {
        mem.addData(In(1, ts("2024-01-01 10:00:00"), 1),
          In(2, ts("2024-01-01 10:00:00"), 2))
        q.processAllAvailable()
        // u2 advances the watermark to 12:00 (delay = 1h); u1's timeout
        // (11:00) fires in the flush batch → buffer evicted
        mem.addData(In(3, ts("2024-01-01 13:00:00"), 2))
        q.processAllAvailable()
        // u1 returns LATE (10:30 < watermark 12:00): inside the window
        // of its 10:00 event, but behind the watermark
        mem.addData(In(4, ts("2024-01-01 10:30:00"), 1))
        q.processAllAvailable()
        spark.table(name).as[VelocityState.Flag].collect()
          .map(f => (f.event_id, f.n_in_window)).sortBy(_._1).toSeq
      } finally q.stop()
    }
    val unbounded = run("t_vel_nottl",
      ds => VelocityState.flags(spark, ds))
    val ttl = run("t_vel_ttl",
      ds => VelocityState.flagsTtl(spark, ds, "1 hour"))
    assert(unbounded == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L)),
      unbounded.toString)
    // the watermark filter ahead of the stateful operator DROPS the late
    // return outright — no flag, rather than an undercounted one; on-time
    // traffic (events 1-3) is untouched (the lossless-for-on-time claim)
    assert(ttl == Seq((1L, 1L), (2L, 1L), (3L, 1L)), ttl.toString)
  }

  test("dedupDailyUsersBounded: an evicted key RE-EMITS its duplicate, " +
      "and streaksFromDays' distinct absorbs the re-emission (the TTL " +
      "streaks entry's lossless claim)") {
    import graft.streaming.TransitionState.In // (event_id, ts, user_id, event_type)
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[In]
    val q = StreamingQueries.dedupDailyUsersBounded(
        mem.toDS().toDF(), delay = "1 hour")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("t_streaks_ttl")
      .option("checkpointLocation",
        tempDir("graft-streaks-ttl").toString)
      .start()
    try {
      mem.addData(In(1, ts("2024-01-01 00:00:00"), 1, "view"))
      q.processAllAvailable()
      // u9 advances the watermark to 02:00 > u1's 00:00 + 1h horizon →
      // (Jan1, view, u1) dedup state evicts
      mem.addData(In(2, ts("2024-01-01 03:00:00"), 9, "view"))
      q.processAllAvailable()
      // duplicate KEY, later ON-TIME ts (02:30 > watermark 02:00):
      // state is gone, so the row re-emits — bounded state trades
      // exactly-once for eventual dedup
      mem.addData(In(3, ts("2024-01-01 02:30:00"), 1, "view"))
      q.processAllAvailable()
      val emitted = spark.table("t_streaks_ttl")
      val u1Rows = emitted.filter(col("user_id") === 1L).collect()
      assert(u1Rows.length == 2, s"expected a re-emission: ${u1Rows.toSeq}")
      // the finisher's distinct absorbs the duplicate: streaks over the
      // re-emitting bounded stream ≡ streaks over exact dedup
      val viaTtl = graft.ops.EventQueries.streaksFromDays(
        emitted.select(col("user_id"), col("event_date"))).collect().toSeq
      val exact = graft.ops.EventQueries.streaksFromDays(
        emitted.select(col("user_id"), col("event_date")).distinct())
        .collect().toSeq
      assert(viaTtl.map(_.toSeq) == exact.map(_.toSeq))
    } finally q.stop()
  }

  test("countUniqueDocs pins a null lang LAST — a planted null-lang doc " +
      "keeps the q_stream_doc_dedup row order engine-agnostic") {
    import spark.implicits._
    // Spark's ascending default is NULLS FIRST, DuckDB's is NULLS LAST;
    // the finisher pins asc_nulls_last so both engines agree
    val d = Seq((Option("en"), "a"), (Option.empty[String], "b"),
      (Option("de"), "c"), (Option.empty[String], "b"),
      (Option.empty[String], "z")).toDF("lang", "text")
    val out = StreamingQueries.countUniqueDocs(StreamingQueries.dedupDocs(d))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
    assert(out == Seq((Some("de"), 1L), (Some("en"), 1L), (None, 2L)),
      s"null lang must sort last and dedup by (lang, text): $out")
  }
}
