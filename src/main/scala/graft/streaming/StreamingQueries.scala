package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Exprs._

/** Structured-Streaming twins of the reference's Flink-SQL layer
  * (SURVEY.md §2.8: "rolling aggregations, windowing functions, or filtering
  * based on event types", `reference:README.md:47`; the Flink SQL itself is
  * not committed, so semantics are pinned to the batch queries of
  * `snowflake_refresh.py` — stream result ≡ batch result is the contract,
  * enforced by the DuckDB oracle and the batch-equals-stream specs).
  *
  * Design: the transforms are the *same* DataFrame expressions as
  * [[graft.ops.EventQueries]] applied to an unbounded source — Catalyst
  * plans them incrementally (partial aggregates into the state store). At
  * scale the state is bounded per key-day; watermarking (see
  * [[windowedRevenue]]) evicts closed days.
  */
object StreamingQueries {
  /** Per-sfDir cache of the bytes of the 2-row sentinel parquet file
    * [[runAppendFinalized]] plants as its second micro-batch: the file's
    * content depends only on the source dir (one template row + the ts
    * encoding its schema dictates), so it is built with a Spark write job
    * once per JVM and sf dir (the r13 verdict's harness-amortization ask),
    * not once per run. The build dir is deleted as soon as the bytes are
    * read; each run writes the bytes into its own source dir, which the
    * harness deletes with the run. */
  private val sentinelCache =
    new scala.collection.concurrent.TrieMap[String, Array[Byte]]

  /** Runs `transform` over a file-streamed view of `<sfDir>/events.parquet`
    * and materializes the result (memory sink) as a batch frame; events
    * callers get the nanos normalization composed in. See
    * [[runTableStream]] for the harness. Micro-batches run as fast as
    * files arrive and are drained by `processAllAvailable`; the production
    * sink [[graft.sink.Sinks.streamToWarehouse]] is the one that takes a
    * trigger (ST5). */
  def runStream(spark: SparkSession, sfDir: String, name: String,
      mode: String,
      onDrained: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _ => ())(
      transform: DataFrame => DataFrame): DataFrame =
    runTableStream(spark, sfDir, "events", name, mode, onDrained)(
      df => transform(graft.ingest.Sources.normalizeEvents(df)))

  /** State partitions of every harness stream: stateful operators allocate
    * one state store per shuffle partition per side, and at local scale
    * the per-store fixed cost dominates. Baked into each run's fresh
    * checkpoint, so no cross-run conflict. */
  private val StreamShufflePartitions = 4

  /** [[runStream]] generalized to any driver table (the text-pipeline
    * streams run over `documents`), with no normalization.
    *
    * The stream runs on a per-query session ([[graft.GraftSession.derive]]
    * of `spark` with [[StreamShufflePartitions]] shuffle partitions):
    * `spark`'s conf is never written, so a batch query sharing `spark`
    * meanwhile keeps its own partition count, and the memory sink's temp
    * view `name` lands in the per-query session, not in `spark`'s catalog.
    * The file source wants a directory, so the single parquet file is
    * symlinked into a fresh temp dir; the checkpoint dir is likewise
    * per-call temp (WAL + state parity with
    * `reference:extractor.py:25-41`'s resumable cursor, ST4).
    *
    * `onDrained` runs after the stream fully drains and BEFORE stop() —
    * the hook the streaming PlanPin spec uses to capture the last
    * micro-batch's executed plan (gone once the query stops). The
    * returned frame is bound to `spark`: batch finishers on it plan under
    * the caller's conf. */
  def runTableStream(spark: SparkSession, sfDir: String, table: String,
      name: String, mode: String,
      onDrained: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _ => ())(
      transform: DataFrame => DataFrame): DataFrame =
    harness(spark, sfDir, table, name, mode, onDrained,
      between = None)(transform)

  /** The one stream harness body: start, drain, optionally `between` (given
    * the source dir and the raw file's frame) and drain again, `onDrained`,
    * stop, clean up. */
  private def harness(spark: SparkSession, sfDir: String, table: String,
      name: String, mode: String,
      onDrained: org.apache.spark.sql.streaming.StreamingQuery => Unit,
      between: Option[(java.nio.file.Path, DataFrame) => Unit])(
      transform: DataFrame => DataFrame): DataFrame = {
    // absolute target: a relative sfDir would be stored verbatim in the
    // symlink and resolve against the /tmp source dir — a dangling link
    val path = java.nio.file.Paths.get(s"$sfDir/$table.parquet")
      .toAbsolutePath
    val session = graft.GraftSession.derive(spark,
      Map("spark.sql.shuffle.partitions" -> StreamShufflePartitions.toString))
    val srcDir = Files.createTempDirectory(s"graft-src-$name")
    Files.createSymbolicLink(srcDir.resolve(s"$table.parquet"), path)
    val raw = session.read.parquet(path.toString)
    val stream = session.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val ck = Files.createTempDirectory(s"graft-ck-$name").toString
    val writer = transform(stream).writeStream
      .outputMode(mode)
      .format("memory").queryName(name)
      .option("checkpointLocation", ck)
    val q = writer.start()
    try {
      q.processAllAvailable()
      between.foreach { step => step(srcDir, raw); q.processAllAvailable() }
      onDrained(q)
    } finally {
      // the memory sink holds the rows; the per-run source/checkpoint
      // dirs are dead — reap them (the q_minhash_incremental discipline).
      // stop() can rethrow a terminal stream error, so the deletes live
      // in their own finally and are individually best-effort.
      try q.stop() finally {
        graft.Fs.deleteQuietly(srcDir)
        graft.Fs.deleteQuietly(ck)
      }
    }
    graft.GraftSession.rebind(session.table(name), spark)
  }

  def runCompleteMode(spark: SparkSession, sfDir: String, name: String)(
      transform: DataFrame => DataFrame): DataFrame =
    runStream(spark, sfDir, name, "complete")(transform)

  /** [[runStream]] in APPEND mode with SENTINEL-FINALIZED output — the
    * production streaming configuration (watermark + append) made
    * deterministic over a bounded input: after the real events file is
    * fully processed, a single far-future sentinel row (year 2100,
    * `user_id = -1`) arrives as a LATER micro-batch, advancing the global
    * event-time watermark past every real session/window end, so append
    * mode emits every real group exactly once and the no-data flush batch
    * drains the state. The sentinel's own group is never finalized (the
    * watermark cannot pass its end) and stays withheld in state —
    * transforms additionally filter `user_id = -1` defensively.
    *
    * Two-phase by construction (the harness drains between files): if the
    * sentinel instead raced into the FIRST batch, the watermark would jump
    * to 2100 and every real row in later batches would be dropped as late
    * — ordering the phases is what makes the finalization sound. */
  def runAppendFinalized(spark: SparkSession, sfDir: String, name: String,
      onDrained: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _ => ())(
      transform: DataFrame => DataFrame): DataFrame =
    harness(spark, sfDir, "events", name, "append", onDrained,
      between = Some(plantSentinel(sfDir) _))(
      df => transform(graft.ingest.Sources.normalizeEvents(df)))

  /** Writes the sentinel file for `sfDir`'s events (read as `raw`) into
    * the stream's source dir `srcDir`: 2100-01-01T00:00:00Z in the raw
    * file's encoding. TWO sentinel rows, one per funnel side ('view' then
    * 'purchase' 10 days later): transforms pre-filter on event_type, and a
    * filtered-out sentinel advances nothing — a stream-stream join derives
    * one watermark node per side and the query's global watermark is their
    * MIN, so BOTH sides need a surviving sentinel. The two are 10 days
    * apart (never interval-joinable) and single-typed, so neither can
    * match or merge with anything; their own groups/windows sit forever
    * above the watermark and are never emitted. */
  private def plantSentinel(sfDir: String)(srcDir: java.nio.file.Path,
      raw: DataFrame): Unit = {
    val sentinelNs = 4102444800000000000L
    // the sentinel file is per-sfDir-constant: build it ONCE per JVM
    // (a Spark write job), then write the cached bytes per run
    val bytes = sentinelCache.getOrElseUpdate(sfDir, {
      val sentDir = Files.createTempDirectory("graft-sentcache")
      try {
        val base = raw.limit(1)
        // The sentinel file must carry `ts` in the SAME encoding as the
        // raw file it joins in the stream (the reader applies one fixed
        // schema): ns-long for the TIMESTAMP(NANOS) era, µs TimestampType
        // for the µs-parquet era — derive from the raw schema, not an
        // assumption.
        def sentinelTs(ns: Long): Column =
          raw.schema("ts").dataType match {
            case org.apache.spark.sql.types.LongType => lit(ns)
            case _ => expr(s"timestamp_micros(${ns / 1000L}L)")
          }
        base.withColumn("ts", sentinelTs(sentinelNs))
          .withColumn("user_id", lit(-1L))
          .withColumn("event_type", lit("view"))
          .unionByName(base
            .withColumn("ts",
              sentinelTs(sentinelNs + 864000L * 1000000000L))
            .withColumn("user_id", lit(-1L))
            .withColumn("event_type", lit("purchase")))
          .coalesce(1).write.mode("overwrite").parquet(s"$sentDir/out")
        import scala.jdk.CollectionConverters._
        val ls = Files.list(java.nio.file.Paths.get(s"$sentDir/out"))
        try Files.readAllBytes(ls.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get)
        finally ls.close()
      } finally graft.Fs.deleteQuietly(sentDir)
    })
    Files.write(srcDir.resolve("zz-sentinel.parquet"), bytes)
  }

  /** Append-mode twin of [[graft.ops.WindowedQueries.sessionize]]: the
    * IDENTICAL `session_window` aggregation preceded by a watermark (append
    * mode requires one to know when a session can no longer grow) and
    * without the output sort (unsupported on append streams — callers sort
    * the materialized result). Run under [[runAppendFinalized]] it shares
    * `q_sessionization`'s DuckDB oracle verbatim: the hash gate proves the
    * PRODUCTION configuration (watermark + append finalization) emits
    * exactly the batch sessions.
    *
    * Deliberately NO in-stream sentinel filter: a `user_id != -1` predicate
    * here is on a grouping key, so Catalyst pushes it below the aggregation
    * AND below `EventTimeWatermark` into the parquet scan — the sentinel
    * row would be dropped before the watermark tracker ever sees it and
    * nothing would finalize (observed, not hypothetical). The sentinel
    * needs no filter anyway: its session end (2100 + gap) is forever above
    * the watermark, so append mode never emits it; [[runAppendFinalized]]
    * callers may still filter the MATERIALIZED output defensively. */
  def sessionizeAppend(events: DataFrame,
      gap: String = "30 minutes", delay: String = "0 seconds"): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .as("duration_us"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("duration_us"))

  /** Streaming conversion funnel (ST3 twin of A6). */
  def funnelCounts(events: DataFrame): DataFrame =
    events.filter(col("event_type").isin("view", "click", "purchase"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("event_count"))

  /** Streaming daily revenue as a 1-day tumbling event-time window
    * (ST3 twin of A4); project window start back to a date so the streaming
    * result is schema-identical to the batch query. */
  def dailyRevenueWindowed(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .groupBy(window(col("ts"), "1 day"))
      .agg(moneySum(col("value")).as("total_revenue"))
      .select(to_date(col("window.start")).as("event_date"),
        col("total_revenue"))

  /** Streaming half of the DAU twin (ST3 twin of A9): exact distinct isn't
    * supported on streams, so the stream performs the stateful first-seen
    * dedup of (day, type, user) and the count happens as a batch aggregate
    * over the materialized deduped stream (SURVEY §7.3's parity choice; the
    * at-scale alternative is approx_count_distinct with watermark-scoped
    * state). */
  def dedupDailyUsers(events: DataFrame): DataFrame =
    events.select(to_date(col("ts")).as("event_date"), col("event_type"),
        col("user_id"))
      .dropDuplicates("event_date", "event_type", "user_id")

  /** Watermark-bounded streaming dedup: first-seen (day, type, user) rows,
    * with dedup state EVICTED once the watermark passes `delay` beyond an
    * entry's event time — the production-shaped variant of
    * [[dedupDailyUsers]] (whose exact-parity state grows unboundedly). A
    * duplicate arriving after its original's state is evicted is re-emitted:
    * bounded state trades exactly-once dedup for eventual dedup, which the
    * overwrite-style reporting finisher tolerates. */
  def dedupDailyUsersBounded(events: DataFrame,
      delay: String = "2 days"): DataFrame =
    events.withWatermark("ts", delay)
      .select(col("ts"), to_date(col("ts")).as("event_date"),
        col("event_type"), col("user_id"))
      .dropDuplicatesWithinWatermark("event_date", "event_type", "user_id")
      .drop("ts")

  /** Batch finisher for [[dedupDailyUsers]]' materialized output. */
  def countDailyActiveUsers(deduped: DataFrame): DataFrame =
    deduped.groupBy("event_date", "event_type")
      .agg(count(lit(1)).as("daily_active_users"))
      .orderBy(col("event_date").desc, col("event_type"))

  /** Streaming exact dedup of a DOCUMENT stream: first-seen (lang, text)
    * rows via the stateful dropDuplicates store — the text-pipeline twin
    * of the event-side [[dedupDailyUsers]], proving the curation ops run
    * incrementally as documents arrive, not only in batch. Keyed by
    * (lang, text) so the keeper choice is deterministic regardless of
    * file/micro-batch arrival order (a global-keeper policy would depend
    * on which batch a duplicate lands in). At scale the state key should
    * be md5(text), not text — same first-seen semantics, 16-byte state. */
  def dedupDocs(docs: DataFrame): DataFrame =
    docs.select(col("lang"), col("text")).dropDuplicates("lang", "text")

  /** Batch finisher for [[dedupDocs]]: unique docs per language. Null
    * ordering pinned to NULLS LAST — Spark's ascending default is NULLS
    * FIRST while DuckDB's is NULLS LAST, so a null `lang` would otherwise
    * break the row-order hash match without changing the aggregate. */
  def countUniqueDocs(deduped: DataFrame): DataFrame =
    deduped.groupBy("lang").agg(count(lit(1)).as("n_unique"))
      .orderBy(col("lang").asc_nulls_last)

  /** Stream-static enrichment join — the canonical streaming dimension
    * lookup: streamed purchase events joined to the STATIC customer
    * dimension (user_id = c_custkey) and aggregated to revenue per market
    * segment. Stream-static joins are stateless on the stream side (no
    * watermark, no join state): Spark re-plans the static side each
    * micro-batch and, with the explicit broadcast, every batch is a
    * map-side hash join — the dimension table never shuffles the stream.
    * At scale the dimension snapshot is the usual slowly-changing copy;
    * re-planning per batch picks up file-level updates for free. */
  def segmentRevenue(events: DataFrame, customer: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("value"))
      .groupBy("segment")
      .agg(moneySum(col("value")).as("revenue"),
        count(lit(1)).as("n_purchases"))

  /** Stream-stream interval self-join (the hardest reference-relevant
    * streaming operator): views joined to same-user purchases arriving
    * within `windowMinutes` — the streaming twin of
    * [[graft.ops.AsOfJoin.viewToPurchaseWithin]]. Both sides carry
    * watermarks + the time-range condition, so Spark bounds each side's
    * state to the interval plus the watermark delay and evicts beyond it —
    * state stays proportional to the in-flight window at any stream length.
    * Inner joins emit eagerly on match (watermarks govern eviction only). */
  def streamAttributionPairs(events: DataFrame,
      windowMinutes: Int = 30, delay: String = "1 hour"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", delay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", delay)
    views.join(purchases, expr(
      s"""v_user = p_user AND purchase_ts >= view_ts
         |AND purchase_ts <= view_ts + interval $windowMinutes minutes""".stripMargin))
  }

  /** Batch finisher: per-day pair counts over the materialized join. */
  def countAttributionPairs(pairs: DataFrame): DataFrame =
    pairs.groupBy(to_date(col("purchase_ts")).as("event_date"))
      .agg(count(lit(1)).as("attributed_pairs"))
      .orderBy("event_date")

  /** Watermarked stream-stream LEFT OUTER interval join — the streaming
    * negation query ([[streamAttributionPairs]] finds views that converted;
    * this finds views that did NOT): views left-joined to same-user
    * purchases within `windowMinutes`, keeping only the null-extended
    * (unmatched) rows. Outer-join semantics are what make this a genuinely
    * different operator: an unmatched view can only be emitted once the
    * watermark proves no matching purchase can still arrive (view_ts +
    * window + delay below the global watermark), so emission is
    * EVICTION-DRIVEN — the state bound is the same as the inner join's,
    * but correctness now depends on watermark finalization, which is why
    * the checked entry runs under [[runAppendFinalized]] (both sides need
    * a sentinel: the global watermark is the min across the two sides'
    * watermark nodes). A view matched by ≥1 purchase emits only matched
    * rows (filtered here); an abandoned view emits exactly one null row. */
  def streamAbandonedViews(events: DataFrame, windowMinutes: Int = 30,
      delay: String = "0 seconds"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", delay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", delay)
    views.join(purchases, expr(
        s"""v_user = p_user AND purchase_ts >= view_ts
           |AND purchase_ts <= view_ts + interval $windowMinutes minutes"""
          .stripMargin), "left_outer")
      .filter(col("purchase_ts").isNull)
      .select(col("v_user").as("user_id"), col("view_ts"))
  }

  /** Batch finisher for [[streamAbandonedViews]]: per-day abandoned-view
    * counts over the materialized unmatched rows. */
  def countAbandonedViews(unmatched: DataFrame): DataFrame =
    unmatched.groupBy(to_date(col("view_ts")).as("event_date"))
      .agg(count(lit(1)).as("abandoned_views"))
      .orderBy("event_date")

  /** Projects the events table onto [[FunnelState.In]]'s columns. */
  def toConversionInput(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))

  /** Watermarked append-mode windowed revenue — the production-shaped
    * variant (ST6): 1-day tumbling windows finalized once the watermark
    * passes window end + delay; state for closed windows is evicted. Late
    * rows beyond `delay` are dropped — the declared divergence-by-necessity
    * (the reference commits no late-data policy). Exercised by the streaming
    * specs over MemoryStream. */
  def windowedRevenue(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events.filter(col("event_type") === "purchase")
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day"))
      .agg(moneySum(col("value")).as("total_revenue"))
      .select(to_date(col("window.start")).as("event_date"),
        col("total_revenue"))
}
