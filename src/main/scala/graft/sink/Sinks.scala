package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.{DecimalType, StringType, StructType}

/** Sinks (SURVEY.md §2.1 S4/S5/S7/S8), Spark-first.
  *
  * The reference's Kafka producer collects every row to the driver and loops
  * (`reference:airflow_docker/dags/ecomm_pipeline/producer.py:47-71`) — the
  * one anti-pattern we explicitly do NOT replicate: here serialization is a
  * distributed projection and the write is a distributed sink, so throughput
  * scales with executors instead of the driver NIC.
  *
  * No kafka connector jar ships in this environment, so the Kafka-shaped
  * frame (`key`,`value`) is exercised against file/memory sinks; with
  * spark-sql-kafka on the classpath the same frame feeds
  * `.write.format("kafka")` unchanged.
  */
object Sinks {
  /** Kafka-shaped envelope keyed by user (partitioning parity with
    * `producer.py:60`): deterministic hand-built JSON value. Timestamps ride
    * as epoch micros and money as 2dp decimal text, so the byte-exact
    * envelope is reproducible in any engine (doubles never stringify). */
  def kafkaEnvelope(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      col("user_id").cast(StringType).as("kafka_key"),
      concat(
        lit("{\"event_id\":"), col("event_id").cast(StringType),
        lit(",\"ts_us\":"), unix_micros(col("ts")).cast(StringType),
        lit(",\"event_type\":\""), col("event_type"),
        lit("\",\"price\":"), col("value").cast(DecimalType(18, 2)).cast(StringType),
        lit("}")).as("kafka_value"))
      .orderBy("event_id")

  /** AVRO envelope for the aggregated/processed topic (SURVEY S7; the
    * reference's PROCESSED topic is AVRO, `reference:README.md:39,216`):
    * Kafka-shaped (key, binary value) frame with the value in real Avro
    * binary wire format via [[graft.ext.AvroEnvelope]]. Byte-deterministic:
    * timestamps ride as epoch micros, no doubles are stringified. */
  def avroEnvelope(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      col("user_id").cast(StringType).as("kafka_key"),
      graft.ext.AvroEnvelope.encode(
        col("event_id"), unix_micros(col("ts")), col("user_id"),
        col("event_type"), col("value")).as("kafka_value"))

  /** Timestamp render/parse format pinned on BOTH sides of the text
    * dialects (JSONL + typed CSV): Spark's default carries only millis,
    * which silently truncates µs event times through a write∘read cycle.
    * Six fraction digits + a real zone offset (`XXX` renders `Z` under the
    * UTC session) make the round-trip exact at µs precision — hash-gated
    * by `q_events_roundtrip`. */
  val TsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** JSON-Lines sink — the LLM-corpus interchange format
    * ([[graft.ingest.Sources.jsonl]] reads it back): one JSON object per
    * line, full escaping handled by the writer (newlines/quotes/unicode in
    * text survive the round-trip byte-exactly — hash-gated by
    * `q_jsonl_roundtrip`). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("timestampFormat", Sinks.TsFormat).json(path)

  /** ORC sink (see [[graft.ingest.Sources.orc]]). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** CSV sink whose dialect [[graft.ingest.Sources.csvTyped]] pins on the
    * read side: header + backslash escape (Spark's writer default quotes
    * fields containing delimiters/quotes/newlines), with null rendered as
    * an UNQUOTED \N and the empty string as a QUOTED "" so the two stay
    * distinguishable through the round-trip (CSV's classic lossy corner).
    * Whitespace preservation is pinned EXPLICITLY: the univocity WRITER
    * trims leading/trailing whitespace by default (the fuzz sweep caught
    * ' extra' round-tripping as 'extra'), which silently corrupts text
    * payloads — both ignore*WhiteSpace options are forced off on write
    * and read. */
  def writeCsvTyped(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true").option("escape", "\\")
      .option("nullValue", "\\N").option("emptyValue", "\"\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("timestampFormat", Sinks.TsFormat)
      .csv(path)

  /** Date-partitioned parquet layer (the Snowflake "partitioned by event
    * timestamps" layout, `reference:README.md:40`): downstream day-range
    * predicates prune whole directories (`PruneFileSourcePartitions`). */
  def writeDatePartitioned(events: DataFrame, path: String): Unit =
    events.withColumn("event_date", to_date(col("ts")))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .parquet(path)

  /** TRUNCATE+INSERT full-refresh semantics of the reference's reporting
    * layer (`snowflake_refresh.py:7-8`). */
  def overwrite(result: DataFrame, path: String): Unit =
    result.write.mode(SaveMode.Overwrite).parquet(path)

  /** STORED-AGGREGATE sinks: per-day HLL user sketches persisted as an
    * (event_date, sk binary) parquet table — the layout that lets any
    * rolling distinct-user window be computed from kilobytes of stored
    * sketches ([[graft.ops.EventQueries.rollingFromSketches]]) instead of
    * re-scanning raw events: each day's events are scanned once, ever.
    * Mergeability is the whole point — day sketches union into weeks /
    * months / arbitrary windows with no loss beyond the base HLL error. */
  def writeDailySketches(events: DataFrame, path: String): Unit =
    events.groupBy(to_date(col("ts")).as("event_date"))
      .agg(org.apache.spark.sql.functions.hll_sketch_agg(col("user_id"))
        .as("sk"))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Streaming warehouse layering (`reference:README.md:36-40,162-176`,
    * ST7): per micro-batch, land the raw events into the date-partitioned
    * RAW layer and refresh a REPORTING aggregate — the
    * Kafka→Snowflake-connector→RAW + reporting pattern, expressed as one
    * foreachBatch sink (the batch body is [[warehouseBatch]], whose
    * batch-replay idempotence makes restart-from-checkpoint
    * exactly-once-observable — both spec-proven in WarehouseSpec). Returns
    * the handle; callers own `processAllAvailable`/`stop`.
    *
    * Refresh is PARTITION-SCOPED by default (`incremental = true`): only the
    * `event_date` partitions present in the micro-batch are recomputed —
    * the RAW read prunes to those day directories
    * (`PruneFileSourcePartitions`) and the REPORTING write uses dynamic
    * partition overwrite, so per-batch cost is O(affected days), constant as
    * history accumulates. This is the Spark-native twin of the reference's
    * continuously-maintained PROCESSED layer (`reference:README.md:39,47`);
    * re-reading all of RAW each batch (the TRUNCATE+INSERT literalism) grows
    * without bound and is kept only as the `incremental = false` fallback
    * for reporting aggregates that are NOT per-day decomposable.
    *
    * Incremental contract: `reporting` must key its output by an
    * `event_date` column derived from the input rows' `ts` (any per-day
    * group-by qualifies, e.g. [[graft.ops.EventQueries.dailyRevenue]]) —
    * validated eagerly against an empty frame before the stream starts, so
    * a non-conforming aggregate fails at call time with a clear message,
    * not mid-stream inside `foreachBatch`. Both modes write day-keyed
    * REPORTING output date-partitioned, so toggling `incremental` never
    * mixes layouts under `reportingPath`; note the partitioned read-back
    * surfaces `event_date` as the LAST column — select by name, not
    * position. The days an incremental batch refreshes come from listing
    * the RAW partitions it committed (no Spark job) — bounded by the
    * batch's event-time span, never by volume.
    *
    * `trigger = None` runs micro-batches as fast as they arrive (the
    * processAllAvailable test shape); production passes
    * `Some(Trigger.ProcessingTime("5 minutes"))` for the reference's
    * freshness SLO (`reference:README.md:51`, ST5). */
  // schema-only dry run over an empty frame with EXACTLY the runtime
  // shape: the foreachBatch branches call reporting() on frames whose
  // event_date column has been dropped (the RAW read-back minus the
  // partition column ≡ events.schema), so the probe must not add one —
  // a reporting fn leaning on a pre-stamped event_date would otherwise
  // pass here and then throw mid-stream (after side effects). Shared by
  // the checked and unchecked stream starters so the fail-fast contract
  // cannot drift between them.
  private def requireIncrementalContract(events: DataFrame,
      reporting: DataFrame => DataFrame): Unit = {
    val probe = events.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), events.schema)
    require(reporting(probe).columns.contains("event_date"),
      "incremental streamToWarehouse requires the reporting aggregate to " +
        "key its output by an 'event_date' column (group by " +
        "to_date(col(\"ts\"))); pass incremental = false for aggregates " +
        "that are not per-day decomposable")
  }

  // lineage salt: batchIds are CHECKPOINT-scoped, so two pipelines (or a
  // backfill with a fresh checkpoint) sharing one rawPath would both
  // count 0,1,2… and the dynamic overwrite would delete each other's
  // partitions. The salt hashes the CANONICALIZED checkpoint path —
  // Spark resolves './ck' and '/abs/ck' to the same checkpoint state,
  // so a respelled path on restart must keep the same salt or a
  // replayed batch would land beside (not over) its torn attempt. The
  // salt covers SEQUENTIAL sharing (a later backfill); two writers
  // committing to one rawPath CONCURRENTLY still collide in the shared
  // _temporary staging tree — run those against distinct rawPaths.
  // ONE starter for both warehouse stream variants: salt derivation,
  // writer setup and start() live here exactly once.
  private def startSalted(events: DataFrame, checkpoint: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger])
      (body: (DataFrame, Long, String) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val lineage = graft.Fs.md5Hex8(java.nio.file.Paths.get(checkpoint)
      .toAbsolutePath.normalize.toString)
    val writer = events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
    trigger.foreach(writer.trigger)
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId, lineage)
      }
      .start()
  }

  def streamToWarehouse(events: DataFrame, rawPath: String,
      reportingPath: String, checkpoint: String,
      reporting: DataFrame => DataFrame,
      incremental: Boolean = true,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      quarantinePath: String = null,
      rules: Seq[(String, org.apache.spark.sql.Column)] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    if (incremental) requireIncrementalContract(events, reporting)
    startSalted(events, checkpoint, trigger) { (batch, batchId, lineage) =>
      warehouseBatch(batch, batchId, rawPath, reportingPath, reporting,
        incremental, lineage, quarantinePath, rules)
    }
  }

  /** The per-micro-batch body of [[streamToWarehouse]], public so the
    * replay contract is directly testable: re-running a batchId is
    * IDEMPOTENT end to end, which is what turns foreachBatch's native
    * at-least-once into exactly-once-observable across crash/restart.
    *
    *  - RAW: each batch lands under `event_date=D/ingest_batch=B`
    *    partitions via DYNAMIC partition overwrite — a replayed batch
    *    REPLACES exactly its own (day, batch) directories (including a
    *    crashed attempt's partial files) instead of appending duplicates.
    *    Day-predicate pruning is untouched (`event_date` stays the leading
    *    partition level); readers that reassemble events drop both
    *    partition columns.
    *  - REPORTING: recomputed FROM RAW (never from the in-flight batch) and
    *    day-overwritten, so it converges to a pure function of RAW no
    *    matter how many times a batch replays. The affected days are the
    *    `event_date=D/ingest_batch=<batchKey>` dirs the RAW write just
    *    committed (a driver listing, no distinct job), and only those day
    *    dirs are read back, with the batch's own data schema and the
    *    partition columns inferred from the paths (no schema-inference
    *    job).
    *
    * Per-batch cost: the RAW write (one job) plus the REPORTING refresh
    * (its query's jobs), and driver work that does not grow with the
    * table — the output file cap's footer sample re-reads only footers
    * that are new since the last batch
    * ([[graft.ingest.Sources.observedRowWidth]]). */
  def warehouseBatch(batch: DataFrame, batchId: Long, rawPath: String,
      reportingPath: String, reporting: DataFrame => DataFrame,
      incremental: Boolean = true, lineage: String = "",
      quarantinePath: String = null,
      rules: Seq[(String, org.apache.spark.sql.Column)] = Nil): Unit = {
    val spark = batch.sparkSession
    val batchKey = batchKeyOf(batchId, lineage)
    val valid = quarantineSplit(batch, batchKey, quarantinePath, rules)
    // output file sizing from METERED input bytes (r17 verdict #7): the
    // per-file record cap derives from the raw table's own observed
    // on-disk row width (footer rows ÷ bytes, bounded sample), so at
    // 100 TB a huge batch splits into ~128 MB files instead of one file
    // per (task, day); 0 before the first batch lands = Spark's "no
    // cap", and small local batches never reach the cap — the bench's
    // behavior is unchanged at test SF.
    writeBatchPartitions(valid, batchKey, rawPath,
      derivedMaxRecordsPerFile(spark, rawPath))
    // read-backs carry the batch's own data schema (no inference job);
    // the partition columns are still inferred from the paths
    val dataSchema = StructType(valid.schema.filterNot(f =>
      f.name == "event_date" || f.name == "ingest_batch"))
    def readRaw(dirs: Seq[String]): DataFrame =
      spark.read.schema(dataSchema).option("basePath", rawPath)
        .parquet(dirs: _*).drop("event_date", "ingest_batch")
    if (incremental) {
      val days = committedDays(rawPath, batchKey)
      if (days.nonEmpty)
        reporting(readRaw(days))
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("event_date")
          .parquet(reportingPath)
    } else {
      val full = reporting(readRaw(Seq(rawPath)))
      // keep the on-disk layout identical to incremental mode for
      // day-keyed aggregates, so toggling modes never mixes layouts
      val w = full.write.mode(SaveMode.Overwrite)
      if (full.columns.contains("event_date"))
        w.partitionBy("event_date").parquet(reportingPath)
      else w.parquet(reportingPath)
    }
  }

  /** The `ingest_batch` value of one micro-batch: replay of (lineage,
    * batchId) replaces exactly its own partitions, and distinct lineages
    * (distinct checkpoints on a shared rawPath) never collide — see
    * [[streamToWarehouse]]'s salt derivation. */
  private def batchKeyOf(batchId: Long, lineage: String): String =
    if (lineage.isEmpty) batchId.toString else s"$lineage-$batchId"

  /** Writes `rows` under `path` in the batch layout every warehouse layer
    * shares (RAW, quarantine, rejected): stamped with `event_date` (from
    * `ts`) and `ingest_batch = batchKey`, partitioned by both, by DYNAMIC
    * overwrite, so a replayed batch replaces exactly its own (day, batch)
    * directories. `maxRecordsPerFile` 0 is Spark's "no cap". */
  private def writeBatchPartitions(rows: DataFrame, batchKey: String,
      path: String, maxRecordsPerFile: Long): Unit =
    rows.withColumn("event_date", to_date(col("ts")))
      .withColumn("ingest_batch", lit(batchKey))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .partitionBy("event_date", "ingest_batch").parquet(path)

  /** DEAD-LETTER layer: rule-failing rows of `batch` land under
    * `quarantinePath` in the batch layout ([[writeBatchPartitions]]), so
    * the replay-idempotence argument covers the quarantine verbatim
    * (rules are deterministic → a replayed batch re-derives the same
    * split and replaces exactly its own partitions). Returns the VALID
    * half, the only rows RAW and reporting see — the dashboard never
    * averages a rule violation, and the dead letter is replayable for
    * forensics. No rules or no path: `batch` unchanged. */
  private def quarantineSplit(batch: DataFrame, batchKey: String,
      quarantinePath: String,
      rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    if (rules.isEmpty || quarantinePath == null) batch
    else {
      val (ok, bad) = graft.ingest.Cleaning.splitQuarantine(batch, rules)
      writeBatchPartitions(bad, batchKey, quarantinePath, 0L)
      ok
    }

  /** The `event_date=D` dirs of `rawPath` that hold an
    * `ingest_batch=<batchKey>` partition: the days the batch's RAW write
    * committed, taken from a driver listing instead of a distinct job
    * over the batch. A torn earlier attempt of the same key can only add
    * days whose RAW it changed, so refreshing them is still exact. The
    * null-date partition (NULL `ts`) is skipped: the incremental refresh
    * publishes real days only. */
  private def committedDays(rawPath: String, batchKey: String): Seq[String] = {
    val part = batchPartition(batchKey)
    graft.Fs.list(java.nio.file.Paths.get(rawPath)).filter { d =>
      val n = d.getFileName.toString
      n.startsWith("event_date=") &&
        n != s"event_date=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}" &&
        java.nio.file.Files.isDirectory(d.resolve(part))
    }.map(_.toString).sorted
  }

  /** Directory name of a batch's `ingest_batch` partition, escaped the
    * way Spark's writer escapes partition values. */
  private def batchPartition(batchKey: String): String =
    s"ingest_batch=${ExternalCatalogUtils.escapePathName(batchKey)}"

  /** Size-targeted shard writer — the corpus-export discipline: training
    * pipelines want shards near a target size (too many tiny files choke
    * listings and schedulers; one giant file serializes downstream reads).
    * Shard count = ceil(estimated bytes / target), with the estimate from
    * the optimized plan's `stats.sizeInBytes` — Catalyst's own cost-model
    * input (exact file bytes for a plain scan, heuristic after wide
    * transforms). Returns the TARGET shard count; a partition that ends up
    * empty (the estimate over-counted rows) writes no part file, so count
    * the directory if a manifest needs the actual number.
    *
    * The layout is one unconditional `repartition(n)` — deliberately NOT
    * a peek-then-coalesce: reading the current partition count off the
    * frame (`df.rdd`) finalizes the adaptive plan, which EXECUTES every
    * upstream shuffle stage once for the peek and again for the write.
    * One round-robin shuffle of the export is the cheap side of that
    * trade. For append-only incremental exports prefer
    * `spark.sql.files.maxRecordsPerFile` per batch instead of a global
    * re-layout. */
  def writeSizedShards(df: DataFrame, path: String,
      targetBytes: Long = 256L << 20): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val estimated = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((estimated + targetBytes - 1) / targetBytes)
      .min(BigInt(Int.MaxValue)).max(1).toInt
    df.repartition(n).write.mode(SaveMode.Overwrite).parquet(path)
    n
  }


  /** Batch-level validation gate in front of [[warehouseBatch]] — the
    * Deequ-discipline "verify before you publish": run a constraint suite
    * (e.g. [[graft.ops.Checks.dataChecks]], any fn emitting a `passed`
    * boolean column) against the micro-batch, persist the report, and
    * route the WHOLE batch — RAW, reporting refresh and all — only if
    * every constraint holds. A failing batch lands intact under
    * `rejectedPath` (same `(event_date, ingest_batch)` dynamic-overwrite
    * layout) for forensics/replay and leaves RAW and REPORTING at their
    * last good state — an aggregate-level breach (duplicate event_ids,
    * collapsed domain) is invisible to the per-row dead-letter rules and
    * must hold the refresh, not flow through it.
    *
    * Idempotence inherits from the layout: the report overwrites its own
    * `ingest_batch=` partition, a replayed rejected batch replaces its own
    * rejected partitions, and a replayed good batch re-enters
    * [[warehouseBatch]]'s replay contract. The report is collected once —
    * bounded by the CONSTRAINT count (one row each), never data volume —
    * and both its write and the gate decision read those driver-side
    * rows, so the gate costs the suite's own jobs plus one small write.
    * A published batch therefore runs about nine jobs at test scale:
    * suite, report write, RAW write and the REPORTING refresh (the
    * `WarehouseSpec` job budget pins the count).
    *
    * LAYER ORDER is load-bearing: the per-row dead-letter split
    * (`quarantinePath`/`rules`) runs FIRST, so the constraint suite judges
    * the rows that would actually publish — otherwise any 1.0-threshold
    * completeness constraint would wholesale-reject every batch containing
    * a single quarantinable row and the row-level layer could never fire.
    * A rejected batch therefore parks only its VALID half under
    * `rejectedPath` (its rule-failing rows are already in quarantine,
    * exactly where a replay re-derives them). The gate FAILS CLOSED on a
    * NULL `passed` value: a constraint that never evaluated blocks
    * publication rather than waving the batch through. Streams should
    * wire through [[streamToWarehouseChecked]], which derives the
    * checkpoint lineage salt — calling this directly from foreachBatch
    * with the default empty lineage re-opens the cross-checkpoint
    * ingest_batch collision the salt exists to prevent. */
  def warehouseBatchChecked(batch: DataFrame, batchId: Long,
      rawPath: String, reportingPath: String,
      reporting: DataFrame => DataFrame,
      checks: DataFrame => DataFrame, checksPath: String,
      rejectedPath: String, incremental: Boolean = true,
      lineage: String = "", quarantinePath: String = null,
      rules: Seq[(String, org.apache.spark.sql.Column)] = Nil): Unit = {
    val batchKey = batchKeyOf(batchId, lineage)
    // per-row dead-letter FIRST (see layer-order note above); the valid
    // half proceeds to the batch-level gate with rules already consumed
    val valid = quarantineSplit(batch, batchKey, quarantinePath, rules)
    import scala.jdk.CollectionConverters._
    // the report is collected ONCE (one row per constraint); the write
    // and the gate decision both read the driver-side rows
    val report = checks(valid)
    val rows = report.collect()
    batch.sparkSession.createDataFrame(rows.toSeq.asJava, report.schema)
      .coalesce(1).withColumn("ingest_batch", lit(batchKey))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(checksPath)
    // fail closed: NULL passed (a constraint that never evaluated)
    // blocks publication
    val passed = report.schema.fieldIndex("passed")
    val allPassed = rows.forall(r => !r.isNullAt(passed) && r.getBoolean(passed))
    if (allPassed) {
      warehouseBatch(valid, batchId, rawPath, reportingPath, reporting,
        incremental, lineage)
      // a replayed batch that FAILED the gate before (e.g. after a check-
      // suite fix) and now passes must not leave its stale rejected copy
      // behind — forensics would show a "rejected" twin of a published
      // batch. Same idempotence discipline as the dynamic overwrite: the
      // batchKey owns its partitions in EVERY layer it ever touched.
      dropBatchPartitions(rejectedPath, batchKey)
    } else writeBatchPartitions(valid, batchKey, rejectedPath, 0L)
  }

  /** Deletes the `ingest_batch=<batchKey>` partition dir under every
    * `event_date=` dir of `root` — the replay-cleanup half of the dynamic-overwrite
    * idempotence contract for layers the current attempt did NOT write
    * (an overwrite only replaces partitions it produces rows for). */
  private def dropBatchPartitions(root: String, batchKey: String): Unit = {
    val rootPath = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.isDirectory(rootPath))
      graft.Fs.list(rootPath).foreach { day =>
        val part = day.resolve(batchPartition(batchKey))
        if (java.nio.file.Files.isDirectory(part)) {
          graft.Fs.deleteRecursively(part)
          // prune a day dir this was the last batch of — an empty
          // partition dir would poison later schema inference
          if (graft.Fs.list(day).isEmpty) java.nio.file.Files.delete(day)
        }
      }
  }

  /** [[streamToWarehouse]] with the [[warehouseBatchChecked]] batch-level
    * gate in front of every micro-batch. Shares the unchecked variant's
    * stream starter (lineage salt, writer setup) and incremental
    * fail-fast probe, so the two pipelines cannot drift. */
  def streamToWarehouseChecked(events: DataFrame, rawPath: String,
      reportingPath: String, checkpoint: String,
      reporting: DataFrame => DataFrame,
      checks: DataFrame => DataFrame, checksPath: String,
      rejectedPath: String, incremental: Boolean = true,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      quarantinePath: String = null,
      rules: Seq[(String, org.apache.spark.sql.Column)] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    if (incremental) requireIncrementalContract(events, reporting)
    startSalted(events, checkpoint, trigger) { (batch, batchId, lineage) =>
      warehouseBatchChecked(batch, batchId, rawPath, reportingPath,
        reporting, checks, checksPath, rejectedPath, incremental,
        lineage, quarantinePath, rules)
    }
  }

  /** Suffixes of [[rewrite]]'s two sibling dirs: the fresh copy is written
    * to `<target>.swap-tmp`, and a swap parks the dir it replaces at
    * `<dir>.swap-old` until the fresh copy is live. */
  private[graft] val TmpSuffix = ".swap-tmp"
  private[graft] val BackupSuffix = ".swap-old"

  /** Heals the leftovers of a crashed [[rewrite]] at `path` and at every
    * `k=v` dir below it: a backup whose dir is missing is moved back (the
    * crash hit between a swap's two renames), a backup beside a live dir is
    * deleted (the crash hit after the fresh copy went live), and a tmp is
    * deleted (its copy never went live; the caller redoes it). MUST run
    * before any read of the target: partition inference would parse a
    * leftover `k=v.swap-old` as the bogus value `v.swap-old` while the real
    * partition's rows are missing. [[rewrite]] runs it first. */
  def recoverSwap(path: String): Unit = {
    import java.nio.file.{Files, Path, StandardCopyOption}
    def walk(p: Path): Unit = {
      val backup = suffixed(p, BackupSuffix)
      if (Files.exists(backup))
        if (Files.exists(p)) graft.Fs.deleteRecursively(backup)
        else Files.move(backup, p, StandardCopyOption.ATOMIC_MOVE)
      graft.Fs.deleteRecursively(suffixed(p, TmpSuffix))
      if (Files.isDirectory(p))
        graft.Fs.list(p).map(_.getFileName.toString
            .stripSuffix(BackupSuffix).stripSuffix(TmpSuffix))
          .filter(_.contains("=")).distinct.foreach(n => walk(p.resolve(n)))
    }
    walk(java.nio.file.Paths.get(path))
  }

  /** The one replace-in-place rewrite behind every maintenance sink
    * ([[MaterializedView]]'s merge, [[upsertParquetPartitioned]],
    * [[eraseKeysPartitioned]], [[compact]]): plain parquet has no ACID
    * commit, so renames stand in for one. [[recoverSwap]] heals `path`
    * first; then `write` writes the fresh copy under the tmp dir it is
    * given and lists the dirs to swap in, as paths relative to the target
    * and the tmp: `""` for the whole target, `k=v` (or deeper) for a child.
    * A listed dir the write did not produce is deleted; dirs not listed
    * keep their files and mtimes; `Nil` swaps nothing. Each swap moves the
    * old dir to its backup, moves the fresh copy in, then deletes the
    * backup, so the old data is never the sole deleted copy.
    *
    * Crash windows, each healed by the next call's [[recoverSwap]]:
    *  1. during `write`: the target is untouched and the tmp is deleted;
    *  2. between a swap's two renames: the dir lives only as its backup,
    *     which is moved back;
    *  3. after a swap, before its backup is deleted: the stale backup is
    *     deleted;
    *  4. between two children's swaps: the listed children are part new,
    *     part old; every caller is idempotent, so re-running the call
    *     converges (a whole-target swap, the MV's, has no such window). */
  private[sink] def rewrite(path: String)(
      write: String => Seq[String]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    recoverSwap(path)
    val target = Paths.get(path)
    val tmp = suffixed(target, TmpSuffix)
    write(tmp.toString).foreach { c =>
      val (dst, fresh) = (target.resolve(c), tmp.resolve(c))
      val backup = suffixed(dst, BackupSuffix)
      if (Files.exists(dst))
        Files.move(dst, backup, StandardCopyOption.ATOMIC_MOVE)
      if (Files.isDirectory(fresh))
        Files.move(fresh, dst, StandardCopyOption.ATOMIC_MOVE)
      graft.Fs.deleteRecursively(backup)
    }
    graft.Fs.deleteRecursively(tmp)
  }

  private def suffixed(p: java.nio.file.Path, suffix: String) =
    p.resolveSibling(p.getFileName.toString + suffix)

  /** Partition-scoped upsert (CDC-style MERGE INTO without a table format)
    * into a target partitioned by `partitionCol` (the
    * [[writeDatePartitioned]] layout): in each partition that carries an
    * updated key, keep the target rows whose key has no update
    * (anti-join) and union the updates. Only those partition dirs are
    * rewritten ([[rewrite]]), so per-call cost is O(affected partitions)
    * and stays constant as history accumulates; untouched partition dirs
    * keep their files byte-for-byte (asserted in WarehouseSpec). The first
    * call creates the target.
    *
    * Contract: `updates` carries `partitionCol` (same type as the target's
    * inferred partition column), and keys are PARTITION-STABLE — a key's
    * partition value never changes across versions (e.g. a date derived
    * from the row's immutable event time). A key that migrated partitions
    * would leave its old row alive in an unaffected directory; detecting
    * that requires the full-target pass this function exists to avoid. */
  def upsertParquetPartitioned(updates: DataFrame, path: String,
      keyCols: Seq[String], partitionCol: String): Unit = {
    require(updates.columns.contains(partitionCol),
      s"updates must carry the partition column '$partitionCol'")
    rewrite(path) { tmp =>
      def writeTmp(rows: DataFrame): Unit =
        rows.write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
          .parquet(tmp)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
        writeTmp(updates)
        Seq("")
      } else {
        // affected partition values: bounded by the update batch's span,
        // never by target history
        val affected = updates.select(partitionCol).distinct().collect()
          .map(_.get(0)).toIndexedSeq
        if (affected.isEmpty) Nil
        else {
          writeTmp(graft.ingest.Sources.parquet(updates.sparkSession, path)
            .filter(col(partitionCol).isin(affected: _*))
            .join(updates.select(keyCols.map(col): _*), keyCols, "left_anti")
            .unionByName(updates))
          // swap exactly the partition dirs the merged write produced;
          // Spark formatted the k=v names, so they match the target's
          graft.Fs.list(java.nio.file.Paths.get(tmp))
            .map(_.getFileName.toString)
            .filter(_.startsWith(partitionCol + "="))
        }
      }
    }
  }

  /** Keyed erasure with partition-pruned rewrite — the right-to-be-forgotten
    * primitive: delete every row of `keys` from a target partitioned by
    * `partitionCol`, rewriting ONLY the partition directories those keys can
    * live in (`partitionOf` maps a key to its partition value — e.g. the
    * same `pmod(user_id, buckets)` that laid the table out). Per-call cost
    * is O(affected partitions), never O(table): at 100 TB an erasure batch
    * of a few hundred users touches a few hundred bucket directories and
    * the other ~all of the table keeps its files byte-for-byte (asserted in
    * MaintenanceSpec). A partition whose rows are ALL erased is deleted
    * outright: the merged write produces no directory for it, and
    * [[rewrite]] deletes a listed child the write did not produce.
    *
    * NULL keys are KEPT: a row with no key cannot match an erasure request
    * (`!coalesce(isin, false)` — the fail-closed gate discipline, inverted:
    * here the non-evaluating row must NOT be silently erased). `keys` ships
    * in the task binary, so it is for bounded request batches (GDPR-sized,
    * ≤ ~1e5); corpus-sized erasure lists belong in an anti-join rewrite. */
  def eraseKeysPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, keyCol: String, keys: Seq[Long], partitionCol: String,
      partitionOf: Long => Long): Unit = {
    if (keys.isEmpty) return
    require(keys.size <= 100000,
      s"${keys.size} erasure keys: driver-side key lists are for bounded " +
        "request batches; use an anti-join rewrite for corpus-sized lists")
    rewrite(path) { tmp =>
      require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path)),
        s"erasure target missing: $path")
      val affected = keys.map(partitionOf).distinct.sorted
      graft.ingest.Sources.parquet(spark, path)
        .filter(col(partitionCol).isin(affected.map(_.asInstanceOf[Any]): _*))
        .filter(!coalesce(col(keyCol).isin(keys: _*), lit(false)))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCol).parquet(tmp)
      affected.map(v => s"$partitionCol=$v")
    }
  }

  /** Small-file compaction: rewrite each LEAF dir of a parquet path (a
    * `k=v` dir with no `k=v` children; a path with none is its own single
    * leaf) into files of ~`targetBytes` each. Streaming appends and
    * per-batch writes accumulate tiny files whose per-file open/footer cost
    * eventually dominates scans — the standard operational chore at
    * 100 TB. File count follows the leaf's CURRENT on-disk size, and a leaf
    * already at its target file count is SKIPPED untouched (files and
    * mtimes unchanged — asserted in WarehouseSpec), so re-running after a
    * streaming append only pays for the leaves that fragmented. Each
    * rewrite shuffle is bounded by one leaf's volume, not the table's.
    *
    * Hive-partitioned layouts are PRESERVED: a leaf holds plain parquet
    * files (partition values live in the dir names), so its rewrite needs
    * no partitionBy and cannot flatten the layout. Flattening would be a
    * correctness hazard — a later dynamic-partition-overwrite refresh only
    * replaces matching partition directories, so rows baked into flat
    * files would survive as duplicates. The rewritten leaves swap in
    * through [[rewrite]]. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long = 128L << 20): Unit =
    rewrite(path) { tmp =>
      import java.nio.file.{Files, Path, Paths}
      val root = Paths.get(path)
      def leaves(p: Path): List[Path] = {
        val kv = graft.Fs.list(p).filter(c =>
          Files.isDirectory(c) && c.getFileName.toString.contains("="))
        if (kv.isEmpty) List(p) else kv.flatMap(leaves)
      }
      leaves(root).flatMap { d =>
        val files =
          graft.Fs.list(d).filter(_.getFileName.toString.endsWith(".parquet"))
        val want = math.max(1L,
          (files.map(Files.size(_)).sum + targetBytes - 1) / targetBytes).toInt
        if (files.length <= want) None
        else {
          val leaf = root.relativize(d).toString
          graft.ingest.Sources.parquet(spark, d.toString).repartition(want)
            .write.mode(SaveMode.Overwrite)
            .parquet(Paths.get(tmp).resolve(leaf).toString)
          Some(leaf)
        }
      }
    }

  /** [[graft.ingest.Sources.observedRowWidth]], under the name
    * `WarehouseSpec`'s cold-computation check calls. */
  def observedRowWidth(spark: org.apache.spark.sql.SparkSession,
      path: String, sampleFiles: Int): Option[(Long, Long)] =
    graft.ingest.Sources.observedRowWidth(spark, path, sampleFiles)

  /** [[graft.Tuning.maxRecordsPerFile]] over
    * [[graft.ingest.Sources.observedRowWidth]] of an existing parquet
    * path: the per-write file-size cap the warehouse writers apply,
    * derived from what the SAME table's data actually compresses to. 0
    * (no cap) until the first batch lands. */
  def derivedMaxRecordsPerFile(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFileBytes: Long = 128L << 20): Long =
    graft.ingest.Sources.observedRowWidth(spark, path) match {
      case Some((bytes, rows)) =>
        graft.Tuning.maxRecordsPerFile(bytes, rows, targetFileBytes)
      case None => 0L
    }

  /** Range-partitioned, internally sorted layout: `repartitionByRange` +
    * `sortWithinPartitions` writes files with DISJOINT key ranges, each
    * internally ordered — so parquet footer min/max stats let a range scan
    * skip whole files and row groups (the poor-man's clustering a 100 TB
    * time-series or id-ordered corpus wants; the same idea as Z-order for
    * one key). Sampling picks balanced boundaries, so file sizes track data
    * volume even under key skew. */
  def writeRangeLayout(df: DataFrame, path: String, partitions: Int,
      cols: String*): Unit =
    df.repartitionByRange(partitions, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Bit-interleaved Z-ORDER key of two non-negative long columns: bit i
    * of `a` lands at position 2i, bit i of `b` at 2i+1 (`bits` low bits
    * each, 2·bits total). Locality in EITHER input maps to locality in the
    * key, which is the property [[writeZOrdered]] exploits. Generated as a
    * fold of shift/mask built-ins — one codegen'd projection, no UDF. */
  def zorderKey(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, bits: Int = 21)
      : org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(1L), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(1L), 2 * i + 1))
    }.reduce((x, y) => x.bitwiseOR(y))
  }

  /** Z-ordered layout over TWO dimensions — the multi-column sibling of
    * [[writeRangeLayout]]: range-partition + sort by the interleaved
    * [[zorderKey]], so each file (and row group) covers a small rectangle
    * in (a, b) space and parquet min/max stats let a pushed predicate on
    * EITHER column skip most row groups. A single-key sort gives perfect
    * skipping on that key and none on the other; Z-order trades a little
    * of the first for a lot of the second — the standard lakehouse layout
    * for a 100 TB table queried by two independent keys (e.g. user and
    * day). Inputs must be non-negative and fit in `bits` bits — ENFORCED
    * in the key projection itself (`raise_error` on the first violating
    * row, same single codegen'd pass): a negative or overflowing key would
    * silently interleave garbage and destroy exactly the clustering this
    * layout exists for, with results still "correct" and nobody noticing
    * until the skipping stops working. The key is layout-only and not
    * written. */
  def writeZOrdered(df: DataFrame, path: String, partitions: Int,
      colA: String, colB: String, bits: Int = 21): Unit = {
    val bound = 1L << bits
    def checked(name: String) = {
      val c = col(name).cast("long")
      when(c.isNull || c < 0L || c >= bound,
        raise_error(concat(
          lit(s"writeZOrdered: $name out of [0, $bound): "),
          coalesce(col(name).cast("string"), lit("null")))).cast("long"))
        .otherwise(c)
    }
    df.withColumn("_zkey", zorderKey(checked(colA), checked(colB), bits))
      .repartitionByRange(partitions, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Bucketed + sorted table: two tables bucketed on the same key join
    * co-located — no Exchange on either side — which is the pre-partitioning
    * strategy for repeated fact-fact joins at 100 TB (pay the shuffle once
    * at write time, never again). Pass `path` to pin the data location
    * outside the session warehouse dir (external table); bucketing info
    * lives in the catalog either way and `spark.table` restores the
    * output partitioning. Bucket pruning applies too: an equality
    * predicate on the bucket key scans 1/`buckets` of the files.
    * Exchange-free plan + result parity are spec-asserted
    * (RelationalAndSinksSpec, WarehouseSpec). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, path: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }
}
