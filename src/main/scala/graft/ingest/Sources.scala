package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers over the driver testdata layout (`<sfDir>/<table>.parquet`) and
  * the reference's ingest formats (SURVEY.md §2.1).
  *
  * All readers are declarative `spark.read` plans: Catalyst keeps predicate
  * pushdown and column pruning intact all the way to the parquet scan, which
  * is the property that matters at 100 TB (never materialize-then-filter).
  */
object Sources {
  /** One parquet file per table (TESTDATA.md). NTZ-encoded timestamp
    * columns (`l_shipdate`, `o_orderdate`, …) read as plain TIMESTAMP
    * under the timestamp pins [[graft.GraftSession.builder]] sets; the
    * read writes no conf. [[normalizeTimestamps]] is the input-safety cast
    * for sessions built elsewhere, without the pins. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeTimestamps(spark.read.parquet(s"$sfDir/$name.parquet"))

  /** Casts any TIMESTAMP_NTZ column to TIMESTAMP (value-identical under the
    * UTC session timezone): what an unpinned session reads µs/isAdjustedToUTC=0
    * columns as. Returns the frame UNTOUCHED when no NTZ column exists —
    * the pinned path adds no projection over the scan. */
  def normalizeTimestamps(raw: DataFrame): DataFrame = {
    val ntz = raw.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    if (ntz.isEmpty) raw
    else ntz.foldLeft(raw)((df, c) =>
      df.withColumn(c, col(c).cast(TimestampType)))
  }

  /** The events table has carried `ts` as parquet TIMESTAMP(NANOS) (rounds
    * 1-8) and TIMESTAMP(MICROS, isAdjustedToUTC=0) (round 9+ regen) — the
    * encoding may flip again. The session's timestamp pins
    * ([[graft.GraftSession.builder]]) + [[normalizeEvents]] accept all
    * encodings and yield the same µs TimestampType column; on a session
    * without the pins [[normalizeEvents]] alone does. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEvents(table(spark, sfDir, "events"))

  /** `ts` → µs TimestampType from any historical encoding:
    *  - ns-long (nanosAsLong read of TIMESTAMP(NANOS)): integral `div`
    *    1000 — a double detour would lose precision above 2^53 — then
    *    `timestamp_micros`; the same ns→µs truncation DuckDB applies
    *    natively, so oracle parity is exact.
    *  - TIMESTAMP_NTZ (an unpinned read of µs/isAdjustedToUTC=0): cast to
    *    TimestampType, value-identical under the UTC session timezone.
    *  - TimestampType: no-op. */
  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }

  /** CSV-as-strings scan, matching the reference's header-only inference
    * (`reference:airflow_docker/dags/ecomm_pipeline/extractor.py:102`):
    * every column arrives as nullable string and is cast downstream by
    * [[Cleaning.castChain]]. Spark reads `.csv.gz` transparently. */
  def rawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** JSON-Lines scan with an explicit schema — the standard LLM-corpus
    * interchange format (one JSON object per line; `.jsonl.gz` reads
    * transparently). Schema REQUIRED on purpose: inference is a full extra
    * pass over 100 TB and silently widens types; splits parallelize
    * per-line like CSV. */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", graft.sink.Sinks.TsFormat).json(path)

  /** Corrupt-tolerant JSONL scan: PERMISSIVE mode routes unparseable
    * lines into a `_corrupt_record` column instead of nulling the whole
    * batch (DROPMALFORMED silently loses data; FAILFAST kills a 100 TB
    * job for one bad line). Returns `(good, corrupt)` — `good` carries
    * the declared schema with the marker column dropped, `corrupt` the
    * raw offending lines for a dead-letter sink. The file parses ONCE
    * into a materialized frame and both splits filter that frame — the
    * split predicates deliberately do NOT reach the scan, because Spark
    * refuses to filter a fresh scan's `_corrupt_record` directly
    * (AnalysisException by design; the spec pins the trap).
    *
    * Materialization is `localCheckpoint`, not `cache`: the CacheManager
    * holds cached plans strongly for the session's lifetime with no
    * handle here for the caller to release, while checkpoint blocks are
    * freed by the ContextCleaner once the returned frames are garbage
    * collected — repeated ingests don't accumulate pinned storage. */
  def jsonlTolerant(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    val withMarker = spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .localCheckpoint()
    val good = withMarker.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val corrupt = withMarker.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (good, corrupt)
  }

  /** ORC scan — the other columnar warehouse format. Spark's native ORC
    * reader keeps the same pushdown/pruning/vectorization properties as
    * parquet (PushedFilters + ReadSchema reach the stripe reader). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Typed CSV scan pinned to [[graft.sink.Sinks.writeCsvTyped]]'s dialect
    * (header, backslash-escape, multiLine, \N nulls vs "" empties) so
    * write∘read is identity even for text holding commas, quotes,
    * newlines, empty strings and nulls. multiLine costs per-file (not
    * per-line) split parallelism — the price of embedded newlines;
    * prefer JSONL for 100 TB corpora. */
  def csvTyped(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.option("header", "true").option("escape", "\\")
      .option("multiLine", "true")
      .option("nullValue", "\\N").option("emptyValue", "")
      // whitespace preservation pinned on BOTH sides (the writer's
      // univocity defaults TRIM — see Sinks.writeCsvTyped)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("timestampFormat", graft.sink.Sinks.TsFormat)
      .schema(schema).csv(path)

  /** Registers every testdata table as a session temp view plus the
    * reference's landing-view name (`view_kafka_ecommerce_stream` →
    * normalized events; `reference:airflow_docker/dags/utils/
    * snowflake_refresh.py:12`, SURVEY S10) so the whole surface is
    * `spark.sql`-addressable. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => table(spark, sfDir, t).createOrReplaceTempView(t))
    events(spark, sfDir).createOrReplaceTempView("events")
    events(spark, sfDir)
      .createOrReplaceTempView("view_kafka_ecommerce_stream")
  }

  /** Parses the JSON envelope (`kafka_value: string`) back into typed
    * fields — the inverse of [[graft.sink.Sinks.kafkaEnvelope]];
    * stands in for `readStream.format("kafka")` + `from_json`
    * (`reference:README.md:214`; no kafka connector jar ships in this
    * environment, so the envelope codec is exercised over files/memory). */
  def fromKafkaEnvelope(envelope: DataFrame, eventSchema: StructType): DataFrame =
    envelope.select(from_json(col("kafka_value"), eventSchema).as("e"))
      .select("e.*")

  /** Decodes the AVRO envelope (`kafka_value: binary`) back to typed fields
    * — the inverse of [[graft.sink.Sinks.avroEnvelope]] (SURVEY S7); stands
    * in for `from_avro` over the processed topic (the spark-avro connector
    * module is absent from this environment; the wire format is identical). */
  def fromAvroEnvelope(envelope: DataFrame): DataFrame =
    envelope
      .select(graft.ext.AvroEnvelope.decode(col("kafka_value")).as("e"))
      .select("e.*")
}
