package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge

/** The one owner of session conf: the conf every engine main and the test
  * suite run under, and the per-query sessions that carry a query's own
  * settings. Query code never writes conf on the session it was given. */
object GraftSession {

  /** `local[cpus]` with one shuffle partition per core, the engine's
    * extensions, UTC session time and both parquet timestamp pins, so
    * every historical testdata encoding lands as µs TimestampType (LTZ):
    *  - TIMESTAMP(NANOS) → LongType via `nanosAsLong` (Spark 4 cannot read
    *    nanos natively); [[graft.ingest.Sources.normalizeEvents]] finishes
    *    the ns→µs conversion.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TimestampType directly,
    *    by DISABLING NTZ inference. With inference on (the Spark 3.4+
    *    default) these columns arrive as TIMESTAMP_NTZ, which rejects
    *    `unix_micros` and `withWatermark` outright. Under the project's
    *    UTC session timezone the LTZ reading is value-identical, and doing
    *    it at the scan (not via a cast projection) keeps parquet filter
    *    pushdown on timestamp columns intact.
    * Callers chain their own app name, warehouse dir etc. before
    * `getOrCreate()`. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // STATIC conf (read once at first session): the compiled-codegen-class
      // cache defaults to 100 entries, and a 135-query suite × several
      // WholeStageCodegen stages each churns through that — both interleaved
      // passes then pay Janino recompilation instead of running hot (the r7
      // q_sequence_packing "regression": 1.07 s suite-context vs 0.46 s
      // steady-state; the plan never changed). Sized to hold the suite.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      // long-lived multi-query driver: cap the on-heap status stores
      // (the r14 heap-aging residual; see Tuning.statusStoreRetention)
      .config(Tuning.statusStoreRetention)

  /** A per-query session: a copy of `caller`'s CURRENT session state
    * (runtime conf, temp views, functions; SparkContext and cache stay
    * shared) with `overrides` applied. A query's settings live and die
    * with its own session, the way a streaming query fixes its conf at
    * start: `caller` is never written, so nothing leaks into another
    * query running on it at the same time. Frames built here execute
    * under the overrides; [[rebind]] hands a result back to `caller`. */
  def derive(caller: SparkSession, overrides: Map[String, String]): SparkSession = {
    val session = ColumnBridge.cloneSession(caller)
    overrides.foreach { case (k, v) => session.conf.set(k, v) }
    session
  }

  /** `df`'s analyzed plan as a frame of `session`: every operator added on
    * top of it plans and executes under `session`'s conf. */
  def rebind(df: DataFrame, session: SparkSession): DataFrame =
    ColumnBridge.ofRows(session, df.queryExecution.analyzed)
}
