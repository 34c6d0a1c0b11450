package graft

import org.apache.spark.sql.SparkSession

/** The session conf every engine main and the test suite run under. */
object GraftSession {

  /** `local[cpus]` with one shuffle partition per core, the engine's
    * extensions, UTC session time and both parquet timestamp pins (the
    * testdata encodings flip between regenerations — see
    * [[graft.ingest.Sources.pinTimestampSemantics]]). Callers chain their
    * own app name, warehouse dir etc. before `getOrCreate()`. */
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
}
