package graft

/** Cluster-sizing recipe for the 100 TB target (SURVEY §7.4's design
  * stance), as pure functions and conf maps a deployment applies to its
  * session builder or writers:
  *  - output files sized from the table's observed row width
  *    ([[maxRecordsPerFile]]);
  *  - status-store retention capped for long-lived drivers;
  *  - streaming state on RocksDB (off-heap, spillable, incremental
  *    changelog checkpoints) — the HDFS-backed in-memory default caps state
  *    at executor heap, which an unbounded keyed stream will exhaust.
  */
object Tuning {

  /** `spark.sql.files.maxRecordsPerFile` for a parquet write targeting
    * ~`targetFileBytes` per output file, derived from the OBSERVED
    * on-disk row width of already-landed data (metered bytes ÷ parquet
    * footer row count — see `Sources.observedRowWidth`), never from a
    * local constant (r17 verdict #7): at 100 TB a task can hold many
    * times the target per partition value, and without the cap the
    * warehouse's `(event_date, ingest_batch)` files grow with batch
    * size instead of staying scan-friendly. Returns 0 (= Spark's
    * "no cap") when nothing has been observed yet — the first batch
    * lands unsplit and becomes the next batch's observation. Long
    * arithmetic via BigInt so petabyte observations cannot overflow
    * into a tiny cap. */
  def maxRecordsPerFile(observedBytes: Long, observedRows: Long,
      targetFileBytes: Long = 128L << 20): Long =
    if (observedRows <= 0 || observedBytes <= 0 || targetFileBytes <= 0) 0L
    else (BigInt(targetFileBytes) * observedRows / observedBytes)
      .max(1).min(Long.MaxValue).toLong

  /** Status-store retention caps for LONG-LIVED driver JVMs (the local
    * multi-query harnesses AND any production driver that runs hundreds
    * of queries in one session). Even with the UI disabled, Spark's
    * AppStatusListener + SQLAppStatusListener retain per-execution plan
    * graphs, per-stage and per-task rollups in ON-HEAP kv-stores at
    * generous defaults (1000 SQL executions / 100k tasks); across a
    * multi-hundred-query run that live set grows monotonically and ages
    * the heap — the r14 bisection's residual after the heap-size fix.
    * Nothing in this repo reads those stores (no UI, no status API), so
    * the harnesses cap them tightly. */
  def statusStoreRetention: Map[String, String] = Map(
    "spark.sql.ui.retainedExecutions" -> "8",
    "spark.ui.retainedJobs" -> "50",
    "spark.ui.retainedStages" -> "100",
    "spark.ui.retainedTasks" -> "2000",
    "spark.ui.retainedDeadExecutors" -> "1",
    "spark.worker.ui.retainedExecutors" -> "10",
    "spark.worker.ui.retainedDrivers" -> "10")

  /** Streaming state on RocksDB with incremental (changelog) checkpoints:
    * state size bounded by disk not heap, and per-batch checkpoint cost
    * proportional to the CHANGED keys, not the full store — the
    * configuration that keeps [[graft.streaming.FunnelState]]-style keyed
    * state and `dropDuplicatesWithinWatermark` viable against an unbounded
    * stream. */
  def rocksDbStateStore: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")
}
