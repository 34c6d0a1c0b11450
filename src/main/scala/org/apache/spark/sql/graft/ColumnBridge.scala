package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column ↔ catalyst Expression conversions `private[sql]`
  * (column-node decoupling). This bridge lives inside the `sql` package
  * namespace to expose exactly the two conversions custom expressions need
  * — the standard technique for third-party Catalyst extensions.
  *
  * VERSION-PINNED: this is the repo's only private-API surface, and each
  * member leans on an internal that a Spark upgrade may move —
  *  - `ExpressionUtils.column/expression` (`private[sql]`, classic module);
  *  - `SparkContext.listenerBus` (`private[spark]`);
  *  - `classic.StreamingQueryManager.stateStoreCoordinator` (`private[sql]`,
  *    lazily registers the coordinator RPC endpoint batch TWS needs);
  *  - `classic.SparkSession.cloneSession` (`private[sql]`, the per-query
  *    session of [[graft.GraftSession.derive]]);
  *  - `classic.Dataset.ofRows` (`private[sql]`, binds a built plan to a
  *    session: [[graft.GraftSession.rebind]]);
  *  - `SparkEnv.memoryManager` (`private[spark]`, the storage gauge);
  *  - `runtime.StreamingQueryWrapper` and `StreamExecution.lastExecution`
  *    (`private[sql]`, the last micro-batch's plan).
  * [[assertPinnedSparkVersion]] runs at object init (and is asserted in
  * ColumnBridgeSpec), so a version bump fails loudly HERE with a pointer to
  * this list instead of as a MethodNotFound deep inside a query. */
object ColumnBridge {
  /** The Spark minor line the internals above were verified against. */
  val PinnedSparkLine = "4.1."

  def assertPinnedSparkVersion(): Unit =
    require(org.apache.spark.SPARK_VERSION.startsWith(PinnedSparkLine),
      s"ColumnBridge is pinned to Spark $PinnedSparkLine* but this is " +
        s"${org.apache.spark.SPARK_VERSION}: re-verify ExpressionUtils." +
        "column/expression, SparkContext.listenerBus, classic." +
        "StreamingQueryManager.stateStoreCoordinator, classic.SparkSession." +
        "cloneSession, classic.Dataset.ofRows, SparkEnv.memoryManager and " +
        "StreamingQueryWrapper.streamingQuery.lastExecution, then bump " +
        "PinnedSparkLine")

  assertPinnedSparkVersion()
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unified-memory-manager storage gauge (one JVM under local[*]) —
    * the scaling harness (`sbt "scaling/runMain graft.Scaling …"`)
    * prints it per measurement so lingering-block
    * regressions are visible as numbers, not 4× wall-time mysteries. */
  def storageMemoryUsedBytes: Long =
    org.apache.spark.SparkEnv.get.memoryManager.storageMemoryUsed

  /** A new session holding a COPY of `spark`'s session state: its current
    * runtime conf, temp views and functions. SparkContext, shared state
    * and cache stay shared; conf set on the copy never reaches `spark`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** `plan` as a DataFrame of `spark`: analyzed, planned and executed
    * under `spark`'s conf — how Catalyst extensions build a Dataset over
    * a plan they control. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Drain the listener bus (`private[spark]`) so tests can read metrics
    * accumulated by a SparkListener deterministically. */
  def waitForListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** BATCH `transformWithState` loads state stores outside any streaming
    * query, and store loading reports to the driver's StateStoreCoordinator
    * RPC endpoint — which is registered lazily by the session's
    * StreamingQueryManager (`private[sql]`), normally on first stream
    * start. Touch it so batch TWS works in sessions that never started a
    * stream (otherwise: CANNOT_LOAD_STATE_STORE / RpcEndpointNotFound). */
  def ensureStateStoreCoordinator(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.streams match {
      case m: org.apache.spark.sql.classic.StreamingQueryManager =>
        m.stateStoreCoordinator
      case _ => ()
    }

  /** Executed physical plan of a streaming query's LAST micro-batch —
    * the streaming PlanPin surface (`StreamingQueryWrapper` and
    * `StreamExecution.lastExecution` are `private[sql]`; the wrapper
    * moved to `execution.streaming.runtime` in the 4.1 line). Empty
    * string when no batch has executed yet. */
  def lastMicroBatchPlan(
      q: org.apache.spark.sql.streaming.StreamingQuery): String =
    q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution)
          .map(_.executedPlan.toString).getOrElse("")
      case _ => ""
    }
}
