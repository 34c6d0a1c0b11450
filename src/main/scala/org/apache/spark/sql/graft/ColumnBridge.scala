package org.apache.spark.sql.graft

import scala.util.control.NonFatal

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
  *    session: [[graft.GraftSession.rebind]]).
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
        "cloneSession and classic.Dataset.ofRows, then bump PinnedSparkLine")

  assertPinnedSparkVersion()
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unified-memory-manager storage gauge (one JVM under local[*]) —
    * the scaling harness (`sbt "scaling/runMain graft.Scaling …"`)
    * prints it per measurement so lingering-block
    * regressions are visible as numbers, not 4× wall-time mysteries.
    * A `private[spark]` internal, but a simple stable gauge. */
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

  /** Releases the storage blocks of a dataset that IS a bare local
    * checkpoint (analyzed plan = exactly one LogicalRDD). Iterative
    * operators re-checkpoint per round; the superseded round's blocks
    * otherwise occupy the storage-protected region of unified memory
    * until a GC lets ContextCleaner collect them — which a huge heap may
    * never trigger — squeezing later stages' execution memory (measured
    * 4× on a 50M-row aggregate; CLAUDE.md r14). Safe by construction:
    * no-op on any frame that is not a bare checkpoint root (a round-0
    * seed projection, a shared pinned edge list consumed via joins keeps
    * its own LogicalRDD — callers only pass the frame they themselves
    * superseded). NOT on the version-pin list: LogicalRDD's shape is
    * public API here (type match + the public `rdd` val). */
  def releaseLocalCheckpoint(ds: org.apache.spark.sql.Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

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

  /** Exact row count of a frame whose optimized plan is ONE parquet
    * scan, read from the file FOOTERS on the driver — no Spark job, no
    * column IO (a footer read is a few KB per file). This is the
    * row-based broadcast-size floor ADVICE r16 asked for: the
    * optimizer's `sizeInBytes` is COMPRESSED on-disk bytes, so a
    * low-entropy corpus (zeroed/repeated vectors) can pass a broadcast
    * cap whose real constraint is the raw collected/resident footprint —
    * `rows × rowWidth` does not compress. Returns None when the plan is
    * not a bare parquet scan (derived frames keep Catalyst's propagated
    * estimate, whose errors skew large — the safe side) or when the
    * relation lists more than `maxFiles` files (footer probing is
    * driver-side IO; callers only need the floor when the plan estimate
    * is already under a broadcast cap, where file counts are small).
    * Filters/projections above the scan only reduce rows, so the scan
    * count stays an upper bound — floor-safe. NOT on the version-pin
    * list: LogicalRelation/HadoopFsRelation shapes are stable here. */
  def parquetScanRowCount(df: org.apache.spark.sql.DataFrame,
      maxFiles: Int = 4096): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    df.queryExecution.optimizedPlan.collectLeaves() match {
      case Seq(lr: LogicalRelation) => lr.relation match {
        case rel: HadoopFsRelation
            if rel.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val files = rel.location.listFiles(Nil, Nil)
            .flatMap(_.files).filter(_.getLen > 0)
          if (files.isEmpty || files.size > maxFiles) None
          else try {
            val conf = df.sparkSession.sessionState.newHadoopConf()
            var rows = 0L
            files.foreach { f =>
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(f.getPath, conf)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try {
                val it = r.getFooter.getBlocks.iterator()
                while (it.hasNext) rows += it.next().getRowCount
              } finally r.close()
            }
            Some(rows)
          } catch { case NonFatal(_) => None }
        case _ => None
      }
      case _ => None
    }
  }

  /** Executed physical plan of a streaming query's LAST micro-batch —
    * the streaming PlanPin surface (`StreamingQueryWrapper` and
    * `StreamExecution.lastExecution` are `private[sql]`; the wrapper
    * moved to `execution.streaming.runtime` in the 4.1 line, one more
    * member on the version-pin list above). Empty string when no batch
    * has executed yet. */
  def lastMicroBatchPlan(
      q: org.apache.spark.sql.streaming.StreamingQuery): String =
    q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution)
          .map(_.executedPlan.toString).getOrElse("")
      case _ => ""
    }
}
