package graft.sink

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Exprs

/** Incremental materialized-view maintenance by PARTIAL-AGGREGATE merge —
  * the pattern that makes a 100 TB reporting table affordable: never
  * recompute the corpus, fold each new delta's partial aggregates into the
  * stored view. A refresh costs O(delta + view keys); the view itself is
  * keyed-small (days × groups), orders of magnitude under the fact table.
  *
  * Exactness contract: partials are kept UNROUNDED in a fixed
  * [[PartialType]] decimal and only the read path rounds — decimal addition
  * is associative, so any slicing of the fact stream (by arrival batch, by
  * file, by partition) folds to bit-identical totals. The driver's hash
  * gate certifies this end-to-end: `q_mv_incremental` folds three disjoint
  * event slices through [[mergeSums]] and must hash-match
  * `q_daily_revenue`'s batch-recompute oracle VERBATIM (the shared-oracle
  * equivalence discipline).
  *
  * Durability: the view swaps in via the same backup-then-rename as
  * [[Sinks.upsertParquet]] (see [[Sinks.recoverSwap]] for the one crash
  * window). Rewriting the whole view per refresh is deliberate — the view
  * is keys-sized; partition-scoping the rewrite would save nothing and
  * cost the affected-key bookkeeping.
  */
object MaterializedView {

  /** Stored type of every partial-sum column: wide enough to hold a
    * corpus-scale sum of [[Exprs.Money]] inputs (Spark's own sum-widening
    * target), fixed so that re-summing stored partials with fresh deltas
    * stays in exact decimal arithmetic. */
  val PartialType: DecimalType = DecimalType(28, 6)

  /** Folds one delta's partial aggregates into the stored view at
    * `mvPath`: rows are matched on `keyCols`; every column in `sumCols` is
    * summed with the stored partial (exact decimal, cast back to
    * [[PartialType]]). First call creates the view. The delta must already
    * be aggregated to one row per key (e.g. [[dailyRevenueDelta]]). */
  def mergeSums(deltaAgg: DataFrame, mvPath: String, keyCols: Seq[String],
      sumCols: Seq[String]): Unit =
    mergeInternal(deltaAgg, mvPath, keyCols, sumCols, ledgerAdd = None)

  /** EXACTLY-ONCE [[mergeSums]] for replayable callers (foreachBatch): the
    * fold is additive, so a replayed micro-batch would double-count — this
    * variant records applied `batchId`s in a ledger file that rides INSIDE
    * the view directory and therefore commits in the SAME atomic rename as
    * the merged data (an underscore-prefixed file, invisible to parquet
    * readers). A replayed id is a no-op returning false; there is no crash
    * window in which data is applied but the ledger is not, or vice versa.
    * This is the MV-shaped instance of the warehouse sink's
    * replay-idempotence discipline (there: dynamic partition overwrite by
    * batch; here: ledger + whole-view swap, because partials MERGE rather
    * than land disjointly). */
  def mergeSumsOnce(deltaAgg: DataFrame, mvPath: String, batchId: Long,
      keyCols: Seq[String], sumCols: Seq[String]): Boolean = {
    Sinks.recoverSwap(mvPath)
    if (appliedBatches(mvPath).contains(batchId)) false
    else {
      mergeInternal(deltaAgg, mvPath, keyCols, sumCols,
        ledgerAdd = Some(batchId))
      true
    }
  }

  /** Batch ids already folded into the view (empty for a ledger-less or
    * absent view). */
  def appliedBatches(mvPath: String): Set[Long] = {
    val ledger = Paths.get(mvPath, LedgerFile)
    if (!Files.exists(ledger)) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(ledger).asScala.filter(_.nonEmpty)
        .map(_.toLong).toSet
    }
  }

  private val LedgerFile = "_applied_batches"

  private def mergeInternal(deltaAgg: DataFrame, mvPath: String,
      keyCols: Seq[String], sumCols: Seq[String],
      ledgerAdd: Option[Long]): Unit = {
    val spark = deltaAgg.sparkSession
    Sinks.recoverSwap(mvPath)
    val target = Paths.get(mvPath)
    val delta = deltaAgg.select(
      keyCols.map(col) ++ sumCols.map(c => col(c).cast(PartialType).as(c)): _*)
    // the stored view has the delta's schema: reading it with that schema
    // skips the parquet schema-inference job
    val merged =
      if (Files.exists(target))
        spark.read.schema(delta.schema).parquet(mvPath).unionByName(delta)
          .groupBy(keyCols.map(col): _*)
          .agg(sumCols.head -> "sum", sumCols.tail.map(_ -> "sum"): _*)
          .select(keyCols.map(col) ++ sumCols.map(c =>
            col(s"sum($c)").cast(PartialType).as(c)): _*)
      else delta
    val tmp = Paths.get(mvPath + ".upsert-tmp")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    ledgerAdd.foreach { id =>
      val lines = (appliedBatches(mvPath) + id).toSeq.sorted.map(_.toString)
      Files.write(tmp.resolve(LedgerFile),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    Sinks.swapReplace(target, tmp, ".upsert-old")
  }

  /** Per-day purchase-revenue partials of one event delta — the incremental
    * half of `EventQueries.dailyRevenue` (same filter, same day key, same
    * exact-decimal accumulator, no rounding yet). */
  def dailyRevenueDelta(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(sum(col("value").cast(Exprs.Money)).as("partial"))

  /** Serves the daily-revenue view: rounds the merged partials exactly as
    * `Exprs.moneySum` does (round-then-double on the exact decimal), so the
    * output is bit-identical to the batch recompute. */
  def dailyRevenue(spark: SparkSession, mvPath: String): DataFrame =
    spark.read.parquet(mvPath)
      .select(col("event_date"),
        round(col("partial"), 2).cast(DoubleType).as("total_revenue"))
      .orderBy("event_date")
}
