package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed GLOBAL ordinal assignment — `row_number() OVER (ORDER BY …)`
  * without the single-task sort that window formulation forces (Spark puts
  * an unpartitioned window's entire input into one partition; at 100 TB
  * that is the job).
  *
  * Shape: range-repartition on the (total) sort key, number rows within
  * each partition independently, then add per-partition offsets computed
  * from a bounded per-partition count frame:
  *
  *  1. `repartitionByRange` + `sortWithinPartitions` on the sort key —
  *     partitions hold DISJOINT key ranges, each internally ordered;
  *  2. per-partition local `row_number` — a window PARTITIONED BY the
  *     physical partition id, so every partition numbers its own rows in
  *     parallel (bounded by one partition's rows, never the table);
  *  3. offsets: per-partition counts (one row per partition) cumsum'd over
  *     the tiny partition-id frame and broadcast back.
  *
  * The result is EXACTLY the global row_number by the sort key — sampling
  * variance in the range boundaries moves rows between partitions but
  * never changes `offset + local` (proven by the oracle hash gate and a
  * partitioning-perturbation spec). The sort key must be a TOTAL order
  * (append a unique tiebreak column): ties that straddled a range
  * boundary would otherwise be numbered by physical placement.
  */
object Ordinals {
  /** Distributed global RUNNING SUMS of `weights` (each named by its
    * output column) in `sortCols` order — the [[globalRowNumbers]] shape
    * applied to arbitrary 0/1-or-long weights (range partition →
    * per-partition cumsum → broadcast per-partition totals as offsets).
    * One range exchange and one per-partition sort total, however many
    * sums ride it (the rank-sweep consumer reads two). The inclusive
    * cumsum at each row is exact whenever no weight-BEARING row ties with
    * a row that reads the sum (ties among weight-0 readers, or among the
    * weighted rows themselves, cannot change any reader's value — the
    * rank-sweep consumers pin reader-vs-point order with a kind column). */
  def globalRunningSums(df: DataFrame, sortCols: Seq[Column],
      weights: Seq[(Column, String)], partitions: Int = 0): DataFrame = {
    val n = if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    var parted = df.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_pid", spark_partition_id())
    weights.zipWithIndex.foreach { case ((w, _), i) =>
      parted = parted.withColumn(s"_w$i", w.cast("long")) }
    val frame = Window.partitionBy(col("_pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    weights.indices.foreach { i =>
      parted = parted.withColumn(s"_local$i", sum(col(s"_w$i")).over(frame)) }
    // pinned for the same reason as globalRowNumbers: offsets and rows
    // must see ONE physical range partitioning
    val numbered = parted.localCheckpoint(true)
    val offsets = numbered.groupBy("_pid")
      .agg(weights.indices.map(i => sum(col(s"_w$i")).as(s"_cnt$i")).head,
        weights.indices.map(i => sum(col(s"_w$i")).as(s"_cnt$i")).tail: _*)
    var off = offsets
    weights.indices.foreach { i =>
      off = off.withColumn(s"_offset$i",
        coalesce(sum(col(s"_cnt$i")).over(
          Window.orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))) }
    var out = numbered.join(broadcast(off.select(col("_pid") +:
      weights.indices.map(i => col(s"_offset$i")): _*)), "_pid")
    weights.zipWithIndex.foreach { case ((_, name), i) =>
      out = out.withColumn(name,
        (col(s"_offset$i") + col(s"_local$i")).cast("long")) }
    out.drop("_pid" +: weights.indices.flatMap(i =>
      Seq(s"_w$i", s"_local$i", s"_offset$i")): _*)
  }

  def globalRowNumbers(df: DataFrame, sortCols: Seq[Column],
      idColName: String = "rn", partitions: Int = 0): DataFrame = {
    val n = if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val parted = df.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_pid", spark_partition_id())
    val local = row_number().over(
      Window.partitionBy(col("_pid")).orderBy(sortCols: _*))
    // PINNED: the offsets branch and the join branch below both consume
    // this frame, and RangePartitioner's boundary sampling is seeded per
    // physical evaluation — without pinning, correctness would silently
    // depend on ReuseExchange deduplicating the two subtrees (rows near a
    // boundary could be numbered against one partitioning and offset by
    // the other). localCheckpoint materializes ONE partitioning both
    // branches share (the CC-loop lineage discipline).
    val numbered = parted.withColumn("_local", local).localCheckpoint(true)
    // one row per partition; the cumsum window frame is bounded by the
    // partition COUNT (like runningRevenue's per-day frame), not the data
    val offsets = numbered.groupBy("_pid")
      .agg(count(lit(1)).as("_cnt"))
      .withColumn("_offset",
        coalesce(sum(col("_cnt")).over(
          Window.orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_offset"))
    numbered.join(broadcast(offsets), "_pid")
      .withColumn(idColName, (col("_offset") + col("_local")).cast("long"))
      .drop("_pid", "_local", "_offset")
  }
}
