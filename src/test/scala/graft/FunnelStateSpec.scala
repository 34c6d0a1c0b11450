package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.FunnelState
import graft.streaming.FunnelState.{Conversion, In}

class FunnelStateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    // user 1 converts: view 10:00 -> click 10:05 -> purchase 10:20
    In(1, ts("2024-01-01 10:00:00"), 1, "view", 0.0),
    In(2, ts("2024-01-01 10:05:00"), 1, "click", 0.0),
    In(3, ts("2024-01-01 10:20:00"), 1, "purchase", 42.0),
    // user 2 purchases without view/click: no conversion
    In(4, ts("2024-01-01 11:00:00"), 2, "purchase", 10.0),
    // user 3 stalls at click: no conversion
    In(5, ts("2024-01-01 11:00:00"), 3, "view", 0.0),
    In(6, ts("2024-01-01 11:01:00"), 3, "click", 0.0),
    // user 1 converts again (state reset)
    In(7, ts("2024-01-01 12:00:00"), 1, "view", 0.0),
    In(8, ts("2024-01-01 12:01:00"), 1, "click", 0.0),
    In(9, ts("2024-01-01 12:02:00"), 1, "purchase", 7.5))

  test("batch funnel state machine emits conversions with time-to-convert") {
    val got = FunnelState.conversions(spark, rows.toDS())
      .collect().sortBy(c => (c.user_id, c.purchaseAt.getTime))
    assert(got.toSeq == Seq(
      Conversion(1, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:20:00"),
        1200L, 42.0),
      Conversion(1, ts("2024-01-01 12:00:00"), ts("2024-01-01 12:02:00"),
        120L, 7.5)))
  }

  test("batch transformWithState matches the fMGWS machine") {
    // batch TWS: TimeMode.None + the StateStoreCoordinator touch inside
    // conversions(); on RocksDB in its own session, as the query entry
    val got = onRocksDb(s => graft.streaming.FunnelStateTws
      .conversions(s, s.createDataset(rows))
      .collect().sortBy(c => (c.user_id, c.purchaseAt.getTime)).toSeq)
    val want = FunnelState.conversions(spark, rows.toDS())
      .collect().sortBy(c => (c.user_id, c.purchaseAt.getTime)).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("streaming funnel state machine matches the batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[In]
    val out = FunnelState.conversions(spark,
      mem.toDS().withWatermark("ts", "10 minutes").as[In])
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("t_fsm")
      .option("checkpointLocation",
        tempDir("graft-fsm").toString)
      .start()
    try {
      mem.addData(rows.take(4): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(4): _*)
      q.processAllAvailable()
      val got = spark.table("t_fsm").as[Conversion]
        .collect().sortBy(c => (c.user_id, c.purchaseAt.getTime))
      assert(got.length == 2)
      assert(got.map(_.secondsToConvert).toSeq == Seq(1200L, 120L))
    } finally q.stop()
  }
}
