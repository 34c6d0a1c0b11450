package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.ops.WindowedQueries

class WindowedQueriesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  lazy val events: DataFrame = Seq(
    (1L, ts("2024-01-01 10:00:00"), 1L, "view", 5.0),
    (2L, ts("2024-01-01 10:00:00"), 1L, "click", 7.0),
    (3L, ts("2024-01-01 10:10:00"), 1L, "purchase", 10.0),
    (4L, ts("2024-01-01 11:00:00"), 1L, "view", 1.0),    // 50min gap: new
    (5L, ts("2024-01-01 12:00:00"), 2L, "purchase", 8.0),
    (6L, ts("2024-01-01 12:30:00"), 2L, "view", 1.0),    // exactly 30min: merged
    (7L, ts("2024-01-02 09:00:00"), 2L, "purchase", 12.5))
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  test("sessionize merges at the gap boundary (inclusive) and splits beyond") {
    val got = WindowedQueries.sessionize(events)
      .as[(Long, Timestamp, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, ts("2024-01-01 10:00:00"), 3L, 600000000L),
      (1L, ts("2024-01-01 11:00:00"), 1L, 0L),
      (2L, ts("2024-01-01 12:00:00"), 2L, 1800000000L),
      (2L, ts("2024-01-02 09:00:00"), 1L, 0L)))
  }

  test("runningRevenue computes cumulative, moving-average and delta") {
    val got = WindowedQueries.runningRevenue(events).collect()
    val day1 = got(0)
    assert(day1.getAs[Double]("total_revenue") == 18.0)
    assert(day1.getAs[Double]("running_total") == 18.0)
    assert(day1.getAs[Double]("ma7_revenue") == 18.0)
    assert(day1.isNullAt(day1.fieldIndex("delta_revenue")))
    val day2 = got(1)
    assert(day2.getAs[Double]("total_revenue") == 12.5)
    assert(day2.getAs[Double]("running_total") == 30.5)
    assert(day2.getAs[Double]("ma7_revenue") == 15.25)
    assert(day2.getAs[Double]("delta_revenue") == -5.5)
  }

  test("revenueGapfill fills missing days with zero") {
    val sparse = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 10.0),
      (2L, ts("2024-01-04 10:00:00"), 1L, "purchase", 5.0),
      (3L, ts("2024-01-03 10:00:00"), 2L, "view", 0.0)) // day3: no purchase
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = WindowedQueries.revenueGapfill(sparse)
      .as[(java.sql.Date, Double)].collect().toSeq
    assert(got.map(_._1.toString) ==
      Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"))
    assert(got.map(_._2) == Seq(10.0, 0.0, 0.0, 5.0))
  }

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  test("streaming session_window finalizes sessions past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("t_sess")
      .option("checkpointLocation",
        tempDir("graft-sess").toString)
      .start()
    try {
      mem.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
        Ev(2, ts("2024-01-01 10:05:00"), 1, "view", 1.0))
      q.processAllAvailable()
      // push watermark far past the session gap -> session 1 finalizes
      mem.addData(Ev(3, ts("2024-01-01 12:00:00"), 1, "view", 1.0))
      q.processAllAvailable()
      val out = spark.table("t_sess")
        .as[(Long, Timestamp, Long)].collect().toSeq
      assert(out.contains((1L, ts("2024-01-01 10:00:00"), 2L)))
    } finally q.stop()
  }

  test("rollingUserRevenue: RANGE frame spans a calendar week across gaps") {
    def p(id: Long, day: Int, user: Long, v: Double) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), user, "purchase", v, "{}")
    val df = Seq(
      p(1, 1, 1, 10.0), p(2, 3, 1, 5.0), p(3, 10, 1, 2.0),
      p(4, 1, 2, 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = WindowedQueries.rollingUserRevenue(df)
      .as[(Long, java.sql.Date, Long, Long, Long)].collect().toSeq
    def d(s: String) = java.sql.Date.valueOf(s)
    assert(got == Seq(
      (1L, d("2024-01-01"), 1000L, 1000L, 1L),
      (1L, d("2024-01-03"), 500L, 1500L, 2L),   // day 1 inside the week
      (1L, d("2024-01-10"), 200L, 200L, 1L),    // 7-day-old row aged out
      (2L, d("2024-01-01"), 100L, 100L, 1L)), got.toString)
  }
}
