package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.Sources
import graft.ops.WindowedQueries
import graft.streaming.StreamingQueries

/** Pins the ingest timestamp contract so a driver-side testdata regen can
  * never silently break a round again (the r9 incident: events.parquet
  * flipped from TIMESTAMP(NANOS) to TIMESTAMP(MICROS, isAdjustedToUTC=0),
  * Spark 4 read the latter as TIMESTAMP_NTZ, and 14 queries + 8 tests died
  * at analysis time). The contract: `Sources.events` yields a µs
  * TimestampType (LTZ) `ts` with identical instant values from EVERY
  * historical encoding — ns-long, µs-NTZ, µs-LTZ — and both the batch
  * sessionizer and the watermarked append-mode stream run over each.
  */
class TimestampContractSpec extends SparkSpec {
  import spark.implicits._

  // Two instants 40 minutes apart (one session gap boundary crossed) plus a
  // third 10 minutes after the second: users 1..2, known µs values.
  private val baseUs = 1704103200000000L // 2024-01-01T10:00:00Z
  private def fixtureRows = Seq(
    (1L, baseUs, 7L, "view", 1.0, "{}"),
    (2L, baseUs + 40L * 60 * 1000000, 7L, "purchase", 5.0, "{}"),
    (3L, baseUs + 50L * 60 * 1000000, 8L, "view", 2.0, "{}"))

  /** events-shaped frame with `ts` as µs TimestampType (LTZ). */
  private def ltzFrame = fixtureRows
    .toDF("event_id", "tsus", "user_id", "event_type", "value", "props")
    .withColumn("ts", timestamp_micros(col("tsus"))).drop("tsus")
    .select("event_id", "ts", "user_id", "event_type", "value", "props")

  /** Writes `<dir>/events.parquet` as a plain FILE (the driver's testdata
    * layout — the streaming file source symlinks that exact path). */
  private def writeEventsDir(df: org.apache.spark.sql.DataFrame): String = {
    val dir = tempDir("graft-tsfix")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/stage")
    val part = {
      import scala.jdk.CollectionConverters._
      val ls = Files.list(dir.resolve("stage"))
      try ls.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally ls.close()
    }
    Files.move(part, dir.resolve("events.parquet"))
    Fs.deleteQuietly(dir.resolve("stage"))
    dir.toString
  }

  private def tsMicros(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(unix_micros(col("ts"))).as[Long].collect().sorted.toSeq

  private val expectedUs = fixtureRows.map(_._2).sorted

  test("normalizeEvents: ns-long ts → µs TimestampType, integral truncation") {
    val nsFrame = ltzFrame.withColumn("ts",
      unix_micros(col("ts")) * 1000L + 999L) // sub-µs residue must truncate
    val norm = Sources.normalizeEvents(nsFrame)
    assert(norm.schema("ts").dataType == TimestampType)
    assert(tsMicros(norm) == expectedUs)
  }

  test("normalizeEvents: NTZ ts → µs TimestampType, value-identical (UTC)") {
    val ntzFrame = ltzFrame.withColumn("ts", col("ts").cast(TimestampNTZType))
    assert(ntzFrame.schema("ts").dataType == TimestampNTZType)
    val norm = Sources.normalizeEvents(ntzFrame)
    assert(norm.schema("ts").dataType == TimestampType)
    assert(tsMicros(norm) == expectedUs)
    // the TimestampType case is the identity — same plan, no extra project
    val ltz = ltzFrame
    assert(Sources.normalizeEvents(ltz) eq ltz)
  }

  test("normalizeTimestamps is identity when no NTZ column exists") {
    val df = ltzFrame
    assert(Sources.normalizeTimestamps(df) eq df)
  }

  test("µs-NTZ parquet (the r9 regen encoding) reads as TimestampType " +
    "with identical instants, and sessionize + watermarked stream run") {
    // Spark writes TimestampNTZType as TIMESTAMP(MICROS, isAdjustedToUTC=0)
    // — byte-identical to the regenerated driver testdata.
    val dir = writeEventsDir(
      ltzFrame.withColumn("ts", col("ts").cast(TimestampNTZType)))
    try {
      val ev = Sources.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(tsMicros(ev) == expectedUs)

      val batch = WindowedQueries.sessionize(ev)
      val sessions = batch.collect()
      assert(sessions.length == 3, "40min gap splits user 7 into 2 sessions")

      val streamed = StreamingQueries
        .runAppendFinalized(spark, dir, "ts_contract_ntz")(
          StreamingQueries.sessionizeAppend(_))
        .filter(col("user_id") =!= -1L)
      assert(streamed.collect().map(_.toSeq).toSet ==
        sessions.map(_.toSeq).toSet,
        "watermarked append stream ≡ batch sessionize over NTZ fixture")
    } finally Fs.deleteQuietly(java.nio.file.Paths.get(dir))
  }

  test("µs-LTZ parquet reads unchanged (round-trip identity)") {
    val dir = writeEventsDir(ltzFrame)
    try {
      val ev = Sources.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(tsMicros(ev) == expectedUs)
    } finally Fs.deleteQuietly(java.nio.file.Paths.get(dir))
  }

  test("TIMESTAMP_MILLIS and INT96 parquet (writer-side encodings a future " +
    "regen could flip to) also land as µs TimestampType") {
    // ms-granular fixture: INT96/MILLIS can't carry sub-ms, so the values
    // themselves must survive exactly
    val msFrame = ltzFrame.withColumn("ts",
      expr("timestamp_micros((unix_micros(ts) div 1000) * 1000)"))
    val wantUs = expectedUs.map(us => (us / 1000L) * 1000L)
    for (enc <- Seq("TIMESTAMP_MILLIS", "INT96")) {
      val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", enc)
      val dir =
        try writeEventsDir(msFrame)
        finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
      try {
        val ev = Sources.events(spark, dir)
        assert(ev.schema("ts").dataType == TimestampType, s"encoding $enc")
        assert(tsMicros(ev) == wantUs, s"encoding $enc")
      } finally Fs.deleteQuietly(java.nio.file.Paths.get(dir))
    }
  }

  test("typed-CSV and JSONL dialects round-trip µs timestamps exactly") {
    // sub-millisecond residue: Spark's DEFAULT text formats render only
    // millis — the pinned Sinks.TsFormat must carry all six digits
    val df = ltzFrame.withColumn("ts",
      timestamp_micros(unix_micros(col("ts")) + 123456L))
    val dir = tempDir("graft-tsdialect")
    try {
      graft.sink.Sinks.writeCsvTyped(df, s"$dir/csv")
      val csvBack = Sources.csvTyped(spark, s"$dir/csv", df.schema)
      assert(tsMicros(csvBack) == tsMicros(df))
      graft.sink.Sinks.writeJsonl(df, s"$dir/jsonl")
      val jsonBack = Sources.jsonl(spark, s"$dir/jsonl", df.schema)
      assert(tsMicros(jsonBack) == tsMicros(df))
    } finally Fs.deleteQuietly(dir)
  }

  test("TestdataContract: the live driver testdata passes the schema pin") {
    assert(graft.model.TestdataContract.check(spark, sf("sf0.001")).isEmpty)
  }

  test("TestdataContract: a perturbed fixture produces a one-line diff " +
    "naming exactly what changed (the Verify fail-fast path)") {
    val src = java.nio.file.Paths.get(sf("sf0.001"))
    val dir = tempDir("graft-contract")
    try {
      // symlink every table except events; perturb events: rename
      // user_id → uid, retype value double → string
      graft.model.TestdataContract.expected.keys
        .filter(_ != "events").foreach { t =>
          Files.createSymbolicLink(dir.resolve(s"$t.parquet"),
            src.resolve(s"$t.parquet"))
        }
      val perturbed = Sources.events(spark, sf("sf0.001"))
        .withColumnRenamed("user_id", "uid")
        .withColumn("value", col("value").cast(StringType))
      perturbed.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/stage")
      val part = {
        import scala.jdk.CollectionConverters._
        val ls = Files.list(dir.resolve("stage"))
        try ls.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally ls.close()
      }
      Files.move(part, dir.resolve("events.parquet"))
      Fs.deleteQuietly(dir.resolve("stage"))

      val diffs = graft.model.TestdataContract.check(spark, dir.toString)
      assert(diffs.size == 1, diffs.mkString("\n"))
      val d = diffs.head
      assert(d.startsWith("events:") && d.contains("MISSING user_id") &&
        d.contains("RETYPED value: expected double, got string") &&
        d.contains("EXTRA uid"), d)
    } finally Fs.deleteQuietly(dir)
  }

  test("driver testdata: events/lineitem/orders timestamp columns land LTZ") {
    val sfDir = sf("sf0.001")
    assert(Sources.events(spark, sfDir).schema("ts").dataType
      == TimestampType)
    assert(Sources.table(spark, sfDir, "lineitem").schema("l_shipdate")
      .dataType == TimestampType)
    assert(Sources.table(spark, sfDir, "orders").schema("o_orderdate")
      .dataType == TimestampType)
  }
}
