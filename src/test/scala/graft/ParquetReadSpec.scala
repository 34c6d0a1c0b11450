package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.Sources
import graft.ops.EventQueries
import graft.sink.{MaterializedView, Sinks}

/** `Sources.parquet` is `spark.read.parquet` minus the schema-inference
  * job: the same schema (columns, order, types, partition columns) on
  * every layout the engine reads, under the caller's own conf, with no
  * Spark job; and its footer memo never serves a stale schema. */
class ParquetReadSpec extends SparkSpec {
  /** Jobs `read` launches while building its frame, and the frame. */
  private def jobsOf(read: => DataFrame): (DataFrame, Long) = {
    val meter = Meter(spark)
    try { val (df, u) = meter.run(read); (df, u.jobs) } finally meter.close()
  }

  /** Asserts parity with Spark's inferring read of `path` on `session`, and
    * that the zero-job read really runs no job, cold and memoized. */
  private def assertParity(session: SparkSession, path: String): StructType = {
    val inferred = session.read.parquet(path).schema
    for (pass <- Seq("cold", "memoized")) {
      val (df, jobs) = jobsOf(Sources.parquet(session, path))
      assert(df.schema == inferred, s"$pass read of $path")
      assert(jobs == 0, s"$pass read of $path ran $jobs jobs")
    }
    inferred
  }

  /** A plain parquet file holding `ts` as `TIMESTAMP(unit, utc)` and no
    * Spark schema metadata, as the driver testdata is written. */
  private def writeTsFile(file: Path, unit: String, utc: Boolean): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; " +
        s"optional int64 ts (TIMESTAMP($unit,$utc)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), new Configuration()))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1704103200000000L, 1704105600000000L).zipWithIndex.foreach {
      case (us, i) =>
        w.write(rows.newGroup().append("event_id", i.toLong)
          .append("ts", if (unit == "NANOS") us * 1000L else us))
    } finally w.close()
  }

  test("every sf0.001 table: the inferring read's schema, zero jobs") {
    val dir = java.nio.file.Paths.get(sf("sf0.001"))
    val tables =
      Fs.list(dir).map(_.toString).filter(_.endsWith(".parquet")).sorted
    assert(tables.size == 10, tables.mkString(", "))
    tables.foreach(assertParity(spark, _))
    // the meter sees the inference job the zero-job read removes
    assert(jobsOf(spark.read.parquet(tables.head))._2 >= 1)
  }

  test("ns, µs-NTZ and µs-LTZ ts: the pinned session's and an " +
    "NTZ-inferring derived session's schemas, zero jobs") {
    val dir = tempDir("graft-pq-ts")
    val encodings = Seq(("NANOS", false), ("MICROS", false), ("MICROS", true))
    val files = encodings.map { case (unit, utc) =>
      val f = dir.resolve(s"ts_${unit}_$utc.parquet")
      writeTsFile(f, unit, utc)
      f.toString
    }
    val ntz = GraftSession.derive(spark,
      Map("spark.sql.parquet.inferTimestampNTZ.enabled" -> "true"))
    // pinned first, so the derived reads hit footers the memo already holds
    val pinned = files.map(assertParity(spark, _)("ts").dataType)
    val derived = files.map(assertParity(ntz, _)("ts").dataType)
    assert(pinned == Seq(LongType, TimestampType, TimestampType))
    assert(derived == Seq(LongType, TimestampNTZType, TimestampType))
  }

  test("an MV dir holding _applied_batches, and a RAW " +
    "event_date=…/ingest_batch=… dir: same columns, order and types") {
    val ev = Sources.events(spark, sf("sf0.001"))
    val mv = tempDir("graft-pq-mv").resolve("mv").toString
    MaterializedView.mergeSumsOnce(MaterializedView.dailyRevenueDelta(ev),
      mv, 0L, Seq("event_date"), Seq("partial"))
    assert(Files.exists(java.nio.file.Paths.get(mv, "_applied_batches")))
    assertParity(spark, mv)

    val root = tempDir("graft-pq-raw")
    val (raw, rep) = (root.resolve("raw").toString, root.resolve("rep").toString)
    Seq(0L, 1L).foreach { id =>
      Sinks.warehouseBatch(ev.filter(pmod(col("event_id"), lit(2)) === id),
        id, raw, rep, EventQueries.dailyRevenue)
    }
    val schema = assertParity(spark, raw)
    assert(schema.fieldNames.takeRight(2).toSeq ==
      Seq("event_date", "ingest_batch"))
    assert(schema("event_date").dataType == DateType)
    assertParity(spark, rep)
  }

  test("a rewrite at the same path serves the new schema; the memo keeps " +
    "one footer per path") {
    val dir = tempDir("graft-pq-memo")
    val file = dir.resolve("t.parquet")
    val table = dir.resolve("table").toString
    def writeFile(df: DataFrame): Unit = {
      val stage = dir.resolve("stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part =
        Fs.list(stage).find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
      Fs.deleteRecursively(stage)
    }
    def cols(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    (1 to 4).foreach { n =>
      val df = spark.range(3).select((0 until n).map(i =>
        (col("id") + i).as(s"c$i")): _*)
      writeFile(df)
      df.write.mode("overwrite").parquet(table)
      assert(cols(Sources.parquet(spark, file.toString)) == cols(df))
      assert(cols(Sources.parquet(spark, table)) == cols(df))
      assert(Sources.parquet(spark, table).collect().map(_.toString).sorted
        .toSeq == df.collect().map(_.toString).sorted.toSeq)
    }
    def memo = Sources.memoizedPaths.filter(_.startsWith(s"$dir/"))
    assert(memo == Set(file.toString, table))
    // a deleted table's entry goes at the next miss
    Fs.deleteRecursively(table)
    writeFile(spark.range(1).toDF("only"))
    assert(Sources.parquet(spark, file.toString).columns.toSeq == Seq("only"))
    assert(memo == Set(file.toString))
  }

  test("a missing path and an empty dir raise spark.read.parquet's error") {
    val dir = tempDir("graft-pq-missing")
    Files.createDirectories(dir.resolve("empty"))
    for (p <- Seq(dir.resolve("missing"), dir.resolve("empty"))) {
      val want = intercept[Exception](spark.read.parquet(p.toString))
      val got = intercept[Exception](Sources.parquet(spark, p.toString))
      assert(got.getClass == want.getClass, s"$p: $got vs $want")
      assert(got.getMessage == want.getMessage)
    }
  }
}
