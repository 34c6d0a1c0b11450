package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.EventQueries
import graft.ext.Multimodal
import graft.ingest.Sources
import graft.sink.Sinks

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs one [[Sinks.warehouseBatchChecked]] call may launch on a
    * table that already holds earlier batches. */
  private val WarehouseBatchJobBudget = 9

  private def ts(s: String) = Timestamp.valueOf(s)

  // the partitioned read-back surfaces event_date LAST — select by name
  private def reportingMap(path: String): Map[java.sql.Date, Double] =
    spark.read.parquet(path).select("event_date", "total_revenue")
      .as[(java.sql.Date, Double)].collect().toMap

  test("streamToWarehouse appends RAW and refreshes REPORTING per batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PropEvent]
    val raw = tempDir("graft-raw").toString
    val rep = tempDir("graft-rep").toString
    val ck = tempDir("graft-whck").toString
    val q = Sinks.streamToWarehouse(mem.toDF(), raw, rep, ck,
      EventQueries.dailyRevenue)
    try {
      mem.addData(
        PropEvent(1, ts("2024-01-01 10:00:00"), 1, "purchase", 10.0, "{}"),
        PropEvent(2, ts("2024-01-01 11:00:00"), 2, "view", 1.0, "{}"))
      q.processAllAvailable()
      assert(spark.read.parquet(raw).count() == 2)
      assert(reportingMap(rep)(java.sql.Date.valueOf("2024-01-01")) == 10.0)
      // second batch: RAW appends, REPORTING reflects the full history
      mem.addData(
        PropEvent(3, ts("2024-01-02 09:00:00"), 1, "purchase", 5.5, "{}"))
      q.processAllAvailable()
      assert(spark.read.parquet(raw).count() == 3)
      assert(reportingMap(rep) == Map(
        java.sql.Date.valueOf("2024-01-01") -> 10.0,
        java.sql.Date.valueOf("2024-01-02") -> 5.5))
    } finally q.stop()
  }

  test("warehouseBatchChecked gates publication on the constraint suite") {
    import graft.ops.Checks
    val raw = tempDir("graft-gr").toString
    val rep = tempDir("graft-gp").toString
    val chk = tempDir("graft-gc").toString
    val rej = tempDir("graft-gx").toString
    def run(b: org.apache.spark.sql.DataFrame, id: Long) =
      Sinks.warehouseBatchChecked(b, id, raw, rep,
        EventQueries.dailyRevenue, Checks.dataChecks, chk, rej)
    // batch 0: clean — publishes
    val clean = Seq(
      PropEvent(1, ts("2024-01-01 10:00:00"), 1, "purchase", 10.0, "{}"),
      PropEvent(2, ts("2024-01-01 11:00:00"), 2, "view", 1.0, "{}")).toDF()
    run(clean, 0L)
    assert(spark.read.parquet(raw).count() == 2)
    assert(reportingMap(rep)(java.sql.Date.valueOf("2024-01-01")) == 10.0)
    // batch 1: duplicate event_id — uniqueness breached; the per-row rules
    // could never catch this. RAW and REPORTING must stay at batch-0 state,
    // the whole batch lands rejected, and the report records the failure.
    val dirty = Seq(
      PropEvent(7, ts("2024-01-02 10:00:00"), 1, "purchase", 99.0, "{}"),
      PropEvent(7, ts("2024-01-02 11:00:00"), 2, "purchase", 5.0, "{}")).toDF()
    run(dirty, 1L)
    assert(spark.read.parquet(raw).count() == 2, "dirty batch leaked to RAW")
    assert(reportingMap(rep) ==
      Map(java.sql.Date.valueOf("2024-01-01") -> 10.0))
    assert(spark.read.parquet(rej).count() == 2)
    val failedRows = spark.read.parquet(chk)
      .filter(col("ingest_batch") === "1" && !col("passed"))
      .select("check_name").as[String].collect().toSeq
    assert(failedRows == Seq("uniqueness_event_id"))
    // replaying the rejected batch is idempotent: same partitions replaced
    run(dirty, 1L)
    assert(spark.read.parquet(rej).count() == 2)
    assert(spark.read.parquet(raw).count() == 2)
    // a replay of the SAME batch id that now PASSES (upstream fix) must
    // publish AND clear its stale rejected copy — otherwise forensics
    // shows a "rejected" twin of a published batch
    val fixed = Seq(
      PropEvent(7, ts("2024-01-02 10:00:00"), 1, "purchase", 99.0, "{}"),
      PropEvent(8, ts("2024-01-02 11:00:00"), 2, "purchase", 5.0, "{}")).toDF()
    run(fixed, 1L)
    assert(spark.read.parquet(raw).count() == 4, "fixed replay not published")
    assert(!new java.io.File(rej).listFiles().exists(_.getName.startsWith(
      "event_date")), "stale rejected copy survived the passing replay")
  }

  test("gate composes with row rules: quarantinable rows don't reject the batch") {
    import graft.ops.Checks
    import graft.ingest.Cleaning
    val raw = tempDir("graft-cgr").toString
    val rep = tempDir("graft-cgp").toString
    val chk = tempDir("graft-cgc").toString
    val rej = tempDir("graft-cgx").toString
    val qua = tempDir("graft-cgq").toString
    // one rule-failing row (negative value) among good ones: the per-row
    // split must strip it FIRST, so the constraint suite judges only the
    // publishable half — checks-before-quarantine would wholesale-reject
    // every batch containing a single quarantinable row
    val batch = Seq(
      PropEvent(1, ts("2024-01-01 10:00:00"), 1, "purchase", 10.0, "{}"),
      PropEvent(2, ts("2024-01-01 11:00:00"), 2, "purchase", -3.0, "{}"),
      PropEvent(3, ts("2024-01-01 12:00:00"), 3, "view", 1.0, "{}")).toDF()
    Sinks.warehouseBatchChecked(batch, 0L, raw, rep,
      EventQueries.dailyRevenue, Checks.dataChecks, chk, rej,
      quarantinePath = qua, rules = Cleaning.standardEventRules)
    assert(spark.read.parquet(qua).count() == 1, "bad row not quarantined")
    assert(spark.read.parquet(raw).count() == 2, "valid half not published")
    assert(reportingMap(rep)(java.sql.Date.valueOf("2024-01-01")) == 10.0)
    assert(!new java.io.File(rej).listFiles().exists(_.getName.startsWith(
      "event_date")), "valid half wrongly rejected")
    // and the gate FAILS CLOSED on a NULL passed column
    val nullReport = (d: org.apache.spark.sql.DataFrame) =>
      Checks.dataChecks(d).withColumn("passed",
        org.apache.spark.sql.functions.lit(null).cast("boolean"))
    val raw2 = tempDir("graft-cgr2").toString
    val rep2 = tempDir("graft-cgp2").toString
    Sinks.warehouseBatchChecked(batch, 0L, raw2, rep2,
      EventQueries.dailyRevenue, nullReport, chk, rej)
    assert(!new java.io.File(raw2).listFiles().exists(_.getName.startsWith(
      "event_date")), "NULL passed slipped the gate")
    assert(spark.read.parquet(rej).count() == 3,
      "never-evaluated batch not parked")
  }

  test("streamToWarehouseChecked gates per micro-batch with the lineage salt") {
    import graft.ops.Checks
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PropEvent]
    val raw = tempDir("graft-sgr").toString
    val rep = tempDir("graft-sgp").toString
    val chk = tempDir("graft-sgc").toString
    val rej = tempDir("graft-sgx").toString
    val ck = tempDir("graft-sgk").toString
    val q = Sinks.streamToWarehouseChecked(mem.toDF(), raw, rep, ck,
      EventQueries.dailyRevenue, Checks.dataChecks, chk, rej)
    try {
      mem.addData(
        PropEvent(1, ts("2024-01-01 10:00:00"), 1, "purchase", 10.0, "{}"))
      q.processAllAvailable()
      assert(spark.read.parquet(raw).count() == 1)
      // dirty batch: duplicate event_id → held, rejected, reporting intact
      mem.addData(
        PropEvent(9, ts("2024-01-02 10:00:00"), 1, "purchase", 99.0, "{}"),
        PropEvent(9, ts("2024-01-02 11:00:00"), 2, "purchase", 5.0, "{}"))
      q.processAllAvailable()
      assert(spark.read.parquet(raw).count() == 1, "dirty batch leaked")
      assert(spark.read.parquet(rej).count() == 2)
      assert(reportingMap(rep) ==
        Map(java.sql.Date.valueOf("2024-01-01") -> 10.0))
      // the checkpoint-derived salt reached the report partitions: the
      // ingest_batch keys are '<8-hex-salt>-<batchId>', never bare ids
      val keys = spark.read.parquet(chk).select("ingest_batch")
        .distinct().as[String].collect().toSeq.sorted
      assert(keys.forall(_.matches("[0-9a-f]{8}-\\d+")), s"keys: $keys")
      assert(keys.map(_.split("-")(1)).sorted == Seq("0", "1"))
    } finally q.stop()
  }

  test("incremental refresh input does not grow as RAW history accumulates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PropEvent]
    val raw = tempDir("graft-raw2").toString
    val rep = tempDir("graft-rep2").toString
    val ck = tempDir("graft-whck2").toString
    // tracks records AND bytes actually read from files between marks;
    // incremental refresh should read only the micro-batch's day
    // partitions, so the per-batch read stays flat while RAW grows batch
    // over batch — the bytes series is the guard that survives refactors
    // which keep row counts flat but re-scan history (e.g. a filter that
    // no longer prunes partitions still reads every file's bytes)
    val meter = Meter(spark)
    val q = Sinks.streamToWarehouse(mem.toDF(), raw, rep, ck,
      EventQueries.dailyRevenue)
    try {
      val perBatch = (1 to 4).map { day =>
        mem.addData(
          PropEvent(day * 10L, ts(f"2024-01-$day%02d 10:00:00"), 1, "purchase", 1.0, "{}"),
          PropEvent(day * 10L + 1, ts(f"2024-01-$day%02d 11:00:00"), 2, "purchase", 2.0, "{}"),
          PropEvent(day * 10L + 2, ts(f"2024-01-$day%02d 12:00:00"), 3, "view", 9.0, "{}"))
        val (_, u) = meter.run(q.processAllAvailable())
        (u.inputRecords, u.inputBytes)
      }
      // 12 RAW rows on disk by batch 4, but batch 4 still reads only its
      // own day (3 rows + the stream's re-reads) — a full-history
      // refresh would make the series grow by ≥3 rows per batch
      assert(spark.read.parquet(raw).count() == 12)
      assert(perBatch.last._1 < perBatch.head._1 + 3,
        s"per-batch input rows grew with history: $perBatch")
      // bytes: batch 4 reads ~one day's files like batch 1 did; a
      // full-history re-read would be ~4× batch 1 by now
      assert(perBatch.last._2 < perBatch.head._2 * 2,
        s"per-batch input bytes grew with history: $perBatch")
      assert(reportingMap(rep).values.sum == 4 * 3.0)
    } finally {
      q.stop()
      meter.close()
    }
  }

  test("warehouseBatch replay is idempotent, including over a torn attempt") {
    // the exactly-once-observable core: re-running a batchId REPLACES its
    // own (day, batch) raw partitions instead of appending — so foreachBatch
    // replay after a crash (its native at-least-once) cannot duplicate
    val raw = tempDir("graft-raw-rp").toString
    val rep = tempDir("graft-rep-rp").toString
    val b0 = Seq(
      PropEvent(1, ts("2024-01-01 10:00:00"), 1, "purchase", 10.0, "{}"),
      PropEvent(2, ts("2024-01-01 11:00:00"), 2, "view", 1.0, "{}")).toDF()
    val b1 = Seq(
      PropEvent(3, ts("2024-01-01 12:00:00"), 3, "purchase", 2.5, "{}"),
      PropEvent(4, ts("2024-01-02 09:00:00"), 1, "purchase", 5.0, "{}")).toDF()
    def rawRows() = spark.read.parquet(raw)
      .select("event_id").as[Long].collect().sorted.toSeq
    Sinks.warehouseBatch(b0, 0L, raw, rep, EventQueries.dailyRevenue)
    val afterB0 = rawRows()
    // straight replay of batch 0 (e.g. commit-log write crashed): no change
    Sinks.warehouseBatch(b0, 0L, raw, rep, EventQueries.dailyRevenue)
    assert(rawRows() == afterB0, "replayed batch duplicated raw rows")
    // TORN attempt of batch 1: crashed after writing only a subset of its
    // rows; the replay with the full batch must REPLACE the partial
    Sinks.warehouseBatch(b1.limit(1), 1L, raw, rep, EventQueries.dailyRevenue)
    Sinks.warehouseBatch(b1, 1L, raw, rep, EventQueries.dailyRevenue)
    assert(rawRows() == Seq(1L, 2L, 3L, 4L),
      s"torn batch-1 attempt not healed: ${rawRows()}")
    // reporting is a pure function of RAW after any replay sequence
    assert(reportingMap(rep) == Map(
      java.sql.Date.valueOf("2024-01-01") -> 12.5,
      java.sql.Date.valueOf("2024-01-02") -> 5.0))
  }

  test("warehouseBatchChecked job budget; REPORTING refreshes exactly the batch's days") {
    import graft.ops.Checks
    val raw = tempDir("graft-jb-raw").toString
    val rep = tempDir("graft-jb-rep").toString
    val chk = tempDir("graft-jb-chk").toString
    val rej = tempDir("graft-jb-rej").toString
    def run(b: org.apache.spark.sql.DataFrame, id: Long) =
      Sinks.warehouseBatchChecked(b, id, raw, rep,
        EventQueries.dailyRevenue, Checks.dataChecks, chk, rej)
    def ev(id: Long, day: Int, kind: String, v: Double) =
      PropEvent(id, ts(f"2024-01-$day%02d 10:00:00"), id, kind, v, "{}")
    // earlier batches: RAW and REPORTING already hold days 1..5
    run(Seq(ev(1, 1, "purchase", 1.0), ev(2, 2, "purchase", 2.0)).toDF(), 0L)
    run(Seq(ev(3, 3, "purchase", 3.0), ev(4, 4, "purchase", 4.0),
      ev(5, 5, "purchase", 5.0)).toDF(), 1L)
    def files(): Map[String, Set[String]] =
      new java.io.File(rep).listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.list().toSet).toMap
    val before = files()
    // a batch spanning three days: two already published, one new
    val batch = Seq(ev(10, 2, "purchase", 20.0), ev(11, 4, "view", 9.0),
      ev(12, 6, "purchase", 6.5), ev(13, 6, "purchase", 0.25)).toDF()
    val meter = Meter(spark)
    val jobs = try meter.run(run(batch, 2L))._2.jobs finally meter.close()
    // gate: the suite's jobs + one local report write; RAW write; the
    // REPORTING refresh. No schema inference, no distinct over the batch,
    // no second probe of the report.
    assert(jobs <= WarehouseBatchJobBudget,
      s"$jobs jobs for one checked batch (budget $WarehouseBatchJobBudget)")
    val after = files()
    val touched = Seq(2, 4, 6).map(d => f"event_date=2024-01-$d%02d").toSet
    assert(after.keySet == before.keySet + "event_date=2024-01-06")
    after.foreach { case (day, names) =>
      if (touched(day)) assert(before.get(day) != Some(names),
        s"$day was not refreshed")
      else assert(before(day) == names, s"$day was rewritten")
    }
    val fromRaw = EventQueries.dailyRevenue(spark.read.parquet(raw)
        .drop("event_date", "ingest_batch"))
      .select("event_date", "total_revenue")
      .as[(java.sql.Date, Double)].collect().toMap
    assert(reportingMap(rep) == fromRaw)
    assert(fromRaw(java.sql.Date.valueOf("2024-01-02")) == 22.0)
    assert(fromRaw(java.sql.Date.valueOf("2024-01-06")) == 6.75)
  }

  test("an all-quarantined batch publishes no REPORTING and does not throw") {
    import graft.ops.Checks
    import graft.ingest.Cleaning
    val raw = tempDir("graft-aq-raw").toString
    val rep = tempDir("graft-aq-rep").toString
    val chk = tempDir("graft-aq-chk").toString
    val rej = tempDir("graft-aq-rej").toString
    val qua = tempDir("graft-aq-qua").toString
    val batch = Seq(
      PropEvent(1, ts("2024-01-01 10:00:00"), 1, "purchase", -3.0, "{}"),
      PropEvent(2, ts("2024-01-02 10:00:00"), 2, "error", 1.0, "{}")).toDF()
    Sinks.warehouseBatchChecked(batch, 0L, raw, rep,
      EventQueries.dailyRevenue, Checks.dataChecks, chk, rej,
      quarantinePath = qua, rules = Cleaning.standardEventRules)
    assert(spark.read.parquet(qua).count() == 2)
    def partitions(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.startsWith("event_date"))
    assert(partitions(raw) == 0, "empty valid half wrote RAW partitions")
    assert(partitions(rep) == 0, "empty valid half wrote REPORTING")
    assert(partitions(rej) == 0, "empty valid half was rejected")
  }

  test("observedRowWidth's footer cache equals a cold computation") {
    import scala.jdk.CollectionConverters._
    val raw = tempDir("graft-rw-raw").toString
    val rep = tempDir("graft-rw-rep").toString
    val sampleFiles = 4
    // the definition, computed from scratch: first sampleFiles non-empty
    // parquet files by path, their bytes and footer rows
    def cold(): Option[(Long, Long)] = {
      val walk = Files.walk(java.nio.file.Paths.get(raw))
      val files = try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          Files.isRegularFile(p) && Files.size(p) > 0)
        .toSeq.sortBy(_.toString).take(sampleFiles)
      finally walk.close()
      val conf = spark.sessionState.newHadoopConf()
      val rows = files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
        try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }.sum
      if (files.isEmpty) None else Some((files.map(Files.size(_)).sum, rows))
    }
    def width() = Sinks.observedRowWidth(spark, raw, sampleFiles)
    def batch(id: Long, n: Int) = (0 until n).map(k => PropEvent(id * 100 + k,
      ts(f"2024-01-${id + 1}%02d 10:00:00"), k, "purchase", 1.0 + k, "{}"))
      .toDF().coalesce(1)
    (0L until 6L).foreach { id =>
      Sinks.warehouseBatch(batch(id, 2), id, raw, rep, EventQueries.dailyRevenue)
      assert(width() == cold(), s"after batch $id")
    }
    val parquetFiles = Files.walk(java.nio.file.Paths.get(raw)).iterator()
      .asScala.count(_.toString.endsWith(".parquet"))
    assert(parquetFiles > sampleFiles)
    // a replayed batch replaces sampled files with different ones
    assert(width() == cold())
    Sinks.warehouseBatch(batch(0, 7), 0L, raw, rep, EventQueries.dailyRevenue)
    assert(width() == cold(), "after replaying batch 0")
    // a sampled file replaced IN PLACE (same path, new size and mtime)
    val walk = Files.walk(java.nio.file.Paths.get(raw))
    val sorted = try walk.iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    finally walk.close()
    val (first, replayed) = (sorted(1), sorted.head)
    assert(Files.size(first) != Files.size(replayed))
    val before = width()
    // the checksum sidecar travels with the data, as a real rewrite's does
    def crc(p: java.nio.file.Path) = p.resolveSibling(s".${p.getFileName}.crc")
    Seq(replayed -> first, crc(replayed) -> crc(first)).foreach { case (a, b) =>
      Files.copy(a, b, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    assert(width() == cold(), "after an in-place replacement")
    assert(width() != before)
  }

  test("dead-letter layer: quarantined rows split out, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val raw = tempDir("graft-raw-q").toString
    val rep = tempDir("graft-rep-q").toString
    val dead = tempDir("graft-dead-q").toString
    val ck = tempDir("graft-ck-q").toString
    val mem = MemoryStream[PropEvent]
    val q = Sinks.streamToWarehouse(mem.toDF(), raw, rep, ck,
      EventQueries.dailyRevenue, quarantinePath = dead,
      rules = graft.ingest.Cleaning.standardEventRules)
    try {
      mem.addData(
        PropEvent(1, ts("2024-01-01 10:00:00"), 1, "purchase", 10.0, "{}"),
        PropEvent(2, ts("2024-01-01 11:00:00"), 2, "purchase", 0.5, "{}"), // micro
        PropEvent(3, ts("2024-01-01 12:00:00"), 3, "error", 1.0, "{}"))    // error
      q.processAllAvailable()
    } finally q.stop()
    // dead letter holds exactly the violating rows, with reasons
    val bad = spark.read.parquet(dead)
      .select("event_id", "quarantine_reason")
      .as[(Long, String)].collect().toMap
    assert(bad == Map(2L -> "micro_purchase", 3L -> "error_event"))
    // RAW and reporting see only the valid half
    assert(spark.read.parquet(raw).select("event_id")
      .as[Long].collect().toSeq == Seq(1L))
    assert(reportingMap(rep)(java.sql.Date.valueOf("2024-01-01")) == 10.0)
    // replaying the batch replaces the dead-letter partitions (no dupes)
    val batch = Seq(
      PropEvent(1, ts("2024-01-01 10:00:00"), 1, "purchase", 10.0, "{}"),
      PropEvent(2, ts("2024-01-01 11:00:00"), 2, "purchase", 0.5, "{}"),
      PropEvent(3, ts("2024-01-01 12:00:00"), 3, "error", 1.0, "{}")).toDF()
    val lineage = "x"
    Sinks.warehouseBatch(batch, 7, raw, rep, EventQueries.dailyRevenue,
      lineage = lineage, quarantinePath = dead,
      rules = graft.ingest.Cleaning.standardEventRules)
    Sinks.warehouseBatch(batch, 7, raw, rep, EventQueries.dailyRevenue,
      lineage = lineage, quarantinePath = dead,
      rules = graft.ingest.Cleaning.standardEventRules)
    val deadIds = spark.read.parquet(dead)
      .filter(col("ingest_batch") === "x-7")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(deadIds == Seq(2L, 3L), s"replay duplicated dead letter: $deadIds")
  }

  test("two pipelines sharing a rawPath never overwrite each other's batches") {
    // batchIds are checkpoint-scoped: without the lineage salt, a backfill
    // with a FRESH checkpoint would replay ingest_batch=0 and the dynamic
    // overwrite would DELETE the first pipeline's partitions
    implicit val sqlCtx = spark.sqlContext
    val raw = tempDir("graft-raw-ln").toString
    val rep = tempDir("graft-rep-ln").toString
    def runPipeline(ck: String, rows: Seq[PropEvent]): Unit = {
      val mem = MemoryStream[PropEvent]
      val q = Sinks.streamToWarehouse(mem.toDF(), raw, rep, ck,
        EventQueries.dailyRevenue)
      try { mem.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    }
    runPipeline(tempDir("graft-ck-ln1").toString, Seq(
      PropEvent(1, ts("2024-01-01 10:00:00"), 1, "purchase", 10.0, "{}")))
    runPipeline(tempDir("graft-ck-ln2").toString, Seq(
      PropEvent(2, ts("2024-01-01 11:00:00"), 2, "purchase", 2.5, "{}")))
    // both pipelines' batch-0 rows coexist (same day, distinct lineages)
    val ids = spark.read.parquet(raw).select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L), s"lineage collision lost rows: $ids")
    assert(reportingMap(rep)(java.sql.Date.valueOf("2024-01-01")) == 12.5)
  }

  test("restart from the checkpoint converges to the uninterrupted run (ST4)") {
    // four single-file micro-batches; run A sees all four uninterrupted;
    // run B processes two, is stopped, and a NEW query resumes from the
    // same checkpoint with all four present — final RAW and REPORTING must
    // match run A exactly, with no batch double-applied (counts exact)
    val events = (1 to 4).flatMap { day =>
      Seq(
        PropEvent(day * 10L, ts(f"2024-01-$day%02d 10:00:00"), 1, "purchase",
          day.toDouble, "{}"),
        PropEvent(day * 10L + 1, ts(f"2024-01-$day%02d 11:00:00"), 2, "view",
          9.0, "{}"))
    }
    def writeFile(dir: String, name: String, rows: Seq[PropEvent]): Unit = {
      import scala.jdk.CollectionConverters._
      val out = tempDir("graft-rsf").toString + "/out"
      rows.toDF().coalesce(1).write.parquet(out)
      val ls = Files.list(java.nio.file.Paths.get(out))
      val part =
        try ls.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally ls.close()
      Files.move(part, java.nio.file.Paths.get(s"$dir/$name"))
    }
    val schema = events.take(1).toDF().schema
    def runOver(srcDir: String, raw: String, rep: String,
        ck: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = Sinks.streamToWarehouse(stream, raw, rep, ck,
        EventQueries.dailyRevenue)
      try q.processAllAvailable() finally q.stop()
    }
    // run A: uninterrupted over all four files
    val srcA = tempDir("graft-rs-srcA").toString
    (0 until 4).foreach(i =>
      writeFile(srcA, f"f$i%02d.parquet", events.slice(i * 2, i * 2 + 2)))
    val (rawA, repA, ckA) = (
      tempDir("graft-rs-rawA").toString,
      tempDir("graft-rs-repA").toString,
      tempDir("graft-rs-ckA").toString)
    runOver(srcA, rawA, repA, ckA)
    // run B: two files, stop, two more files, RESUME from the checkpoint
    val srcB = tempDir("graft-rs-srcB").toString
    (0 until 2).foreach(i =>
      writeFile(srcB, f"f$i%02d.parquet", events.slice(i * 2, i * 2 + 2)))
    val (rawB, repB, ckB) = (
      tempDir("graft-rs-rawB").toString,
      tempDir("graft-rs-repB").toString,
      tempDir("graft-rs-ckB").toString)
    runOver(srcB, rawB, repB, ckB)
    assert(spark.read.parquet(rawB).count() == 4, "pre-restart raw rows")
    (2 until 4).foreach(i =>
      writeFile(srcB, f"f$i%02d.parquet", events.slice(i * 2, i * 2 + 2)))
    runOver(srcB, rawB, repB, ckB) // fresh query, same checkpoint
    def rawSet(p: String) = spark.read.parquet(p)
      .select("event_id", "user_id", "event_type", "value")
      .as[(Long, Long, String, Double)].collect().sorted.toSeq
    assert(spark.read.parquet(rawB).count() == 8,
      "restart double-applied or skipped a batch")
    assert(rawSet(rawB) == rawSet(rawA))
    assert(reportingMap(repB) == reportingMap(repA))
    assert(reportingMap(repA) == (1 to 4).map(d =>
      java.sql.Date.valueOf(f"2024-01-$d%02d") -> d.toDouble).toMap)
  }

  test("incremental probe rejects reporting fns at call time, probe shape matches runtime") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PropEvent]
    def dirs() = (tempDir("graft-p").toString,
      tempDir("graft-p").toString,
      tempDir("graft-p").toString)
    // a reporting fn that leans on a pre-stamped event_date input column
    // must fail when streamToWarehouse is CALLED (probe), not mid-stream
    // inside foreachBatch: the runtime input has event_date dropped
    val (r1, p1, c1) = dirs()
    intercept[Exception] {
      Sinks.streamToWarehouse(mem.toDF(), r1, p1, c1,
        ev => ev.groupBy(col("event_date"))
          .agg(sum("value").as("total_revenue")))
    }
    // a fn with no event_date output at all fails the require with the
    // clear message
    val (r2, p2, c2) = dirs()
    val e = intercept[IllegalArgumentException] {
      Sinks.streamToWarehouse(mem.toDF(), r2, p2, c2,
        ev => ev.groupBy(col("event_type"))
          .agg(sum("value").as("total_revenue")))
    }
    assert(e.getMessage.contains("event_date"))
  }

  private def dirSnapshot(dir: String): Map[String, Long] = {
    val d = new java.io.File(dir)
    assert(d.isDirectory, s"missing partition dir $dir")
    d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  test("upsertParquetPartitioned rewrites only partitions carrying updated keys") {
    val path = tempDir("graft-upsertp").toString + "/t"
    Sinks.upsertParquetPartitioned(
      Seq((1L, "d1", "a"), (2L, "d1", "b"), (3L, "d2", "c"), (4L, "d3", "d"))
        .toDF("k", "day", "v"),
      path, Seq("k"), "day")
    val before2 = dirSnapshot(s"$path/day=d2")
    val before3 = dirSnapshot(s"$path/day=d3")
    // update one key in d1, insert a new one there; d2/d3 untouched
    def update(): Unit = Sinks.upsertParquetPartitioned(
      Seq((2L, "d1", "B"), (5L, "d1", "e")).toDF("k", "day", "v"),
      path, Seq("k"), "day")
    def rows() = spark.read.parquet(path).select("k", "day", "v")
      .as[(Long, String, String)].collect().toSeq
    update()
    val want = Set((1L, "d1", "a"), (2L, "d1", "B"), (5L, "d1", "e"),
      (3L, "d2", "c"), (4L, "d3", "d"))
    assert(rows().toSet == want)
    // untouched partition directories keep their exact files and mtimes —
    // the O(affected partitions) claim, not just O(correct result)
    assert(dirSnapshot(s"$path/day=d2") == before2)
    assert(dirSnapshot(s"$path/day=d3") == before3)
    assert(!new java.io.File(path + Sinks.TmpSuffix).exists())
    // idempotent re-apply: the same rows, no duplicates
    update()
    assert(rows().sorted == want.toSeq.sorted)
  }

  test("partition-level crash leftovers are healed before the target is read") {
    import java.nio.file.{Files => F, Paths, StandardCopyOption}
    val path = tempDir("graft-upsertc").toString + "/t"
    Sinks.upsertParquetPartitioned(
      Seq((1L, "d1", "a"), (2L, "d2", "b"), (3L, "d3", "c"))
        .toDF("k", "day", "v"),
      path, Seq("k"), "day")
    // simulate a crash BETWEEN the swap's two renames on d2: the real dir
    // is gone, only the backup exists — and the next batch does NOT touch
    // d2, so only up-front healing can restore it
    val d2backup = Paths.get(s"$path/day=d2" + Sinks.BackupSuffix)
    F.move(Paths.get(s"$path/day=d2"), d2backup, StandardCopyOption.ATOMIC_MOVE)
    // and a crash AFTER d3's new data went live but before backup cleanup
    val d3backup = Paths.get(s"$path/day=d3" + Sinks.BackupSuffix)
    F.createDirectory(d3backup)
    Sinks.upsertParquetPartitioned(
      Seq((1L, "d1", "A")).toDF("k", "day", "v"), path, Seq("k"), "day")
    val got = spark.read.parquet(path).select("k", "day", "v")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "d1", "A"), (2L, "d2", "b"), (3L, "d3", "c")),
      s"got $got")
    assert(F.exists(Paths.get(s"$path/day=d2")))
    assert(!F.exists(d2backup))
    assert(!F.exists(d3backup))
    // compact heals too and never treats a backup as a leaf
    F.move(Paths.get(s"$path/day=d2"), d2backup, StandardCopyOption.ATOMIC_MOVE)
    Sinks.compact(spark, path)
    val after = spark.read.parquet(path).select("k", "day", "v")
      .as[(Long, String, String)].collect().toSet
    assert(after == got && F.exists(Paths.get(s"$path/day=d2")))
  }

  test("compact compacts fragmented partition dirs and skips compact ones") {
    val path = tempDir("graft-compactpp").toString + "/t"
    val ev = Sources.events(spark, sf("sf0.001"))
    Sinks.writeDatePartitioned(ev.repartition(4), path)
    val total = ev.count()
    Sinks.compact(spark, path, targetBytes = 1L << 30)
    val days = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
      .map(_.getName).sorted
    assert(days.length > 1)
    days.foreach(d => assert(dirSnapshot(s"$path/$d").size == 1))
    assert(spark.read.parquet(path).count() == total)
    // fragment ONE day by appending files directly into its leaf dir
    // (what a per-batch streaming append does), leave the rest compact
    val fragmented = days.head
    val others = days.tail.map(d => d -> dirSnapshot(s"$path/$d")).toMap
    val extra = spark.read.parquet(s"$path/$fragmented")
    extra.coalesce(1).write.mode("append").parquet(s"$path/$fragmented")
    val rows = spark.read.parquet(path).count()
    Sinks.compact(spark, path, targetBytes = 1L << 30)
    assert(dirSnapshot(s"$path/$fragmented").size == 1,
      "fragmented partition must be rewritten")
    // already-compact partitions are SKIPPED byte-for-byte
    others.foreach { case (d, snap) => assert(dirSnapshot(s"$path/$d") == snap) }
    assert(spark.read.parquet(path).count() == rows)
  }

  test("recoverSwap restores a crashed backup-then-swap") {
    val root = tempDir("graft-recover").toString
    val path = root + "/t"
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    // simulate a crash between the two moves: data only under the backup
    java.nio.file.Files.move(java.nio.file.Paths.get(path),
      java.nio.file.Paths.get(path + Sinks.BackupSuffix))
    Sinks.recoverSwap(path)
    assert(spark.read.parquet(path).count() == 1)
    assert(!new java.io.File(path + Sinks.BackupSuffix).exists())
  }

  test("zorderKey interleaves bits exactly (scala reference parity)") {
    def ref(a: Long, b: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L)((acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)))
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 9L),
      (123456L, 654321L), ((1L << 21) - 1, (1L << 21) - 1))
    val got = cases.toDF("a", "b")
      .select(Sinks.zorderKey(col("a"), col("b"), 21).as("z"))
      .as[Long].collect().toSeq
    assert(got == cases.map { case (a, b) => ref(a, b, 21) })
  }

  test("writeZOrdered fails loudly on keys outside [0, 2^bits) instead of " +
      "silently interleaving garbage") {
    val out = tempDir("graft-zg").toString + "/z"
    def write(rows: Seq[(Long, Long)]): Unit =
      Sinks.writeZOrdered(rows.toDF("a", "b"), out, partitions = 1,
        "a", "b", bits = 4)
    write(Seq((0L, 15L), (15L, 0L))) // boundary values pass
    def failsOn(rows: Seq[(Long, Long)]): Unit = {
      // raise_error surfaces as SparkRuntimeException (USER_RAISED_EXCEPTION),
      // possibly wrapped in a SparkException job failure — match the message
      val e = intercept[Exception] { write(rows) }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else String.valueOf(t.getMessage) +: msgs(t.getCause)
      assert(msgs(e).exists(_.contains("writeZOrdered")),
        s"guard did not fire: $e")
    }
    failsOn(Seq((1L, 2L), (-1L, 3L)))  // negative (the user_id=-1 sentinel)
    failsOn(Seq((1L, 2L), (16L, 3L)))  // overflows bits=4
  }

  test("z-ordered layout skips row groups on BOTH dimensions (measured)") {
    // the claim behind writeZOrdered: one layout, pushed-predicate skipping
    // on EITHER key — vs a single-key sort, which skips on its key only.
    // Measured via per-scan parquet recordsRead (small files = one row
    // group each, so row-group skipping ≈ file skipping).
    val ev = Sources.events(spark, sf("sf0.01"))
      .select(col("user_id"), unix_micros(col("ts"))
        .divide(86400000000L).cast("long").as("day"), col("value"))
    val total = ev.count()
    val zPath = tempDir("graft-z").toString + "/z"
    val dayPath = tempDir("graft-z").toString + "/day"
    Sinks.writeZOrdered(ev, zPath, partitions = 16, "user_id", "day")
    Sinks.writeRangeLayout(ev, dayPath, 16, "day")
    val meter = Meter(spark)
    def recordsFor(path: String, pred: org.apache.spark.sql.Column): Long =
      meter.run(spark.read.parquet(path).filter(pred).count())._2.inputRecords
    try {
      val someUser = ev.select("user_id").head().getLong(0)
      val someDay = ev.select("day").head().getLong(0)
      val zUser = recordsFor(zPath, col("user_id") === someUser)
      val zDay = recordsFor(zPath, col("day") === someDay)
      val dayUser = recordsFor(dayPath, col("user_id") === someUser)
      // z-layout: BOTH point predicates skip most of the table
      assert(zUser < total * 7 / 10, s"z user query read $zUser of $total")
      assert(zDay < total * 7 / 10, s"z day query read $zDay of $total")
      // single-key (day) layout: the user predicate skips ~nothing — the
      // failure mode z-order exists to fix (every file spans all users)
      assert(dayUser > total * 9 / 10,
        s"day-sorted layout unexpectedly skipped for user: $dayUser/$total")
    } finally meter.close()
  }

  test("writeRangeLayout produces disjoint, internally sorted file ranges") {
    val path = tempDir("graft-range").toString + "/t"
    val ev = Sources.events(spark, sf("sf0.001"))
    Sinks.writeRangeLayout(ev, path, 4, "event_id")
    // per-file min/max must not overlap — that disjointness is what lets
    // parquet footer stats skip whole files on a range predicate
    val spans = spark.read.parquet(path)
      .select(col("event_id"),
        input_file_name().as("f"))
      .groupBy("f").agg(min("event_id").as("lo"), max("event_id").as("hi"))
      .orderBy("lo")
      .as[(String, Long, Long)].collect()
    assert(spans.length > 1)
    spans.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 < b._2, s"overlapping file ranges: $a vs $b")
    }
    assert(spark.read.parquet(path).count() == ev.count()) // no rows lost
  }

  test("compact merges small files preserving rows") {
    val path = tempDir("graft-compact").toString + "/t"
    val ev = Sources.events(spark, sf("sf0.001"))
    ev.repartition(16).write.parquet(path) // 16 tiny files
    def parquetFiles() = {
      val d = new java.io.File(path)
      d.listFiles().count(f => f.getName.endsWith(".parquet"))
    }
    assert(parquetFiles() == 16)
    Sinks.compact(spark, path, targetBytes = 1L << 30) // everything fits one
    assert(parquetFiles() == 1, s"expected 1 file, got ${parquetFiles()}")
    assert(spark.read.parquet(path).count() == ev.count())
    assert(!new java.io.File(path + Sinks.BackupSuffix).exists())
    assert(!new java.io.File(path + Sinks.TmpSuffix).exists())
  }

  test("compact preserves Hive-partitioned layouts") {
    val path = tempDir("graft-compactp").toString + "/t"
    val ev = Sources.events(spark, sf("sf0.001"))
    Sinks.writeDatePartitioned(ev.repartition(8), path)
    val dirsBefore = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
      .map(_.getName).toSet
    assert(dirsBefore.nonEmpty)
    Sinks.compact(spark, path, targetBytes = 1L << 30)
    val dirsAfter = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
      .map(_.getName).toSet
    // a flattened rewrite would be a correctness hazard: later dynamic
    // partition overwrites only replace matching k=v dirs
    assert(dirsAfter == dirsBefore, "partition directories must survive")
    assert(spark.read.parquet(path).count() == ev.count())
  }

  test("approximate DAU stays within the configured error of exact") {
    val ev = Sources.events(spark, sf("sf0.01"))
    val approx = EventQueries.dailyActiveUsersApprox(ev)
      .as[(java.sql.Date, String, Long)].collect()
      .map(r => (r._1.toString, r._2) -> r._3).toMap
    val exact = EventQueries.dailyActiveUsers(ev)
      .as[(java.sql.Date, String, Long)].collect()
      .map(r => (r._1.toString, r._2) -> r._3).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.1, s"$k approx=$a exact=$e")
    }
  }

  test("stored day-sketches serve any rolling window without raw events") {
    val ev = Sources.events(spark, sf("sf0.001"))
    val path = tempDir("graft-sketches").toString + "/dau_sk"
    sink.Sinks.writeDailySketches(ev, path)
    val stored = spark.read.parquet(path)
    // kilobytes of state: one small binary sketch per day
    assert(stored.count() <= 31)
    val fromStore = EventQueries.rollingFromSketches(stored, days = 7)
      .as[(java.sql.Date, Long)].collect().toSeq
    val inline = EventQueries.rollingDauSketch(ev, days = 7)
      .as[(java.sql.Date, Long)].collect().toSeq
    assert(fromStore == inline && fromStore.nonEmpty)
  }

  test("writeBucketed: co-bucketed tables join with NO exchange and match " +
      "the plain join") {
    val ev = Sources.events(spark, sf("sf0.001"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(count(lit(1)).as("n_views"))
    val buys = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("n_buys"))
    val dir = tempDir("graft-bucketed")
    Sinks.writeBucketed(views, "b_views", "user_id", 8, Some(s"$dir/views"))
    Sinks.writeBucketed(buys, "b_buys", "user_id", 8, Some(s"$dir/buys"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("b_views").join(spark.table("b_buys"), "user_id")
      val rows = j.collect() // finalize AQE before inspecting the plan
      val plan = j.queryExecution.executedPlan.toString
      // the write-time layout replaces the per-join shuffle: no Exchange
      // of ANY kind (a BroadcastExchange would also match), SMJ zips
      // co-located buckets
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("SortMergeJoin"), plan)
      val plain = views.join(buys, "user_id").collect()
      assert(rows.map(_.toSeq).toSet == plain.map(_.toSeq).toSet)
      assert(rows.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_views")
      spark.sql("DROP TABLE IF EXISTS b_buys")
    }
  }

  test("repartitionByBytes sizes partitions by payload volume") {
    val meta = Multimodal.mediaByteStats(
      Sources.table(spark, sf("sf0.001"), "documents"))
    val total = meta.agg(sum("n_bytes")).as[Long].head()
    val target = total / 7
    val parts = Multimodal.repartitionByBytes(meta, "doc_id", "n_bytes", target)
      .rdd.getNumPartitions
    assert(parts == 8 || parts == 7, s"got $parts partitions")
  }
}
