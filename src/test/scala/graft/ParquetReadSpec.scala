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
  * Spark job; and its footer memo never serves a stale schema. The same
  * memo serves `observedRowWidth` and `parquetScanRowCount`: exact
  * answers, no footer read twice, no entry kept for a deleted root. */
class ParquetReadSpec extends SparkSpec {
  /** What `body` returns, and the jobs it launches. */
  private def jobsOf[A](body: => A): (A, Long) = {
    val meter = Meter(spark)
    try { val (a, u) = meter.run(body); (a, u.jobs) } finally meter.close()
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

  /** The parquet files under `dir`, in path order; none if it is missing. */
  private def parquetFiles(dir: String): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
      finally walk.close()
    }
  }

  test("parquetScanRowCount: count() of every sf0.001 table, zero jobs, " +
    "and a second call reads no footer") {
    val dir = java.nio.file.Paths.get(sf("sf0.001"))
    val tables =
      Fs.list(dir).map(_.toString).filter(_.endsWith(".parquet")).sorted
    assert(tables.size == 10, tables.mkString(", "))
    tables.foreach { t =>
      val df = Sources.parquet(spark, t)
      val (rows, jobs) = jobsOf(Sources.parquetScanRowCount(df))
      assert(jobs == 0, s"$t: $jobs jobs")
      assert(rows == Some(df.count()), t)
      val reads = Sources.footerReads
      assert(Sources.parquetScanRowCount(df) == rows, t)
      assert(Sources.footerReads == reads, s"$t: the memoized call read footers")
    }
  }

  test("parquetScanRowCount is None for two leaves, a non-parquet scan and " +
    "more than maxFiles files") {
    val dir = tempDir("graft-pq-rows")
    val (t, json) = (dir.resolve("t").toString, dir.resolve("j").toString)
    spark.range(10).repartition(2).write.parquet(t)
    spark.range(3).write.json(json)
    val df = Sources.parquet(spark, t)
    assert(parquetFiles(t).size == 2)
    assert(Sources.parquetScanRowCount(df) == Some(10L))
    assert(Sources.parquetScanRowCount(df.filter(col("id") > 4)) == Some(10L))
    assert(Sources.parquetScanRowCount(df, maxFiles = 1).isEmpty)
    assert(Sources.parquetScanRowCount(df.union(df)).isEmpty)
    assert(Sources.parquetScanRowCount(
      spark.read.schema("id long").json(json)).isEmpty)
  }

  test("the memo holds only the footers its callers' latest calls use") {
    val dir = tempDir("graft-pq-held")
    val (file, table) =
      (dir.resolve("t").toString, dir.resolve("table").toString)
    spark.range(2).coalesce(1).write.parquet(file)
    Sources.parquet(spark, file)
    def files = Sources.memoizedFiles.filter(_.startsWith(s"$dir/"))
    (1L to 4L).foreach { n =>
      // every overwrite writes new part-file names
      spark.range(3 * n).write.mode("overwrite").parquet(table)
      Sources.parquet(spark, table)
      assert(Sources.observedRowWidth(spark, table).exists(_._2 == 3 * n))
      assert(Sources.parquetScanRowCount(Sources.parquet(spark, table))
        .contains(3 * n))
      assert(files == (parquetFiles(file) ++ parquetFiles(table))
        .map(_.toString).toSet, s"overwrite $n")
    }
  }

  test("parquetScanRowCount reads a relation off the local file system " +
    "without the memo") {
    val dir = tempDir("graft-pq-viewfs")
    val t = dir.resolve("t").toString
    spark.range(10).repartition(2).write.parquet(t)
    val view = GraftSession.derive(spark,
      Map("fs.viewfs.mounttable.graft.link./t" -> s"file://$t"))
    val df = view.read.parquet("viewfs://graft/t")
    assert(df.inputFiles.forall(_.startsWith("viewfs:")), df.inputFiles.toSeq)
    val reads = Sources.footerReads
    assert(Sources.parquetScanRowCount(df).contains(10L))
    assert(Sources.footerReads - reads == parquetFiles(t).size)
    assert(!Sources.memoizedFiles.exists(_.startsWith(s"$dir/")))
  }

  test("a deleted read path's, table's or relation root's memo entry goes " +
    "at the next miss of any caller") {
    val dir = tempDir("graft-pq-gone")
    def write(name: String): String = {
      val p = dir.resolve(name).toString
      spark.range(4).coalesce(1).write.parquet(p)
      p
    }
    val callers: Seq[String => Unit] = Seq(
      p => Sources.parquet(spark, p),
      p => assert(Sources.observedRowWidth(spark, p).exists(_._2 == 4L)),
      p => assert(Sources.parquetScanRowCount(
        spark.read.schema("id long").parquet(p)).contains(4L)))
    def memo = Sources.memoizedPaths.filter(_.startsWith(s"$dir/"))
    def files = Sources.memoizedFiles.filter(_.startsWith(s"$dir/"))
    def filesOf(roots: Set[String]) =
      roots.flatMap(r => parquetFiles(r).map(_.toString))
    val held = callers.indices.map { i =>
      val p = write(s"root$i")
      callers(i)(p)
      p
    }
    assert(memo == held.toSet)
    assert(files == filesOf(held.toSet))
    // caller i's root is deleted, then the next caller misses elsewhere
    var live = held.toSet
    callers.indices.foreach { i =>
      Fs.deleteRecursively(held(i))
      val next = write(s"next$i")
      callers((i + 1) % callers.size)(next)
      live = live - held(i) + next
      assert(memo == live, s"after deleting ${held(i)}")
      assert(files == filesOf(live), s"after deleting ${held(i)}")
    }
  }

  test("Sources.parquet and observedRowWidth alternating on one RAW dir: " +
    "cold answers, and no unchanged footer is read again") {
    import scala.jdk.CollectionConverters._
    val root = tempDir("graft-pq-alt")
    val (raw, rep) = (root.resolve("raw").toString, root.resolve("rep").toString)
    val ev = Sources.events(spark, sf("sf0.001"))
    val sampleFiles = 64
    // the width sample, computed from scratch with its own footer reads
    def sample() = parquetFiles(raw).filter(Files.size(_) > 0).take(sampleFiles)
    def coldWidth(): Option[(Long, Long)] = {
      val conf = spark.sessionState.newHadoopConf()
      val rows = sample().map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
        try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }.sum
      Some((sample().map(Files.size(_)).sum, rows))
    }
    (0L until 4L).foreach { id =>
      val before = parquetFiles(raw).toSet
      val reads = Sources.footerReads
      // the batch's own file cap samples RAW before its write
      Sinks.warehouseBatch(ev.filter(pmod(col("event_id"), lit(4)) === id),
        id, raw, rep, EventQueries.dailyRevenue)
      for (pass <- 1 to 2) {
        assert(Sources.parquet(spark, raw).schema ==
          spark.read.parquet(raw).schema, s"batch $id, pass $pass")
        assert(Sources.observedRowWidth(spark, raw) == coldWidth(),
          s"batch $id, pass $pass")
      }
      // footers read: the new files the schema read or the sample uses
      val used = (parquetFiles(raw).head +: sample()).toSet
      val fresh = parquetFiles(raw).filterNot(before)
      assert(Sources.footerReads - reads == fresh.count(used), s"batch $id")
      // and the memo holds just those: the files RAW's holders use now
      assert(Sources.memoizedFiles.filter(_.startsWith(s"$raw/")) ==
        used.map(_.toString), s"batch $id")
    }
    assert(parquetFiles(raw).size > sampleFiles)
  }
}
