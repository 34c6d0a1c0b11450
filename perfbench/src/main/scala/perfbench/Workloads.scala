package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.SparkEntry
import graft.ingest.{Pipeline, Sources}
import graft.ops.{Checks, EventQueries}
import graft.sink.{MaterializedView, Sinks}

trait Workload {
  def name: String
  def run(ctx: Ctx): Map[String, Any]
}

object Workloads {
  val all: Seq[Workload] =
    Seq(StreamIngest, DashboardRefresh, MonthExtract)
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap

  /** Order-sensitive digest of collected rows. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** A result written the way `graft.Verify` writes it, for the DuckDB
    * mirror compare in `run.py`. */
  def writeOutput(ctx: Ctx, df: DataFrame, name: String, oracle: String)
      : Map[String, Any] = {
    val dir = ctx.work(s"oracle/$name")
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    Map("name" -> name, "dir" -> dir, "sql" -> SparkEntry.oracleSql(oracle))
  }

  /** A deliberately wrong result (drops one row), for the mutation test. */
  def mutated(ctx: Ctx, df: DataFrame): DataFrame =
    if (ctx.cfg.mutate) df.offset(1) else df
}

/** Dashboard refresh, closed loop, one client. A refresh builds every
  * panel's frame fresh, plans it and collects it: the six REPORTING
  * queries (each over a fresh `Sources.events`), the daily-revenue MV, and
  * a product-search panel, the engine's `q_bm25_maxscore` entry (exact
  * BM25 top-k by a driver loop of certificate rounds over the documents
  * table). Set-up builds the MV from three seeded slices of the month and
  * trains the BM25 idf the search entries share (cached per dataset
  * directory, so every set-up gets its own directory of links to the
  * tables). The seed also orders the panels of each refresh. The first
  * refresh, on a cold JVM, is warm-up; the timings are over the ones after
  * it. */
object DashboardRefresh extends Workload {
  val name = "dashboard_refresh"

  final case class Panel(name: String, oracle: String, layer: String,
      fn: String, build: Ctx => DataFrame)

  private def eventPanel(name: String, fn: String,
      q: DataFrame => DataFrame): Panel =
    Panel(name, name, "ops", fn, { ctx =>
      val ev = ctx.tracer.span("ingest.read", "Sources.events")(
        Sources.events(ctx.spark, ctx.cfg.sf))
      ctx.tracer.span("ops.construct", fn)(q(ev))
    })

  def panels(mvPath: String, dataDir: String): Seq[Panel] = Seq(
    eventPanel("q_daily_revenue", "EventQueries.dailyRevenue",
      EventQueries.dailyRevenue),
    eventPanel("q_top_category_revenue", "EventQueries.topCategoryRevenue",
      EventQueries.topCategoryRevenue(_)),
    eventPanel("q_conversion_funnel", "EventQueries.conversionFunnel",
      EventQueries.conversionFunnel),
    eventPanel("q_abandoned_cart_users", "EventQueries.abandonedCartUsers",
      EventQueries.abandonedCartUsers),
    eventPanel("q_avg_order_value_daily", "EventQueries.avgOrderValueDaily",
      EventQueries.avgOrderValueDaily),
    eventPanel("q_daily_active_users", "EventQueries.dailyActiveUsers",
      EventQueries.dailyActiveUsers),
    Panel("mv_daily_revenue", "q_daily_revenue", "ops",
      "MaterializedView.dailyRevenue", ctx =>
        ctx.tracer.span("ops.construct", "MaterializedView.dailyRevenue")(
          MaterializedView.dailyRevenue(ctx.spark, mvPath))),
    Panel("q_bm25_maxscore", "q_bm25_maxscore", "ext", "q_bm25_maxscore",
      ctx => ctx.tracer.span("ext.construct", "q_bm25_maxscore")(
        SparkEntry.queries("q_bm25_maxscore")(ctx.spark, dataDir))))

  private def setup(ctx: Ctx, i: Int): (String, String) = {
    val dir = Paths.get(ctx.work(s"sf-$i"))
    Files.createDirectories(dir)
    Files.list(Paths.get(ctx.cfg.sf)).iterator().asScala.foreach(f =>
      Files.createSymbolicLink(dir.resolve(f.getFileName), f.toAbsolutePath))
    // trains the idf q_bm25_search and q_bm25_maxscore share; the returned
    // frame stays unexecuted
    SparkEntry.queries("q_bm25_search")(ctx.spark, dir.toString)
    val mv = ctx.work(s"mv-$i")
    val ev = Sources.events(ctx.spark, ctx.cfg.sf)
    val slice = pmod(xxhash64(col("event_id"), lit(ctx.cfg.seed)), lit(3))
    (0 until 3).foreach { k =>
      MaterializedView.mergeSumsOnce(
        MaterializedView.dailyRevenueDelta(ev.filter(slice === k)), mv,
        k.toLong, Seq("event_date"), Seq("partial"))
    }
    (mv, dir.toString)
  }

  private def frame(ctx: Ctx, p: Panel): DataFrame = {
    val df = p.build(ctx)
    if (p.name == "q_daily_revenue") Workloads.mutated(ctx, df) else df
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val (setupS, (mv, dataDir)) = ctx.setups(3)(setup(ctx, _))
    val ps = panels(mv, dataDir)
    var last = Map.empty[String, (StructType, Array[Row])]
    val (ops, engine) = ctx.window {
      ctx.closedLoop("refresh", minOps = 3, warmOps = 1) { i =>
        new Random(ctx.cfg.seed * 7919 + i).shuffle(ps).map { p =>
          val df = frame(ctx, p)
          ctx.tracer.span(s"${p.layer}.plan", p.fn)(
            df.queryExecution.executedPlan)
          p.name -> (df.schema ->
            ctx.tracer.span(s"${p.layer}.exec", p.fn)(df.collect()))
        }.toMap
      } { (_, res) =>
        last = res
        Map("digests" -> res.map { case (k, v) => k -> Workloads.digest(v._2) })
      }
    }
    // every refresh must return what the last one did, and the last one
    // must match the DuckDB mirror (checked outside the timed loop)
    val outputs = ctx.phase("verify")(ps.map { p =>
      val (schema, rows) = last(p.name)
      Workloads.writeOutput(ctx, ctx.spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema), p.name, p.oracle)
    })
    val ref = last.map { case (k, v) => k -> Workloads.digest(v._2) }
    Map("setup_s" -> setupS, "engine" -> engine, "outputs" -> outputs,
      "ops" -> ops.map(o => o - "digests" + ("ok" -> (o("digests") == ref))))
  }
}

/** Month extract, closed loop, one client. Set-up writes a
  * reference-schema CSV month synthesized from the events table
  * ([[Replicas]] copies; the seed moves every copy's events within their
  * day, so per-day counts are fixed while the rows the cap keeps change).
  * An op runs `Pipeline.extractMonth` under a cap that binds on about half
  * of the days, then writes the Kafka and Avro envelopes of the extract. */
object MonthExtract extends Workload {
  val name = "month_extract"
  val Replicas = 3
  private val DayUs = 86400000000L

  final case class Month(csv: String, rows: Long, perDay: Map[String, Long],
      cap: Int)

  private def synthesize(ctx: Ctx, dir: String): Month = {
    val spark = ctx.spark
    val ev = Sources.events(spark, ctx.cfg.sf)
    val perDay = ev.groupBy(to_date(col("ts")).cast("string")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1) * Replicas).toMap
    val counts = perDay.values.toVector.sorted
    val cap = counts(counts.size / 2).toInt
    val csv = s"$dir/csv"
    ev.crossJoin(spark.range(Replicas).toDF("rep"))
      .selectExpr("*", "unix_micros(ts) AS us",
        s"(unix_micros(ts) div $DayUs) * $DayUs AS day_us",
        "cast(get_json_object(props, '$.k') AS long) AS k")
      .selectExpr(
        s"""date_format(timestamp_micros(day_us + pmod(us - day_us +
          CASE WHEN rep = 0 THEN 0L ELSE
            pmod(xxhash64(event_id, rep, ${ctx.cfg.seed}L), $DayUs) END,
          $DayUs)), 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS event_time""",
        "event_type",
        "cast(k AS string) AS product_id",
        "cast(pmod(k, 13) AS string) AS category_id",
        "CASE WHEN pmod(k, 5) = 0 THEN NULL ELSE " +
          "concat('electronics.c', pmod(k, 7)) END AS category_code",
        "CASE WHEN pmod(k, 4) = 0 THEN NULL ELSE " +
          "concat('brand', pmod(k, 11)) END AS brand",
        "cast(value AS string) AS price",
        "cast(user_id AS string) AS user_id",
        "cast(rep * 1000000000 + event_id AS string) AS user_session")
      .repartition(ctx.cfg.cores)
      .write.mode("overwrite").option("header", "true").csv(csv)
    Month(csv, perDay.values.sum, perDay, cap)
  }

  /** The extract in the events shape the envelopes take. */
  private def envelopeInput(ctx: Ctx, extract: String): DataFrame =
    ctx.spark.read.parquet(extract).select(
      col("user_session").cast("long").as("event_id"),
      col("event_time").as("ts"), col("user_id").cast("long").as("user_id"),
      col("event_type"), col("price").as("value"))

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val (setupS, m) = ctx.setups(3)(i => synthesize(ctx, ctx.work(s"month-$i")))
    val cap = if (ctx.cfg.mutate) m.cap + 1 else m.cap
    val out = ctx.work("month-out")
    def once(): Pipeline.ExtractResult = {
      val res = ctx.tracer.span("ingest.extract", "Pipeline.extractMonth")(
        Pipeline.extractMonth(spark, m.csv, s"$out/extract",
          s"$out/cursor.json", "2024-01", cap))
      val env = envelopeInput(ctx, s"$out/extract")
      ctx.tracer.span("sink.envelope", "Sinks.kafkaEnvelope")(
        Sinks.kafkaEnvelope(env).write.mode("overwrite")
          .parquet(s"$out/kafka"))
      ctx.tracer.span("sink.envelope", "Sinks.avroEnvelope")(
        Sinks.avroEnvelope(env).write.mode("overwrite").parquet(s"$out/avro"))
      res
    }
    ctx.phase("warm")(once())
    val expected = m.perDay.map { case (d, n) => d -> math.min(n, m.cap.toLong) }
    val (ops, engine) = ctx.window {
      ctx.closedLoop("month", minOps = 2)(_ => once()) { (_, res) =>
        val got = spark.read.parquet(s"$out/extract")
          .groupBy(col("event_date").cast("string")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val env = envelopeInput(ctx, s"$out/extract")
          .agg(count(lit(1)), sum("event_id"),
            sum(unix_micros(col("ts")).cast("decimal(38,0)")))
          .head()
        val avro = Sources.fromAvroEnvelope(spark.read.parquet(s"$out/avro"))
          .agg(count(lit(1)), sum("event_id"),
            sum(col("ts_us").cast("decimal(38,0)"))).head()
        val kafkaRows = spark.read.parquet(s"$out/kafka").count()
        Map("ok" -> (got == expected && res.rowCount == expected.values.sum &&
            avro == env && kafkaRows == env.getLong(0)),
          "rows_kept" -> res.rowCount)
      }
    }
    Map("setup_s" -> setupS, "engine" -> engine, "ops" -> ops,
      "csv_rows" -> m.rows, "cap" -> m.cap)
  }
}

/** The reference's headline path as a file stream. `run.py` stages the
  * month as parquet files before the JVM starts (set-up, listed in
  * `stage.tsv`: file index, path, events, phase): the first half as backlog
  * files, then as many live files as the live phase offers. The backlog is
  * placed before the stream starts and drained under [[MaxFilesPerTrigger]]
  * (catch-up, closed loop); then a generator thread places the live files
  * at the manifest's rate (live, open loop). Each file is renamed into the
  * source directory atomically under a name that carries its due time.
  * Every micro-batch goes through `Sinks.warehouseBatchChecked` (RAW +
  * REPORTING, gated by `Checks.dataChecks`) and then
  * `MaterializedView.mergeSumsOnce`. The first batch runs on a cold JVM and
  * is marked as warm-up. */
object StreamIngest extends Workload {
  val name = "stream_ingest"
  val MaxFilesPerTrigger = 25
  val Lineage = "perfbench"

  final case class Batch(id: Long, files: Seq[Int], startUs: Long,
      endUs: Long, applied: Boolean)

  /** Wall clock in µs with nanoTime resolution. */
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val manifest = Files.readAllLines(Paths.get(ctx.work("stage.tsv"))).asScala
      .map(_.split('\t')).toVector
    val liveFilesPerSec = manifest.head(1).toDouble
    val staged = manifest.tail
    val events = staged.map(f => f(0).toInt -> f(2).toLong).toMap
    val (backlog, live) = staged.partition(_(3) == "backlog") match {
      case (b, l) => (b.map(f => f(0).toInt -> Paths.get(f(1))),
        l.map(f => f(0).toInt -> Paths.get(f(1))))
    }
    val schema = Sources.events(spark, ctx.cfg.sf).schema
    val Seq(src, raw, reporting, checks, rejected, mv, ckpt) =
      Seq("src", "raw", "reporting", "checks", "rejected", "mv", "ckpt")
        .map(ctx.work)
    Files.createDirectories(Paths.get(src))
    val stamp = TrieMap.empty[Int, Long] // file → due time
    val placed = TrieMap.empty[Int, Long] // file → actual rename time
    def place(i: Int, p: Path, dueUs: Long): Unit = {
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(dueUs / 1000 + i))
      Files.move(p, Paths.get(src, s"$dueUs-$i.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      placed.put(i, nowUs)
      stamp.put(i, dueUs)
    }
    val offered = backlog ++ live

    val batches = new ConcurrentLinkedQueue[Batch]
    val done = TrieMap.empty[Int, Long] // file → batch id
    val progress = new ConcurrentLinkedQueue[Map[String, Any]]
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Map("batch" -> p.batchId,
          "start_us" -> Instant.parse(p.timestamp).toEpochMilli * 1000L,
          "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap))
      }
    }
    spark.streams.addListener(listener)

    // the files of a batch, from the file source's own log in the
    // checkpoint (written before the batch runs; compacted every tenth)
    val entry = "\"path\":\"[^\"]*-(\\d+)\\.parquet\".*\"batchId\":(\\d+)".r.unanchored
    def batchFiles(id: Long): Seq[Int] = {
      val dir = Paths.get(ckpt, "sources", "0")
      Seq(dir.resolve(id.toString), dir.resolve(s"$id.compact"))
        .filter(Files.exists(_))
        .flatMap(Files.readAllLines(_).asScala)
        .collect { case entry(f, b) if b.toLong == id => f.toInt }
    }

    def body(batch: DataFrame, id: Long): Unit = {
      val t0 = nowUs
      val files = batchFiles(id)
      val traced = ctx.cfg.trace && id % 2 == 0
      val applied = ctx.tracer.op(id, "foreachBatch", traced) {
        ctx.tracer.span("sink.warehouse_batch", "Sinks.warehouseBatchChecked")(
          Sinks.warehouseBatchChecked(batch, id, raw, reporting,
            df => ctx.tracer.span("ops.construct", "EventQueries.dailyRevenue")(
              EventQueries.dailyRevenue(df)),
            df => ctx.tracer.span("ops.construct", "Checks.dataChecks")(
              Checks.dataChecks(df)),
            checks, rejected, incremental = true, lineage = Lineage))
        if (ctx.cfg.mutate && id == 1) false
        else ctx.tracer.span("sink.mv_merge", "MaterializedView.mergeSumsOnce")(
          MaterializedView.mergeSumsOnce(
            MaterializedView.dailyRevenueDelta(batch), mv, id,
            Seq("event_date"), Seq("partial")))
      }
      batches.add(Batch(id, files, t0, nowUs, applied))
      files.foreach(done.put(_, id))
    }

    def await(q: StreamingQuery, files: Seq[(Int, Path)], what: String)
        : Unit = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!files.forall(f => done.contains(f._1))) {
        q.exception.foreach(e => throw e)
        require(System.nanoTime() < deadline,
          s"$what did not drain: ${files.count(f => done.contains(f._1))} " +
            s"of ${files.size} files taken")
        Thread.sleep(5)
      }
    }

    val lateness = new ConcurrentLinkedQueue[Double]
    val (phases, engine) = ctx.window {
      val t0 = nowUs
      backlog.foreach { case (i, p) => place(i, p, t0) }
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", MaxFilesPerTrigger.toLong)
        .parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch((b: DataFrame, id: Long) => body(b, id))
        .start()
      try {
        await(q, backlog, "catch-up")
        val catchupS = (batches.asScala.map(_.endUs).max - t0) / 1e6
        val liveT0 = nowUs
        val gen = new Thread(() => live.zipWithIndex.foreach {
          case ((i, p), k) =>
            val due = liveT0 + (k * 1e6 / liveFilesPerSec).toLong
            val waitUs = due - nowUs
            if (waitUs > 0) Thread.sleep(waitUs / 1000, (waitUs % 1000).toInt * 1000)
            place(i, p, due)
            lateness.add((placed(i) - due) / 1e6)
        }, "perfbench-generator")
        gen.start()
        gen.join()
        await(q, live, "live")
        (catchupS, (nowUs - liveT0) / 1e6)
      } finally q.stop()
    }
    spark.streams.removeListener(listener)

    // correctness, outside the timed region
    val verifyT0 = System.nanoTime()
    def rows(df: DataFrame): Set[(String, Double)] = df
      .select(col("event_date").cast("string"), col("total_revenue"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSet
    val expected = rows(EventQueries.dailyRevenue(
      spark.read.schema(schema).parquet(src)))
    val reportingOk = rows(spark.read.parquet(reporting)) == expected
    val mvOk = rows(MaterializedView.dailyRevenue(spark, mv)) == expected
    val bs = batches.asScala.toVector.sortBy(_.id)
    val ledger = Files.readAllLines(Paths.get(mv, "_applied_batches"))
      .asScala.filter(_.nonEmpty).map(_.toLong).toVector
    val ledgerOk = ledger.distinct.size == ledger.size &&
      ledger.toSet == bs.map(_.id).toSet
    val rejectedKeys = if (!Files.isDirectory(Paths.get(rejected))) Set.empty[Long]
      else Files.walk(Paths.get(rejected)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("ingest_batch="))
        .map(_.stripPrefix(s"ingest_batch=$Lineage-").toLong).toSet
    val allOk = reportingOk && mvOk && ledgerOk && offered.forall(f =>
      done.contains(f._1))

    // RAW bytes a batch's REPORTING refresh reads back: the affected days'
    // partitions as they stood when the batch landed
    val rawFiles = Files.walk(Paths.get(raw)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toVector
      .map { p =>
        val batchId = p.getParent.getFileName.toString
          .stripPrefix(s"ingest_batch=$Lineage-").toLong
        (p.getParent.getParent.getFileName.toString, batchId, Files.size(p))
      }
    val ops = bs.map { b =>
      val days = rawFiles.filter(_._2 == b.id).map(_._1).toSet
      Map("op" -> b.id, "wall_s" -> (b.endUs - b.startUs) / 1e6,
        "traced" -> (ctx.cfg.trace && b.id % 2 == 0), "warmup" -> (b.id == 0),
        "ok" -> (allOk && b.applied && !rejectedKeys.contains(b.id)),
        "files" -> b.files, "start_us" -> b.startUs, "end_us" -> b.endUs,
        "raw_files" -> rawFiles.count(_._2 == b.id),
        "raw_readback_bytes" -> rawFiles.filter(f =>
          days.contains(f._1) && f._2 <= b.id).map(_._3).sum,
        "checks_passed" -> !rejectedKeys.contains(b.id),
        "mv_applied" -> b.applied)
    }
    ctx.phases("verify") = (System.nanoTime() - verifyT0) / 1e9
    Map("engine" -> engine, "ops" -> ops,
      "catchup_s" -> phases._1, "live_s" -> phases._2,
      "backlog_files" -> backlog.map(_._1),
      "live_files" -> live.map(_._1),
      "file_events" -> events.map { case (k, v) => k.toString -> v },
      "file_due_us" -> stamp.map { case (k, v) => k.toString -> v },
      "file_placed_us" -> placed.map { case (k, v) => k.toString -> v },
      "file_batch" -> done.map { case (k, v) => k.toString -> v },
      "lateness_s" -> lateness.asScala.toVector,
      "offered_events_per_s" -> (if (live.isEmpty) 0.0 else live
        .map(f => events(f._1)).sum * liveFilesPerSec / live.size),
      "progress" -> progress.asScala.toVector,
      "checks" -> Map("reporting_equals_batch" -> reportingOk,
        "mv_equals_batch" -> mvOk, "ledger_once" -> ledgerOk,
        "rejected_batches" -> rejectedKeys.size))
  }
}
