package graft.ingest

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers over the driver testdata layout (`<sfDir>/<table>.parquet`) and
  * the reference's ingest formats (SURVEY.md §2.1).
  *
  * All readers are declarative `spark.read` plans: Catalyst keeps predicate
  * pushdown and column pruning intact all the way to the parquet scan, which
  * is the property that matters at 100 TB (never materialize-then-filter).
  */
object Sources {
  /** One parquet file per table (TESTDATA.md), read through [[parquet]]:
    * its schema comes from the file's memoized footer, so opening a table
    * launches no Spark job. NTZ-encoded timestamp columns (`l_shipdate`,
    * `o_orderdate`, …) read as plain TIMESTAMP under the timestamp pins
    * [[graft.GraftSession.builder]] sets; the read writes no conf.
    * [[normalizeTimestamps]] is the input-safety cast for sessions built
    * elsewhere, without the pins. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeTimestamps(parquet(spark, s"$sfDir/$name.parquet"))

  /** `spark.read.parquet(path)` without its schema-inference job: the one
    * parquet read in the engine that takes its schema from the data.
    *
    * Spark infers a parquet schema (with `mergeSchema` off) by running a
    * one-task job that reads ONE footer, the one [[schemaFile]] finds.
    * Here the driver reads that footer itself, memoized per file identity
    * ([[footersOf]]), and converts it with Spark's own
    * `readSchemaFromFooter` under `spark`'s conf on every call, so pinned,
    * unpinned and [[graft.GraftSession.derive]]d sessions each get exactly
    * the schema Spark would infer, timestamp encodings included. The scan
    * then carries that schema and launches no job; partition columns are
    * still discovered from the `k=v` dirs. A path with no data file, or a
    * footer that cannot be read, goes to `spark.read.parquet` unchanged,
    * so Spark raises its own error. `recursive` is Spark's
    * `recursiveFileLookup` (no partition discovery). */
  def parquet(spark: SparkSession, path: String,
      recursive: Boolean = false): DataFrame = {
    val read =
      if (recursive) spark.read.option("recursiveFileLookup", "true")
      else spark.read
    footerOf(spark, path) match {
      case Some(footer) =>
        read.schema(ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
          .parquet(path)
      case None => read.parquet(path)
    }
  }

  /** The files Spark's listing keeps for `root`, in path order: it
    * descends into every dir it keeps (`k=v` partition dirs too) and drops
    * `.`-names and `_`-names without a `=` (`_SUCCESS`, the MV's
    * `_applied_batches`, staging dirs), as `HadoopFSUtils` does, but keeps
    * the `_common_metadata` and `_metadata` summaries. */
  private def listing(root: Path): List[Path] = {
    def kept(p: Path) = {
      val n = p.getFileName.toString
      n.startsWith("_common_metadata") || n.startsWith("_metadata") ||
        !(n.startsWith(".") || n.endsWith("._COPYING_") ||
          (n.startsWith("_") && !n.contains("=")))
    }
    def files(p: Path): List[Path] =
      if (Files.isDirectory(p)) graft.Fs.list(p).filter(kept).flatMap(files)
      else if (Files.isRegularFile(p)) List(p)
      else Nil
    (if (Files.isDirectory(root) || kept(root)) files(root) else Nil)
      .sortBy(_.toString)
  }

  /** The file whose footer Spark's schema inference reads for `root` with
    * `mergeSchema` off (`ParquetUtils.inferSchema`): of the [[listing]],
    * the first `_common_metadata`, else the first `_metadata`, else the
    * first data file. */
  private def schemaFile(root: Path): Option[Path] = {
    val listed = listing(root)
    val summaries = Seq("_common_metadata", "_metadata")
    summaries.flatMap(n => listed.find(_.getFileName.toString == n))
      .headOption.orElse(listed.find(p =>
        !summaries.contains(p.getFileName.toString)))
  }

  /** A memoized footer: the file's (size, mtime, file key) when it was
    * read, its metadata without the row groups, and its row count. */
  private final case class Memo(stamp: (Long, FileTime, AnyRef),
      meta: ParquetMetadata, rows: Long)

  /** The driver's one parquet footer memo, absolute file path → [[Memo]].
    * It serves three callers: the schema read ([[parquet]]), the RAW row
    * width sample ([[observedRowWidth]]) and the broadcast row floor
    * ([[parquetScanRowCount]]). */
  private val footers = new ConcurrentHashMap[String, Memo]

  /** The files each caller's latest call used: (caller, the roots it
    * read) → files. [[footers]] keeps only what these hold: one schema
    * file per read path, one sample per table, the files of one scanned
    * relation. */
  private val holders = new ConcurrentHashMap[(String, Seq[Path]), Seq[String]]

  private val reads = new java.util.concurrent.atomic.AtomicLong

  /** The roots (read paths, tables, relation roots) the memo holds
    * footers for. */
  private[graft] def memoizedPaths: Set[String] =
    holders.keySet.asScala.flatMap(_._2.map(_.toString)).toSet

  /** The files whose footers the memo holds. */
  private[graft] def memoizedFiles: Set[String] = footers.keySet.asScala.toSet

  /** Footers read from disk so far. */
  private[graft] def footerReads: Long = reads.get

  /** `file`'s footer read from disk: its metadata without the row groups,
    * and its row count. */
  private def readFooter(file: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): (ParquetMetadata, Long) = {
    reads.incrementAndGet()
    val m = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(file, conf),
      ParquetMetadataConverter.NO_FILTER)
    (new ParquetMetadata(m.getFileMetaData, java.util.Collections.emptyList()),
      m.getBlocks.asScala.map(_.getRowCount).sum)
  }

  /** The footers of `files`, each read from disk at most once per file
    * identity, recorded as what `caller` reading `roots` holds now. After
    * a miss, or when the held files change, the holders whose roots are
    * gone (deleted temp tables) are dropped, then every footer no holder
    * holds. */
  private def footersOf(spark: SparkSession, caller: String,
      roots: Seq[Path], files: Seq[Path]): Seq[Memo] = {
    lazy val conf = spark.sessionState.newHadoopConf()
    var missed = false
    val memos = files.map { f =>
      val a = Files.readAttributes(f, classOf[BasicFileAttributes])
      val stamp = (a.size, a.lastModifiedTime, a.fileKey)
      Option(footers.get(f.toString)).filter(_.stamp == stamp).getOrElse {
        missed = true
        val (meta, rows) =
          readFooter(new org.apache.hadoop.fs.Path(f.toUri), conf)
        val memo = Memo(stamp, meta, rows)
        footers.put(f.toString, memo)
        memo
      }
    }
    val held = files.map(_.toString)
    if (holders.put((caller, roots), held) != held || missed) {
      holders.keySet.removeIf(!_._2.forall(Files.exists(_)))
      val live = holders.values.asScala.flatten.toSet
      footers.keySet.removeIf(!live(_))
    }
    memos
  }

  /** `path`'s schema footer, read on the driver at most once per file
    * identity; None when `path` has no data file or the read fails. */
  private def footerOf(spark: SparkSession, path: String): Option[Footer] =
    try {
      val root = Paths.get(path).toAbsolutePath.normalize
      schemaFile(root).map { file =>
        new Footer(new org.apache.hadoop.fs.Path(file.toUri),
          footersOf(spark, "schema", Seq(root), Seq(file)).head.meta)
      }
    } catch { case NonFatal(_) => None }

  /** OBSERVED on-disk parquet row width of the table at `path`: (bytes,
    * rows) summed over the first `sampleFiles` non-empty `.parquet` files
    * of its [[listing]], rows from their memoized footers. Driver-side
    * metadata reads only, no job, and the sample bounds the footer IO
    * however many files the table accumulates; a table that grows by a
    * batch re-reads only the footers that entered or changed in its
    * sample. None when the path has no non-empty parquet file yet, or on
    * any footer-read failure (callers fall back to "no cap"). */
  private[graft] def observedRowWidth(spark: SparkSession, path: String,
      sampleFiles: Int = 64): Option[(Long, Long)] =
    try {
      val root = Paths.get(path).toAbsolutePath.normalize
      val sample = listing(root).iterator.filter(f =>
        f.getFileName.toString.endsWith(".parquet") && Files.size(f) > 0)
        .take(sampleFiles).toList
      val memos = footersOf(spark, "width", Seq(root), sample)
      val rows = memos.map(_.rows).sum
      if (rows <= 0) None else Some((memos.map(_.stamp._1).sum, rows))
    } catch { case NonFatal(_) => None }

  /** Exact row count of a frame whose optimized plan is ONE parquet scan,
    * from the scanned files' memoized footers: no Spark job, no column IO.
    * This is the row-based broadcast-size floor: the optimizer's
    * `sizeInBytes` is COMPRESSED on-disk bytes, so a low-entropy corpus
    * (zeroed/repeated vectors) can pass a broadcast cap whose real
    * constraint is the raw collected/resident footprint, and `rows ×
    * rowWidth` does not compress. None when the plan is not a bare parquet
    * scan (derived frames keep Catalyst's propagated estimate, whose
    * errors skew large — the safe side), when the relation lists more than
    * `maxFiles` non-empty files (footer probing is driver-side IO; callers
    * only need the floor when the plan estimate is already under a
    * broadcast cap, where file counts are small). Footers of local files
    * come from the memo; a relation with any file on another file system
    * (hdfs, s3a, …) reads its footers unmemoized, as it has no local file
    * identity to stamp. Filters and projections above the scan only
    * reduce rows, so the count stays an upper bound — floor-safe. */
  def parquetScanRowCount(df: DataFrame, maxFiles: Int = 4096): Option[Long] =
    df.queryExecution.optimizedPlan.collectLeaves() match {
      case Seq(lr: LogicalRelation) => lr.relation match {
        case rel: HadoopFsRelation
            if rel.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val files = rel.location.listFiles(Nil, Nil)
            .flatMap(_.files).filter(_.getLen > 0)
          if (files.isEmpty || files.size > maxFiles) None
          else try Some(
            if (files.forall(_.getPath.toUri.getScheme == "file")) {
              def local(p: org.apache.hadoop.fs.Path) = Paths.get(p.toUri)
              footersOf(df.sparkSession, "rows",
                rel.location.rootPaths.map(local),
                files.map(f => local(f.getPath))).map(_.rows).sum
            } else {
              val conf = df.sparkSession.sessionState.newHadoopConf()
              files.map(f => readFooter(f.getPath, conf)._2).sum
            })
          catch { case NonFatal(_) => None }
        case _ => None
      }
      case _ => None
    }

  /** Casts any TIMESTAMP_NTZ column to TIMESTAMP (value-identical under the
    * UTC session timezone): what an unpinned session reads µs/isAdjustedToUTC=0
    * columns as. Returns the frame UNTOUCHED when no NTZ column exists —
    * the pinned path adds no projection over the scan. */
  def normalizeTimestamps(raw: DataFrame): DataFrame = {
    val ntz = raw.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    if (ntz.isEmpty) raw
    else ntz.foldLeft(raw)((df, c) =>
      df.withColumn(c, col(c).cast(TimestampType)))
  }

  /** The events table has carried `ts` as parquet TIMESTAMP(NANOS) (rounds
    * 1-8) and TIMESTAMP(MICROS, isAdjustedToUTC=0) (round 9+ regen) — the
    * encoding may flip again. The session's timestamp pins
    * ([[graft.GraftSession.builder]]) + [[normalizeEvents]] accept all
    * encodings and yield the same µs TimestampType column; on a session
    * without the pins [[normalizeEvents]] alone does. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEvents(table(spark, sfDir, "events"))

  /** `ts` → µs TimestampType from any historical encoding:
    *  - ns-long (nanosAsLong read of TIMESTAMP(NANOS)): integral `div`
    *    1000 — a double detour would lose precision above 2^53 — then
    *    `timestamp_micros`; the same ns→µs truncation DuckDB applies
    *    natively, so oracle parity is exact.
    *  - TIMESTAMP_NTZ (an unpinned read of µs/isAdjustedToUTC=0): cast to
    *    TimestampType, value-identical under the UTC session timezone.
    *  - TimestampType: no-op. */
  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }

  /** CSV-as-strings scan, matching the reference's header-only inference
    * (`reference:airflow_docker/dags/ecomm_pipeline/extractor.py:102`):
    * every column arrives as nullable string and is cast downstream by
    * [[Cleaning.castChain]]. Spark reads `.csv.gz` transparently. */
  def rawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** JSON-Lines scan with an explicit schema — the standard LLM-corpus
    * interchange format (one JSON object per line; `.jsonl.gz` reads
    * transparently). Schema REQUIRED on purpose: inference is a full extra
    * pass over 100 TB and silently widens types; splits parallelize
    * per-line like CSV. */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", graft.sink.Sinks.TsFormat).json(path)

  /** Corrupt-tolerant JSONL scan: PERMISSIVE mode routes unparseable
    * lines into a `_corrupt_record` column instead of nulling the whole
    * batch (DROPMALFORMED silently loses data; FAILFAST kills a 100 TB
    * job for one bad line). Returns `(good, corrupt)` — `good` carries
    * the declared schema with the marker column dropped, `corrupt` the
    * raw offending lines for a dead-letter sink. The file parses ONCE
    * into a materialized frame and both splits filter that frame — the
    * split predicates deliberately do NOT reach the scan, because Spark
    * refuses to filter a fresh scan's `_corrupt_record` directly
    * (AnalysisException by design; the spec pins the trap).
    *
    * Materialization is `localCheckpoint`, not `cache`: the CacheManager
    * holds cached plans strongly for the session's lifetime with no
    * handle here for the caller to release, while checkpoint blocks are
    * freed by the ContextCleaner once the returned frames are garbage
    * collected — repeated ingests don't accumulate pinned storage. */
  def jsonlTolerant(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    val withMarker = spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .localCheckpoint()
    val good = withMarker.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val corrupt = withMarker.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (good, corrupt)
  }

  /** ORC scan — the other columnar warehouse format. Spark's native ORC
    * reader keeps the same pushdown/pruning/vectorization properties as
    * parquet (PushedFilters + ReadSchema reach the stripe reader). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Typed CSV scan pinned to [[graft.sink.Sinks.writeCsvTyped]]'s dialect
    * (header, backslash-escape, multiLine, \N nulls vs "" empties) so
    * write∘read is identity even for text holding commas, quotes,
    * newlines, empty strings and nulls. multiLine costs per-file (not
    * per-line) split parallelism — the price of embedded newlines;
    * prefer JSONL for 100 TB corpora. */
  def csvTyped(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.option("header", "true").option("escape", "\\")
      .option("multiLine", "true")
      .option("nullValue", "\\N").option("emptyValue", "")
      // whitespace preservation pinned on BOTH sides (the writer's
      // univocity defaults TRIM — see Sinks.writeCsvTyped)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("timestampFormat", graft.sink.Sinks.TsFormat)
      .schema(schema).csv(path)

  /** Registers every testdata table as a session temp view plus the
    * reference's landing-view name (`view_kafka_ecommerce_stream` →
    * normalized events; `reference:airflow_docker/dags/utils/
    * snowflake_refresh.py:12`, SURVEY S10) so the whole surface is
    * `spark.sql`-addressable. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => table(spark, sfDir, t).createOrReplaceTempView(t))
    val ev = events(spark, sfDir)
    ev.createOrReplaceTempView("events")
    ev.createOrReplaceTempView("view_kafka_ecommerce_stream")
  }

  /** Parses the JSON envelope (`kafka_value: string`) back into typed
    * fields — the inverse of [[graft.sink.Sinks.kafkaEnvelope]];
    * stands in for `readStream.format("kafka")` + `from_json`
    * (`reference:README.md:214`; no kafka connector jar ships in this
    * environment, so the envelope codec is exercised over files/memory). */
  def fromKafkaEnvelope(envelope: DataFrame, eventSchema: StructType): DataFrame =
    envelope.select(from_json(col("kafka_value"), eventSchema).as("e"))
      .select("e.*")

  /** Decodes the AVRO envelope (`kafka_value: binary`) back to typed fields
    * — the inverse of [[graft.sink.Sinks.avroEnvelope]] (SURVEY S7); stands
    * in for `from_avro` over the processed topic (the spark-avro connector
    * module is absent from this environment; the wire format is identical). */
  def fromAvroEnvelope(envelope: DataFrame): DataFrame =
    envelope
      .select(graft.ext.AvroEnvelope.decode(col("kafka_value")).as("e"))
      .select("e.*")
}
