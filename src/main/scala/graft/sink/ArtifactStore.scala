package graft.sink

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Durable store for TRAINED ARTIFACTS (IVF centroids, PQ codebooks,
  * unigram vocabularies, BPE merge lists): small, bounded, deterministic
  * outputs of an expensive corpus pass, persisted as parquet under a
  * dataset-keyed path so a FRESH session serves them with zero training
  * jobs — the [[Sinks.writeDailySketches]] discipline applied to model
  * artifacts. In-memory TrieMap caches (SparkEntry) die with the JVM; this
  * is the layer below them: L1 = process cache, L2 = this store, train only
  * on a cold miss of both.
  *
  * Every artifact is keyed by `(datasetDir, name)` where `name` should
  * encode the training hyperparameters (e.g. `ivf-c16-s42`), so a
  * parameter change is a new artifact rather than a silent stale read.
  * Writes go to a temp dir and move into place atomically; if a concurrent
  * trainer won the race, its (deterministic, seed-fixed — identical)
  * artifact is kept and ours discarded.
  *
  * At 100 TB these artifacts stay kilobytes-to-megabytes (vocab-capped,
  * cell/codebook-bounded) — the whole point is that serving a corpus-sized
  * query never re-runs the driver-coordinated iterative fit. Every read
  * passes the artifact's declared schema and sorts on the driver, so a hit
  * costs exactly one job: the collect.
  *
  * The exception is the BM25 impact index ([[impactIndex]]): a
  * CORPUS-SIZED derived table (one postings row per distinct (term, doc)
  * pair, one terms row per vocabulary term), not a KB-sized artifact. It
  * shares the keying and the atomic move, but is written by Spark in
  * parallel, read back as a frame (never collected), keeps one superseded
  * generation for plans still reading it, and puts on the driver only
  * the term rows a query asks for.
  */
object ArtifactStore {
  /** Artifact root: override with -Dgraft.artifacts.dir=… or
    * GRAFT_ARTIFACTS_DIR; defaults under the build dir. */
  def root: String = sys.props.get("graft.artifacts.dir")
    .orElse(sys.env.get("GRAFT_ARTIFACTS_DIR"))
    .getOrElse("target/graft-artifacts")

  /** One directory per (dataset path, dataset inventory, artifact): a
    * readable slug, an md5 of the path, and a fingerprint of the dataset
    * directory's file INVENTORY (names, sizes, millisecond mtimes).
    * Regenerating the data at the same path changes the key, so the next
    * load MISSES and retrains instead of silently serving artifacts
    * trained on the old data (spec-pinned). The fingerprint is a
    * heuristic, not a content hash (hashing the dataset would cost a full
    * corpus read): a regeneration that pins mtimes AND byte sizes (e.g.
    * tar --preserve, reproducible-build outputs) is invisible to it —
    * encode a data version in `name` when that matters. */
  private def dirFor(datasetDir: String, name: String): String =
    s"${datasetScope(datasetDir)}/$name-${contentFingerprint(datasetDir)}"

  /** Per-dataset parent dir (fingerprint-independent). */
  private def datasetScope(datasetDir: String): String = {
    val slug = datasetDir.replaceAll("[^A-Za-z0-9.]+", "_")
      .replaceAll("^_+", "").takeRight(40)
    s"$root/$slug-${graft.Fs.md5Hex8(datasetDir)}"
  }

  /** Fingerprint of the dataset dir's top-level file inventory. */
  private def contentFingerprint(datasetDir: String): String = {
    val dir = Paths.get(datasetDir)
    if (!Files.isDirectory(dir)) return "nodata"
    val inventory = graft.Fs.list(dir)
      .map(p => (p.getFileName.toString, p))
      .sortBy(_._1)
      .map { case (n, p) =>
        s"$n:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}" }
    graft.Fs.md5Hex8(inventory.mkString("|"))
  }

  /** Superseded-fingerprint GC: once a fresh `name-<fp>` is live, drop
    * sibling `name-<otherFp>` dirs but the `keep` most recent — artifacts
    * for dataset states that no longer exist would otherwise accumulate
    * across regenerations. */
  private def pruneSuperseded(path: String, keep: Int): Unit = {
    val target = Paths.get(path)
    val name = target.getFileName.toString
    val prefix = name.substring(0, name.lastIndexOf('-') + 1)
    val parent = target.getParent
    if (Files.isDirectory(parent)) {
      val stale = graft.Fs.list(parent).filter { p =>
        val n = p.getFileName.toString
        // only a sibling whose suffix IS a fingerprint: an artifact
        // named "<name>-v2" must not match "<name>"'s prefix
        n.startsWith(prefix) && n != name && {
          val rest = n.substring(prefix.length)
          rest == "nodata" || rest.matches("[0-9a-f]{8}")
        }
      }
      stale.sortBy(p => -Files.getLastModifiedTime(p).toMillis).drop(keep)
        .foreach(graft.Fs.deleteQuietly)
    }
  }

  private def exists(path: String): Boolean =
    Files.exists(Paths.get(path))

  /** Run `write` into a tmp dir, then ATOMIC_MOVE it into place and prune
    * the superseded generations but `keep`; a racing winner is left
    * untouched. */
  private def writeAtomic(path: String, keep: Int = 0)(
      write: String => Unit): Unit = {
    val target = Paths.get(path)
    Files.createDirectories(target.getParent)
    val tmp = Paths.get(path + ".tmp-" + java.util.UUID.randomUUID())
    write(tmp.toString)
    try {
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      pruneSuperseded(path, keep)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException =>
        // a concurrent (deterministic) trainer won; keep theirs
        graft.Fs.deleteRecursively(tmp)
    }
  }

  /** `rows` as a single-file parquet table at `path`. */
  private def writeRows(spark: SparkSession, path: String,
      schema: StructType, rows: Seq[Row]): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** A stored artifact's rows, read with its declared schema (no
    * schema-inference job): one job, the collect. */
  private def readRows(spark: SparkSession, path: String,
      schema: StructType): Array[Row] =
    spark.read.schema(schema).parquet(path).collect()

  // ---- IVF centroids: rows (i, vec array<float>) ----

  private val CentroidSchema = StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  /** Load the centroids for `(datasetDir, name)`, or run `train` (by-name:
    * NOT evaluated on a store hit — the spec's zero-training proof) and
    * persist its result. */
  def ivfCentroids(spark: SparkSession, datasetDir: String, name: String)(
      train: => Array[Array[Float]]): Array[Array[Float]] = {
    val path = dirFor(datasetDir, name)
    if (exists(path)) {
      readRows(spark, path, CentroidSchema).sortBy(_.getInt(0))
        .map(_.getSeq[Float](1).toArray)
    } else {
      val cs = train
      writeAtomic(path)(writeRows(spark, _, CentroidSchema,
        cs.zipWithIndex.map { case (v, i) => Row(i, v.toIndexedSeq) }.toSeq))
      cs
    }
  }

  // ---- PQ codebooks: rows (j, c, vec array<float>) ----

  private val CodebookSchema = StructType(Seq(
    StructField("j", IntegerType, nullable = false),
    StructField("c", IntegerType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  def pqCodebooks(spark: SparkSession, datasetDir: String, name: String)(
      train: => Array[Array[Array[Float]]]): Array[Array[Array[Float]]] = {
    val path = dirFor(datasetDir, name)
    if (exists(path)) {
      readRows(spark, path, CodebookSchema)
        .sortBy(r => (r.getInt(0), r.getInt(1)))
        .map(r => (r.getInt(0), r.getSeq[Float](2).toArray))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.map(_._2)).toArray
    } else {
      val cb = train
      writeAtomic(path)(writeRows(spark, _, CodebookSchema, (for {
        j <- cb.indices; c <- cb(j).indices
      } yield Row(j, c, cb(j)(c).toIndexedSeq)).toSeq))
      cb
    }
  }

  // ---- unigram vocab: rows (rank, tok, cnt) — rank preserves the
  //      count-desc/token-asc training order the scorer assumes ----

  private val VocabSchema = StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("tok", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  def unigramVocab(spark: SparkSession, datasetDir: String, name: String)(
      train: => (Array[String], Array[Long])): (Array[String], Array[Long]) = {
    val path = dirFor(datasetDir, name)
    if (exists(path)) {
      val rows = readRows(spark, path, VocabSchema).sortBy(_.getInt(0))
      (rows.map(_.getString(1)), rows.map(_.getLong(2)))
    } else {
      val (toks, cnts) = train
      writeAtomic(path)(writeRows(spark, _, VocabSchema,
        toks.indices.map(i => Row(i, toks(i), cnts(i))).toSeq))
      (toks, cnts)
    }
  }

  // ---- BPE merges: rows (i, a, b) — order is the merge priority ----

  private val MergeSchema = StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("a", StringType, nullable = false),
    StructField("b", StringType, nullable = false)))

  def bpeMerges(spark: SparkSession, datasetDir: String, name: String)(
      train: => Seq[(String, String)]): Seq[(String, String)] = {
    val path = dirFor(datasetDir, name)
    if (exists(path)) {
      readRows(spark, path, MergeSchema).sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
    } else {
      val ms = train
      writeAtomic(path)(writeRows(spark, _, MergeSchema,
        ms.zipWithIndex.map { case ((a, b), i) => Row(i, a, b) }))
      ms
    }
  }

  // ---- BM25 impact index: postings (tok, rank, doc_id, c_micro), a
  //      corpus-sized parallel write, plus terms (tok, df, idf_micro),
  //      one row per vocabulary term ----

  private val PostingsSchema = StructType(Seq(
    StructField("tok", StringType, nullable = false),
    StructField("rank", IntegerType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("c_micro", LongType, nullable = false)))

  private val TermsSchema = StructType(Seq(
    StructField("tok", StringType, nullable = false),
    StructField("df", LongType, nullable = false),
    StructField("idf_micro", LongType, nullable = false)))

  /** `df`'s columns in `schema`'s order and types. */
  private def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)

  /** L1 over the stored `terms` tables, keyed by (store path, term) — the
    * path carries the dataset fingerprint, so a rewritten corpus is a new
    * key: (df, idf_micro), or None for a term absent from the corpus.
    * Holds only terms some query asked for, never the vocabulary. */
  private val termsMemo = TrieMap.empty[(String, String), Option[(Long, Long)]]

  /** The impact index for `(datasetDir, name)`, opened for `vocab`: the
    * postings as a frame read with their declared schema (no job until a
    * query runs on it) and `vocab`'s term rows from the memo, a miss
    * costing one ≤ |vocab|-row collect. On a store miss `build` (by-name)
    * returns the unexecuted postings and terms plans, which Spark writes
    * in parallel. The returned frame reads the store lazily, so a
    * rebuild under a new fingerprint keeps the previous generation: a
    * plan opened before one rebuild still finds its files. */
  def impactIndex(spark: SparkSession, datasetDir: String, name: String,
      vocab: Seq[String])(build: => (DataFrame, DataFrame))
      : (DataFrame, Map[String, Option[(Long, Long)]]) = {
    val path = dirFor(datasetDir, name)
    if (!exists(path)) {
      val (postings, terms) = build
      writeAtomic(path, keep = 1) { tmp =>
        conform(postings, PostingsSchema).write.parquet(s"$tmp/postings")
        conform(terms, TermsSchema).write.parquet(s"$tmp/terms")
      }
      termsMemo.keys.filterNot(k => exists(k._1)).foreach(termsMemo.remove)
    }
    val missing = vocab.distinct.filterNot(t => termsMemo.contains(path -> t))
    if (missing.nonEmpty) {
      val found = spark.read.schema(TermsSchema).parquet(s"$path/terms")
        .filter(col("tok").isin(missing: _*)).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      missing.foreach(t => termsMemo(path -> t) = found.get(t))
    }
    (spark.read.schema(PostingsSchema).parquet(s"$path/postings"),
      vocab.map(t => t -> termsMemo(path -> t)).toMap)
  }
}
