package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sink.ArtifactStore

/** Cross-sfDir behavior of the [[SparkEntry]] surface itself — the pieces
  * the per-query specs can't see because they pin one dataset at a time. */
class SparkEntrySpec extends SparkSpec {

  private val dirA = sf("sf0.001")
  private val dirB = sf("sf0.01")

  /** The first 250 docs of `dirA`: both testdata corpora hold 500 docs,
    * and `q_tfidf_pairs`' trained artifact is the corpus size alone, so
    * its mirror can only re-key between corpora of different sizes. */
  private val halfDir = tempDir("graft-half")
  private lazy val halfDocs: String = {
    spark.read.parquet(s"$dirA/documents.parquet").orderBy("doc_id")
      .limit(250).write.parquet(s"$halfDir/documents.parquet")
    halfDir.toString
  }

  private def evalThenMirror(q: String, dir: String): String = {
    SparkEntry.queries(q)(spark, dir).collect()
    SparkEntry.oracleSql(q)
  }

  // One row per last-served memo family: evaluate on dirA, then on a
  // second dataset, then on dirA again. The mirror must re-key back to
  // the first rendering, not stick to the latest memo entry (Verify dumps
  // oracle_sql.json AFTER the last query evaluation, so whichever dir it
  // verified last is the one the mirror must embed).
  Seq(
    "q_bpe_tokens" -> (() => dirB),
    "q_bm25_search" -> (() => dirB),
    "q_pca_projection" -> (() => dirB),
    "q_tfidf_pairs" -> (() => halfDocs),
    "q_hard_negatives_ann" -> (() => dirB)
  ).foreach { case (q, other) =>
    test(s"$q generated oracle re-keys to the sfDir most recently " +
        "verified, across several sfDirs in one JVM") {
      val sqlA = evalThenMirror(q, dirA)
      val sqlB = evalThenMirror(q, other())
      assert(sqlA != sqlB, "the two datasets must render different mirrors")
      assert(evalThenMirror(q, dirA) == sqlA,
        "mirror did not re-key back to the first dir")
    }
  }

  test("q_ivf_knn shares the IVF memo without moving the " +
      "q_hard_negatives_ann mirror's dataset") {
    val before = evalThenMirror("q_hard_negatives_ann", dirA)
    SparkEntry.queries("q_ivf_knn")(spark, dirB).collect()
    assert(SparkEntry.oracleSql("q_hard_negatives_ann") == before)
  }

  test("q_bpe_tokens mirror embeds the evaluated sfDir's own merges") {
    val sqlB = evalThenMirror("q_bpe_tokens", dirB)
    val sqlA = evalThenMirror("q_bpe_tokens", dirA)
    // rebuild the first replace() literal independently from the
    // persisted artifact (by-name thunk throws — training already
    // happened above, loads must be free)
    def merges(dir: String): Seq[(String, String)] =
      ArtifactStore.bpeMerges(spark, dir, "bpe-n50-m2-v65536")(
        fail(s"merges for $dir must already be persisted"): Nothing)
    val S = "\u001f"
    def firstPattern(ms: Seq[(String, String)]): String = {
      val (a, b) = ms.head
      ("'" + (S + a + S + S + b + S).replace("'", "''") + "'")
    }
    assert(sqlB.contains(firstPattern(merges(dirB))),
      "dirB mirror is missing dirB's first merge pattern")
    assert(sqlA.contains(firstPattern(merges(dirA))),
      "dirA mirror is missing dirA's first merge pattern")
  }

  /** The registered entries without a DuckDB mirror, each checked by its
    * own spec instead of the hash gate. Pinned here so an entry cannot
    * quietly lose its mirror; the reasons live in the declarations. */
  private val NoOracleNames = Set("q_compression_quality", "q_dau_approx",
    "q_dup_clusters_lsh", "q_embedding_neardups", "q_ivf_knn", "q_knn_int8",
    "q_lsh_knn", "q_minhash_incremental", "q_minhash_neardups", "q_pq_knn",
    "q_price_quantiles_sketch", "q_profile_docs_approx",
    "q_rolling_dau_sketch", "q_simhash_neardups", "q_stream_dau_bounded")

  test("every registered entry has a DuckDB mirror or a stated reason it has none") {
    val reasons = SparkEntry.entries.collect {
      case (n, SparkEntry.Entry(_, SparkEntry.NoOracle(r))) => n -> r
    }
    assert(reasons.keySet == NoOracleNames)
    assert(reasons.values.forall(_.trim.nonEmpty))
    assert(SparkEntry.oracleSql.keySet ==
      SparkEntry.queries.keySet -- NoOracleNames)
  }

  private val noFrame: (SparkSession, String) => DataFrame =
    (s, _) => s.emptyDataFrame

  test("the registry rejects a name declared twice") {
    val e = SparkEntry.Entry(noFrame, SparkEntry.NoOracle("test"))
    val err = intercept[IllegalArgumentException](
      SparkEntry.registry("q_a" -> e, "q_b" -> e, "q_a" -> e))
    assert(err.getMessage.contains("q_a") && !err.getMessage.contains("q_b"))
  }

  test("a mirror renders on each read, never while the registry is built") {
    var renders = 0
    val reg = SparkEntry.registry("q_a" -> SparkEntry.Entry(noFrame,
      SparkEntry.Mirror { renders += 1; s"SELECT $renders" }))
    assert(renders == 0)
    val SparkEntry.Entry(_, m: SparkEntry.Mirror) = reg("q_a")
    assert(m.sql == "SELECT 1" && m.sql == "SELECT 2")
  }

  test("q_funnel_conversions_tws leaves the caller's state-store conf untouched") {
    val caller = spark.newSession()
    val before = Tuning.rocksDbStateStore.keys.map(k => k -> caller.conf.getOption(k)).toMap
    assert(!before.values.flatten.exists(_.contains("RocksDB")))
    SparkEntry.queries("q_funnel_conversions_tws")(caller, dirA).collect()
    assert(Tuning.rocksDbStateStore.keys.map(k => k -> caller.conf.getOption(k)).toMap == before)
  }
}
