package graft

import graft.sink.ArtifactStore
import org.scalatest.BeforeAndAfterAll

/** Cross-sfDir behavior of the [[SparkEntry]] surface itself — the pieces
  * the per-query specs can't see because they pin one dataset at a time. */
class SparkEntrySpec extends SparkSpec with BeforeAndAfterAll {

  private val dirA = sf("sf0.001")
  private val dirB = sf("sf0.01")

  /** The first 250 docs of `dirA`: both testdata corpora hold 500 docs,
    * and `q_tfidf_pairs`' trained artifact is the corpus size alone, so
    * its mirror can only re-key between corpora of different sizes. */
  private val halfDir = java.nio.file.Files.createTempDirectory("graft-half")
  private lazy val halfDocs: String = {
    spark.read.parquet(s"$dirA/documents.parquet").orderBy("doc_id")
      .limit(250).write.parquet(s"$halfDir/documents.parquet")
    halfDir.toString
  }

  override def afterAll(): Unit =
    try Fs.deleteQuietly(halfDir) finally super.afterAll()

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
}
