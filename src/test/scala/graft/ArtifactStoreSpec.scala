package graft

import org.apache.spark.sql.functions.col

import graft.ext.Similarity
import graft.sink.ArtifactStore

/** The trained-artifact persistence layer (VERDICT r6 task 6): artifacts
  * written once per (dataset, hyperparameters) and served to FRESH sessions
  * with ZERO training. The zero-training proof is by-name evaluation: the
  * `train` thunk of every loader is only forced on a store miss, so a spec
  * passing a thunk that fails the test proves no KMeans/vocab/merge fit of
  * any kind ran on the hit path — strictly stronger than asserting the
  * absence of ML stages on a listener. */
class ArtifactStoreSpec extends SparkSpec {
  test("ivf centroids: train-once, then zero-training loads serve equally") {
    withArtifactRoot {
      val emb = graft.ingest.Sources.table(spark, sf("sf0.001"), "embeddings")
      var trained = 0
      val t1 = ArtifactStore.ivfCentroids(spark, sf("sf0.001"), "ivf-c16-s42") {
        trained += 1; Similarity.trainIvfCentroids(emb)
      }
      assert(trained == 1)
      // the L2 hit path: the thunk must NOT be forced — no KMeans fit runs
      val t2 = ArtifactStore.ivfCentroids(spark, sf("sf0.001"), "ivf-c16-s42") {
        fail("store hit must not retrain")
      }
      assert(t2.length == t1.length)
      assert(t1.zip(t2).forall { case (a, b) => a.sameElements(b) },
        "floats must round-trip bit-exactly through the parquet artifact")
      // serving parity: the loaded centroids drive the identical query
      val servedLoaded = Similarity
        .ivfTopK(emb, t2, queryVecId = 0L, k = 10, nProbe = 4)
        .collect().toSeq
      val servedTrained = Similarity
        .ivfTopK(emb, t1, queryVecId = 0L, k = 10, nProbe = 4)
        .collect().toSeq
      assert(servedLoaded == servedTrained)
    }
  }

  test("pq codebooks / unigram vocab / bpe merges round-trip exactly") {
    withArtifactRoot {
      val dir = sf("sf0.001")
      val docs = graft.ingest.Sources.table(spark, dir, "documents")
      val emb = graft.ingest.Sources.table(spark, dir, "embeddings")

      val cb1 = ArtifactStore.pqCodebooks(spark, dir, "pq-m16-k32-s42")(
        Similarity.trainPqCodebooks(emb))
      val cb2 = ArtifactStore.pqCodebooks(spark, dir, "pq-m16-k32-s42")(
        fail("store hit must not retrain"))
      assert(cb2.length == cb1.length &&
        cb1.indices.forall(j => cb2(j).length == cb1(j).length &&
          cb1(j).indices.forall(c => cb1(j)(c).sameElements(cb2(j)(c)))))

      val (vt1, vc1) = ArtifactStore.unigramVocab(spark, dir, "univocab")(
        graft.ext.TextOps.trainUnigramVocab(docs))
      val (vt2, vc2) = ArtifactStore.unigramVocab(spark, dir, "univocab")(
        fail("store hit must not retrain"))
      assert(vt1.sameElements(vt2) && vc1.sameElements(vc2),
        "vocab order (count desc / token asc) must survive the round-trip")

      val m1 = ArtifactStore.bpeMerges(spark, dir, "bpe-n50")(
        graft.ext.TextOps.trainBpeMerges(docs))
      val m2 = ArtifactStore.bpeMerges(spark, dir, "bpe-n50")(
        fail("store hit must not retrain"))
      assert(m1 == m2, "merge priority order must survive the round-trip")
    }
  }

  test("a store hit on a fresh session runs exactly its collect's job " +
      "(declared schemas: no schema-inference job)") {
    withArtifactRoot {
      val dir = sf("sf0.001")
      ArtifactStore.ivfCentroids(spark, dir, "ivf")(
        Array(Array(3f, 4f), Array(1f, 2f)))
      ArtifactStore.pqCodebooks(spark, dir, "pq")(
        Array(Array(Array(1f), Array(2f)), Array(Array(3f), Array(4f))))
      ArtifactStore.unigramVocab(spark, dir, "vocab")(
        (Array("b", "a"), Array(2L, 1L)))
      ArtifactStore.bpeMerges(spark, dir, "bpe")(Seq(("b", "a"), ("a", "b")))
      val fresh = spark.newSession()
      val meter = Meter(fresh)
      try {
        val hits = Seq[(String, () => Any)](
          "ivfCentroids" -> (() => ArtifactStore.ivfCentroids(fresh, dir,
            "ivf")(fail("hit")).map(_.toSeq).toSeq),
          "pqCodebooks" -> (() => ArtifactStore.pqCodebooks(fresh, dir,
            "pq")(fail("hit")).map(_.map(_.toSeq).toSeq).toSeq),
          "unigramVocab" -> (() => ArtifactStore.unigramVocab(fresh, dir,
            "vocab")(fail("hit")) match { case (t, c) => (t.toSeq, c.toSeq) }),
          "bpeMerges" -> (() => ArtifactStore.bpeMerges(fresh, dir, "bpe")(
            fail("hit"))))
        val served = hits.map { case (name, read) =>
          val (v, usage) = meter.run(read())
          assert(usage.jobs == 1, s"$name hit ran ${usage.jobs} jobs")
          v
        }
        // the driver-side sort keeps the stored order
        assert(served == Seq(Seq(Seq(3f, 4f), Seq(1f, 2f)),
          Seq(Seq(Seq(1f), Seq(2f)), Seq(Seq(3f), Seq(4f))),
          (Seq("b", "a"), Seq(2L, 1L)), Seq(("b", "a"), ("a", "b"))))
      } finally meter.close()
    }
  }

  test("regenerated dataset content invalidates the artifact (no stale serve)") {
    withArtifactRoot {
      val data = tempDir("graft-as-data")
      java.nio.file.Files.writeString(data.resolve("documents.parquet"), "v1")
      var trains = 0
      def train() = { trains += 1; Seq(("a", "a")) }
      ArtifactStore.bpeMerges(spark, data.toString, "bpe")(train())
      ArtifactStore.bpeMerges(spark, data.toString, "bpe")(train())
      assert(trains == 1, "unchanged dataset must serve from the store")
      // regenerate the dataset (size change): the content fingerprint moves
      // and the loader must retrain rather than serve the stale artifact
      java.nio.file.Files.writeString(data.resolve("documents.parquet"), "v2-longer")
      ArtifactStore.bpeMerges(spark, data.toString, "bpe")(train())
      assert(trains == 2, "regenerated dataset served a stale artifact")
    }
  }

  test("a fresh fingerprint GCs the superseded artifact dirs") {
    withArtifactRoot {
      val data = tempDir("graft-as-gc")
      java.nio.file.Files.writeString(data.resolve("d.parquet"), "v1")
      ArtifactStore.bpeMerges(spark, data.toString, "bpe")(Seq(("a", "b")))
      java.nio.file.Files.writeString(data.resolve("d.parquet"), "v2-longer")
      ArtifactStore.bpeMerges(spark, data.toString, "bpe")(Seq(("c", "d")))
      // exactly ONE bpe-<fp> dir remains (the old fingerprint was pruned)
      val root = java.nio.file.Paths.get(ArtifactStore.root)
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      val bpeDirs =
        try walk.iterator().asScala.toList
          .filter(p => java.nio.file.Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("bpe-"))
        finally walk.close()
      assert(bpeDirs.size == 1, s"superseded dirs not pruned: $bpeDirs")
      // and the surviving artifact is the NEW one
      assert(ArtifactStore.bpeMerges(spark, data.toString, "bpe")(
        fail("must serve from store")) == Seq(("c", "d")))
    }
  }

  test("artifacts are keyed by dataset AND name — no cross-contamination") {
    withArtifactRoot {
      val a = ArtifactStore.bpeMerges(spark, "/data/corpusA", "bpe")(
        Seq(("a", "a")))
      val b = ArtifactStore.bpeMerges(spark, "/data/corpusB", "bpe")(
        Seq(("b", "b")))
      val a2 = ArtifactStore.bpeMerges(spark, "/data/corpusA", "bpe-v2")(
        Seq(("a", "2")))
      assert(a == Seq(("a", "a")) && b == Seq(("b", "b")) &&
        a2 == Seq(("a", "2")))
      assert(ArtifactStore.bpeMerges(spark, "/data/corpusA", "bpe")(
        fail("hit")) == Seq(("a", "a")))
    }
  }

  test("empty embeddings are absent from testdata only at sf0 — guard query id") {
    // q_ivf_knn serves vec_id 0: pin that the fixture actually has it, so
    // the artifact path is exercised against real data in Verify/Bench
    val emb = graft.ingest.Sources.table(spark, sf("sf0.001"), "embeddings")
    assert(emb.filter(col("vec_id") === 0L).count() == 1L)
  }
}
