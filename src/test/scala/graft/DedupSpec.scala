package graft

import org.apache.spark.sql.DataFrame

import graft.ext.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // base ~40-token doc; b = exact dup of a; c = near-dup (one word changed);
  // d = unrelated; e = too short for trigrams
  private val base = (1 to 40).map(i => s"w${i % 13}").mkString(" ")
  private val near = base.split(" ").updated(5, "CHANGED").mkString(" ")
  lazy val docs: DataFrame = Seq(
    (0L, base), (1L, base), (2L, near),
    (3L, (1 to 40).map(i => s"z$i").mkString(" ")),
    (4L, "tiny doc"))
    .toDF("doc_id", "text")

  test("exactDedup groups identical texts under min doc_id") {
    val groups = Dedup.exactDedup(docs)
      .select("keeper_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(groups(0L) == 2L) // docs 0+1
    assert(groups(2L) == 1L && groups(3L) == 1L && groups(4L) == 1L)
  }

  test("shingles drops docs shorter than the shingle width") {
    val ids = Dedup.shingles(docs).select("doc_id").distinct()
      .as[Long].collect().toSet
    assert(ids == Set(0L, 1L, 2L, 3L))
  }

  test("ngramJaccardTopPairs ranks the exact dup above the near dup") {
    val pairs = Dedup.ngramJaccardTopPairs(docs, k = 5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.head._1 == 0L && pairs.head._2 == 1L && pairs.head._3 == 1.0)
    // near-dup shares most trigrams
    assert(pairs.exists(p => p._2 == 2L && p._3 > 0.5))
  }

  test("jaccardThresholdCurve buckets pairs with a monotone cumulative") {
    val curve = Dedup.jaccardThresholdCurve(docs)
      .as[(Double, Long, Long)].collect()
    // exact dup (j=1.0) lands in the 1.0 bucket; every bucket's
    // cumulative counts all pairs at or above it
    assert(curve.last._1 == 1.0 && curve.last._2 == 1L)
    val cums = curve.map(_._3)
    assert(cums.zip(cums.tail).forall { case (hi, lo) => hi >= lo },
      s"cumulative not decreasing: ${curve.toSeq}")
    assert(curve.head._3 == curve.map(_._2).sum, "head cum != total pairs")
  }

  test("ngramJaccardTopPairs self-join reuses one shingle exchange") {
    // lock in the plan shape: the self-join's two identical exchanges on
    // `h` must collapse into ONE shuffle (ReusedExchange) — a refactor
    // that breaks reuse doubles the shingle shuffle at scale. AQE defers
    // reuse to stage materialization, so assert on the static plan where
    // ReuseExchangeAndSubquery applies at planning time.
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Dedup.ngramJaccardTopPairs(
        graft.ingest.Sources.table(spark, sf("sf0.001"), "documents"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), s"no ReusedExchange in:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("dupClusters groups transitive near-dup chains under the min id") {
    // chain: 10≈11 and 11≈12 but 10 and 12 differ in two words — pairwise
    // dedup sees two pairs, clustering must merge all three; 20/21 form an
    // independent exact-dup pair; 30 is unrelated
    val a = (1 to 40).map(i => s"c${i % 17}").mkString(" ")
    val b = a.split(" ").updated(3, "XX").mkString(" ")
    val c = b.split(" ").updated(30, "YY").mkString(" ")
    val other = (1 to 40).map(i => s"q$i").mkString(" ")
    val df = Seq((10L, a), (11L, b), (12L, c), (20L, other), (21L, other),
      (30L, (1 to 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.dupClusters(df)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(10L) == ((10L, 3L)) && got(11L) == ((10L, 3L))
      && got(12L) == ((10L, 3L)))
    assert(got(20L) == ((20L, 2L)) && got(21L) == ((20L, 2L)))
    assert(!got.contains(30L)) // unclustered docs don't appear
  }

  test("clusterSizeDist: distribution rows + subtraction-derived singletons " +
      "cover the corpus exactly") {
    // same planted corpus as the clustering test: one 3-chain, one exact
    // pair, one singleton → sizes {1:1, 2:1, 3:1}
    val a = (1 to 40).map(i => s"c${i % 17}").mkString(" ")
    val b = a.split(" ").updated(3, "XX").mkString(" ")
    val c = b.split(" ").updated(30, "YY").mkString(" ")
    val other = (1 to 40).map(i => s"q$i").mkString(" ")
    val df = Seq((10L, a), (11L, b), (12L, c), (20L, other), (21L, other),
      (30L, (1 to 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.clusterSizeDist(df)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 1L), (2L, 1L, 2L), (3L, 1L, 3L)), got.toString)
    // conservation: Σ n_docs over all rows = corpus size
    assert(got.map(_._3).sum == 6L)
  }

  test("star CC converges on a long chain where propagation hits its bound") {
    // path graph 0-1-…-80: diameter 80. Min-label propagation moves the
    // min one hop per round, so 25 rounds can't finish; alternating stars
    // halve every path per round and converge comfortably inside 25.
    val chain = (0L until 80L).map(i => (i, i + 1)).toDF("u", "v")
    assertThrows[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIters = 25).count()
    }
    val got = Dedup.connectedComponentsStar(chain, maxIters = 25)
      .as[(Long, Long, Long)].collect()
    assert(got.length == 81)
    assert(got.forall(r => r._2 == 0L && r._3 == 81L))
  }

  test("connectedComponentsStar of an empty edge list is empty") {
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(Dedup.connectedComponentsStar(empty).count() == 0)
  }

  test("self-loop-only vertices are singleton components in both variants") {
    // 5 and 7 appear only via self-loops; 2 has a self-loop AND a real edge
    val pairs = Seq((5L, 5L), (1L, 2L), (2L, 2L), (7L, 7L)).toDF("u", "v")
    val expected = Set((1L, 1L, 2L), (2L, 1L, 2L), (5L, 5L, 1L), (7L, 7L, 1L))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    assert(canon(Dedup.connectedComponents(pairs)) == expected)
    assert(canon(Dedup.connectedComponentsStar(pairs)) == expected)
  }

  test("dupClustersLsh recovers the exact clustering on planted dups") {
    // exact dup (0,1) + near dup (2): all three land in one cluster via
    // LSH edges exactly as via exact-jaccard edges (planted dups are well
    // above threshold, where banding recall → 1)
    val lsh = Dedup.dupClustersLsh(docs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val exact = Dedup.dupClusters(docs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(lsh == exact && lsh.contains(0L) && lsh(0L)._2 >= 2L,
      s"lsh=$lsh exact=$exact")
  }

  test("dupClustersLsh default banding holds recall AT the j=0.5 threshold") {
    // 40 independent planted pairs, each with exact 5-gram jaccard 0.5
    // (the exact path's JaccardShingleWidth): 42 shared tokens (38 common
    // 5-grams) + 19 unique tokens per side (57 5-grams each →
    // j₅ = 38/(2·57-38) = 0.5). The LSH path signatures and verifies at
    // ITS width 3, where the same docs sit at j₃ = 40/78 ≈ 0.513 — above
    // threshold on both widths, so both paths must keep every pair. The
    // old 8×4 banding missed ≈60% of pairs near the threshold; the 16×2
    // default must find ≥90% (expected miss ≈1% per pair at j₃≈0.51,
    // deterministic under fixed hashes).
    val pairs = (0 until 40).map { i =>
      val shared = (1 to 42).map(t => s"p${i}s$t").mkString(" ")
      val ua = (1 to 19).map(t => s"p${i}a$t").mkString(" ")
      val ub = (1 to 19).map(t => s"p${i}b$t").mkString(" ")
      (2L * i, s"$shared $ua", 2L * i + 1, s"$shared $ub")
    }
    val df = pairs.flatMap { case (ia, ta, ib, tb) => Seq((ia, ta), (ib, tb)) }
      .toDF("doc_id", "text")
    // ground truth: the exact path clusters every planted pair
    val exact = Dedup.dupClusters(df, minJaccard = 0.5)
    assert(exact.count() == 80L)
    val lsh = Dedup.dupClustersLsh(df, minJaccard = 0.5)
      .as[(Long, Long, Long)].collect()
    val found = lsh.count(r => r._2 == (r._1 / 2) * 2 && r._3 == 2L)
    assert(lsh.forall(r => r._2 == (r._1 / 2) * 2 && r._3 == 2L),
      s"cross-pair edge leaked: ${lsh.mkString(",")}")
    assert(found >= 72, s"recall ${found / 2}/40 below 0.9 at j=0.5")
  }

  test("dupClustersStar produces the identical clustering to dupClusters") {
    val a = (1 to 40).map(i => s"c${i % 17}").mkString(" ")
    val b = a.split(" ").updated(3, "XX").mkString(" ")
    val c = b.split(" ").updated(30, "YY").mkString(" ")
    val other = (1 to 40).map(i => s"q$i").mkString(" ")
    val df = Seq((10L, a), (11L, b), (12L, c), (20L, other), (21L, other),
      (30L, (1 to 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val prop = Dedup.dupClusters(df).as[(Long, Long, Long)].collect().toSeq
    val star = Dedup.dupClustersStar(df).as[(Long, Long, Long)].collect().toSeq
    assert(star == prop)
    assert(star.nonEmpty)
  }

  test("dupClusters on a corpus with no near-dups returns an empty frame") {
    val distinctDocs = Seq(
      (0L, (1 to 40).map(i => s"a$i").mkString(" ")),
      (1L, (1 to 40).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.dupClusters(distinctDocs)
    assert(out.columns.toSeq == Seq("doc_id", "cluster_id", "cluster_size"))
    assert(out.count() == 0)
  }

  test("decontaminate drops corpus docs overlapping the benchmark set") {
    import graft.ext.Decontaminate
    // bench doc = the base text; corpus holds an exact copy (0), a near
    // copy (2), an unrelated doc (3) and one too short to shingle (4)
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val corpus = docs.filter($"doc_id" =!= 1L)
    val report = Decontaminate.contaminationReport(corpus, bench)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(report(0L) == 1.0)            // exact copy fully contained
    assert(report(2L) > 0.5 && report(2L) < 1.0) // near copy mostly contained
    assert(report(3L) == 0.0)            // unrelated
    assert(!report.contains(4L))         // too short to shingle
    val kept = Decontaminate.decontaminate(corpus, bench)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L), s"kept $kept") // short doc kept (no evidence)
  }

  test("scrubContaminatedSpans removes exactly the benchmark-covered spans") {
    import graft.ext.Decontaminate
    val bench = Seq((100L, "x1 x2 x3 x4")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "a1 a2 x1 x2 x3 x4 a3 a4"), // embedded 4-token quote
      (1L, "b1 b2 b3 b4 b5"),          // clean
      (2L, "x1 x2 x3 x4"))             // fully contaminated → empty
      .toDF("doc_id", "text")
    val out = Decontaminate.scrubContaminatedSpans(corpus, bench)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // bench trigrams: (x1 x2 x3), (x2 x3 x4); doc 0 windows at pos 2,3
    // cover tokens 2..5 — exactly the 4-token quote, neighbors kept
    assert(out(0L) == ((0L, 8L, 4L, "a1 a2 a3 a4")))
    assert(out(1L) == ((1L, 5L, 0L, "b1 b2 b3 b4 b5")))
    assert(out(2L) == ((2L, 4L, 4L, "")))
  }

  test("clusterKeepers keeps the longest cluster member, doc_id tiebreak") {
    // equal lengths → tiebreak to min doc_id (cluster {0,1,2} of the
    // shared fixture)
    val equalLen = Dedup.clusterKeepers(docs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(equalLen == Seq((0L, 0L, 3L)))
    // a longer near-dup (still jaccard >= 0.5 with base) wins the keeper
    val longer = base + " extra tokens appended here now"
    val df2 = Seq((0L, base), (1L, longer)).toDF("doc_id", "text")
    val got = Dedup.clusterKeepers(df2).as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1L, 2L)), s"got $got")
  }

  test("incremental minhash dedup over two batches equals one shot over the union") {
    def freshIdx() =
      tempDir("graft-idx").toString + "/idx"
    // one-shot: a single increment into an empty index = plain batch LSH
    val oneShot = Dedup.minhashNearDupsIncremental(docs, freshIdx())
      .as[(Long, Long, Double)].collect().toSet
    // incremental: evens first, then odds against the persisted index —
    // the cross-batch pair (0 exact-dup 1) is only findable via the index
    val idx = freshIdx()
    val inc =
      Dedup.minhashNearDupsIncremental(docs.filter($"doc_id" % 2 === 0), idx)
        .as[(Long, Long, Double)].collect().toSet ++
      Dedup.minhashNearDupsIncremental(docs.filter($"doc_id" % 2 =!= 0), idx)
        .as[(Long, Long, Double)].collect().toSet
    assert(inc == oneShot && inc.nonEmpty, s"inc=$inc oneShot=$oneShot")
    // the planted exact dup (0,1) crosses the batch split: est jaccard 1.0
    assert(inc.contains((0L, 1L, 1.0)))
    // at-least-once delivery: re-submitting an already-indexed batch adds
    // no signature rows and reports no pairs (nothing fresh to compare)
    val before = Dedup.readSigIndex(spark, idx).count()
    val redo =
      Dedup.minhashNearDupsIncremental(docs.filter($"doc_id" % 2 === 0), idx)
        .as[(Long, Long, Double)].collect()
    assert(redo.isEmpty && Dedup.readSigIndex(spark, idx).count() == before)
  }

  test("mergeClusterLabels: incremental clustering equals one-shot, bridges merge") {
    // batch 1: docs 0 and 2 are near-dups of a base but NOT of each other
    // strongly enough... construct explicitly: 0≈1≈2 chain where the
    // BRIDGE (doc 1) arrives in batch 2 — merging two standing components;
    // 10/11 an existing dup pair joined by new dup 12; 20 stays singleton
    val a = (1 to 40).map(i => s"m${i % 17}").mkString(" ")
    val b = a.split(" ").updated(3, "XX").mkString(" ")     // a≈b
    val c = b.split(" ").updated(30, "YY").mkString(" ")    // b≈c, a̸≈c? (two edits — still ≥0.5 on trigrams, fine either way)
    val dup = (1 to 40).map(i => s"d$i").mkString(" ")
    val lone = (1 to 40).map(i => s"z$i").mkString(" ")
    val batch1 = Seq((0L, a), (2L, c), (10L, dup), (11L, dup), (20L, lone))
      .toDF("doc_id", "text")
    val batch2 = Seq((1L, b), (12L, dup)).toDF("doc_id", "text")
    val full = batch1.unionByName(batch2)
    // standing labels from batch 1 (plus singletons for unclustered docs,
    // as a real pipeline would persist: every doc gets a label row)
    val clustered1 = Dedup.dupClusters(batch1)
    val standing = batch1.select($"doc_id")
      .join(clustered1, Seq("doc_id"), "left")
      .select($"doc_id",
        org.apache.spark.sql.functions.coalesce($"cluster_id", $"doc_id")
          .as("cluster_id"))
    // the new batch's edge stream: every exact-Jaccard edge touching batch 2
    val b2Ids = Set(1L, 12L)
    val newEdges = Dedup.ngramJaccardPairsAtLeast(full, 0.5)
      .filter($"doc1".isin(b2Ids.toSeq: _*) || $"doc2".isin(b2Ids.toSeq: _*))
    val inc = Dedup.mergeClusterLabels(standing, newEdges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    val oneShot = Dedup.dupClusters(full)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    // every one-shot cluster member carries the same label incrementally;
    // docs the one-shot run leaves unclustered are singletons here (the
    // standing-label rows keep them), never mislabeled
    assert(oneShot.forall { case (id, lbl) => inc.get(id).contains(lbl) },
      s"inc=$inc oneShot=$oneShot")
    assert(inc(10L) == 10L && inc(12L) == 10L, "new dup missed its cluster")
    assert(inc(20L) == 20L, "singleton lost")
  }

  test("incremental index crash contract: atomic commits, reemit recovery") {
    def freshIdx() =
      tempDir("graft-idx").toString + "/idx"
    val evens = docs.filter($"doc_id" % 2 === 0)
    val odds = docs.filter($"doc_id" % 2 =!= 0)
    // crash BEFORE the commit rename: a stale .stage dir must be invisible
    // to reads and swept by the next call — the batch replays as new
    val idx = freshIdx()
    Dedup.minhashNearDupsIncremental(evens, idx).collect()
    val stale = java.nio.file.Paths.get(idx, ".stage-crashed")
    odds.limit(1).write.parquet(stale.toString) // torn half-written stage
    val sigCount = Dedup.readSigIndex(spark, idx).count()
    val pairs2 = Dedup.minhashNearDupsIncremental(odds, idx)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs2.contains((0L, 1L, 1.0)), s"cross-batch dup lost: $pairs2")
    assert(!java.nio.file.Files.exists(stale), "stale stage not swept")
    assert(Dedup.readSigIndex(spark, idx).count() > sigCount)
    // crash AFTER the commit but before the caller persisted the pairs:
    // reemit=true regenerates the batch's exact pair report while the
    // index stays byte-flat (no duplicate signature rows)
    val committed = Dedup.readSigIndex(spark, idx).count()
    val reemitted = Dedup
      .minhashNearDupsIncremental(odds, idx, reemit = true)
      .as[(Long, Long, Double)].collect().toSet
    assert(reemitted == pairs2, s"reemit != original: $reemitted vs $pairs2")
    assert(Dedup.readSigIndex(spark, idx).count() == committed,
      "reemit duplicated signature rows")
    // and a reemit replay is itself idempotent
    assert(Dedup.minhashNearDupsIncremental(odds, idx, reemit = true)
      .as[(Long, Long, Double)].collect().toSet == pairs2)
  }

  test("q_minhash_incremental leaves no temp index directory behind") {
    import scala.jdk.CollectionConverters._
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def mhidxDirs(): Int = {
      val ls = java.nio.file.Files.list(tmpRoot)
      try ls.iterator().asScala
        .count(_.getFileName.toString.startsWith("graft-mhidx"))
      finally ls.close()
    }
    val before = mhidxDirs()
    val out = SparkEntry.queries("q_minhash_incremental")(spark, sf("sf0.001"))
    assert(out.count() > 0)
    // the entry deletes its per-invocation index eagerly (results are
    // localCheckpointed first), so repeated Bench/Verify runs leave /tmp flat
    assert(mhidxDirs() == before, "q_minhash_incremental leaked its index dir")
  }

  test("contaminationReportBloom is output-identical to the exact report") {
    import graft.ext.Decontaminate
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val corpus = docs.filter($"doc_id" =!= 1L)
    val exact = Decontaminate.contaminationReport(corpus, bench)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // default fpp AND a deliberately terrible one (50% false positives):
    // the exact confirm join must kill every bloom false positive, so the
    // output is invariant to the sketch quality
    Seq(0.01, 0.5).foreach { fpp =>
      val got = Decontaminate
        .contaminationReportBloom(corpus, bench, fpp = fpp)
        .as[(Long, Long, Long, Double)].collect().toSeq
      assert(got == exact, s"fpp=$fpp diverged")
    }
  }

  test("minhashNearDups finds planted near-dups with exact jaccard attached") {
    val got = Dedup.minhashNearDups(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val pairs = got.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((0L, 1L)), s"exact dup missed: ${got.mkString(",")}")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)),
      s"near dup missed: ${got.mkString(",")}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash of identical texts is identical; near-dup is close") {
    val sigs = docs.select($"doc_id", Dedup.simhashExpr("text").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(1L))
    val hamming = java.lang.Long.bitCount(sigs(0L) ^ sigs(2L))
    assert(hamming <= 16, s"hamming=$hamming")
    val far = java.lang.Long.bitCount(sigs(0L) ^ sigs(3L))
    assert(far > hamming)
  }

  test("minhash: one-pass expr ≡ mergeable aggregate, and plans shuffle-free") {
    val viaExpr = Dedup.minhashSignatures(docs)
      .as[(Long, Array[Long])].collect().map(r => r._1 -> r._2.toSeq).toMap
    val viaAgg = Dedup.minhashSignaturesAgg(docs)
      .as[(Long, Array[Long])].collect().map(r => r._1 -> r._2.toSeq).toMap
    assert(viaExpr == viaAgg)
    val plan = Dedup.minhashSignatures(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Generate"),
      s"minhashSignatures should be map-side:\n$plan")
  }

  test("simhash: one-pass expr ≡ agg form ≡ HOF form, and plans shuffle-free") {
    val viaHof = docs.select($"doc_id", Dedup.simhashExpr("text").as("sig"))
      .as[(Long, Long)].collect().toMap
    val viaAgg = Dedup.simhashSignaturesAgg(docs)
      .as[(Long, Long)].collect().toMap
    val viaOnePass = Dedup.simhashSignatures(docs)
      .as[(Long, Long)].collect().toMap
    assert(viaHof == viaAgg)
    assert(viaOnePass == viaAgg)
    // the production path must stay a per-row projection
    val plan = Dedup.simhashSignatures(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Generate"),
      s"simhashSignatures should be map-side:\n$plan")
  }

  test("simhashNearDups reports the exact-dup pair at hamming 0") {
    val got = Dedup.simhashNearDups(docs, maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    assert(got.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
  }

  test("shinglePosHashes: distinct of positional hashes ≡ shingleHashes set") {
    import org.apache.spark.sql.functions.{array_distinct, array_sort, col}
    import graft.ext.TextExpressions
    val both = docs.select(
      array_sort(array_distinct(
        TextExpressions.shinglePosHashes(col("text"), 3))).as("a"),
      array_sort(TextExpressions.shingleHashes(col("text"), 3)).as("b"))
    assert(both.filter(col("a") =!= col("b")).count() == 0)
  }

  test("dupNgramSpans merges overlapping spans; intra-doc repeats don't count") {
    // docs 10/11 share an 8-token run (4 duplicated width-5 windows whose
    // overlapping coverage must merge to exactly 8 tokens); doc 13 repeats
    // a 5-token run INSIDE itself only — doc frequency 1, not duplication
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val d = Seq(
      (10L, s"a1 a2 a3 $shared a4 a5"),
      (11L, s"b1 $shared b2 b3 b4"),
      (12L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
      (13L, "r1 r2 r3 r4 r5 x r1 r2 r3 r4 r5"))
      .toDF("doc_id", "text")
    val out = Dedup.dupNgramSpans(d, width = 5)
      .select("doc_id", "n_tokens", "n_windows", "n_dup_windows",
        "n_dup_tokens", "dup_token_share")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(10L) == ((10L, 13L, 9L, 4L, 8L, 0.62)))
    assert(out(11L) == ((11L, 12L, 8L, 4L, 8L, 0.67)))
    assert(out(12L) == ((12L, 10L, 6L, 0L, 0L, 0.0)))
    assert(out(13L) == ((13L, 11L, 7L, 0L, 0L, 0.0)))
  }

  test("dupSubstringSpans: maximal merged extents, exact 1-based " +
      "positions + text; two separated runs stay two spans; intra-doc " +
      "repeats don't flag") {
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"   // 8 tokens → one merged span
    val shared2 = "t1 t2 t3 t4 t5"           // exactly one window
    val d = Seq(
      (10L, s"a1 a2 a3 $shared a4 $shared2"), // two DISJOINT spans
      (11L, s"b1 $shared b2 b3 b4"),
      (12L, s"$shared2 c1 c2 c3 c4 c5"),
      (13L, "r1 r2 r3 r4 r5 x r1 r2 r3 r4 r5")) // intra-doc only: df=1
      .toDF("doc_id", "text")
    val out = Dedup.dupSubstringSpans(d)
      .as[(Long, Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      // doc 10: s-run at tokens 4..11 (4 windows), t-run at 13..17
      (10L, 4L, 11L, 8L, 4L, shared),
      (10L, 13L, 17L, 5L, 1L, shared2),
      (11L, 2L, 9L, 8L, 4L, shared),
      (12L, 1L, 5L, 5L, 1L, shared2)))
  }

  test("dupSubstringSpans: abutting duplicated windows (gap = width) " +
      "merge into one contiguous span") {
    // doc 20 and 21 share run1; 20 and 22 share run2; in doc 20 the two
    // runs ABUT (run2 starts exactly width after run1's start window
    // exhausts) → contiguous coverage must merge to ONE 10-token span
    val run1 = "u1 u2 u3 u4 u5"
    val run2 = "v1 v2 v3 v4 v5"
    val d = Seq(
      (20L, s"$run1 $run2"),
      (21L, s"x1 $run1 x2"),
      (22L, s"y1 y2 $run2"))
      .toDF("doc_id", "text")
    val out = Dedup.dupSubstringSpans(d)
      .as[(Long, Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (20L, 1L, 10L, 10L, 2L, s"$run1 $run2"),
      (21L, 2L, 6L, 5L, 1L, run1),
      (22L, 3L, 7L, 5L, 1L, run2)))
  }

  test("removeDupSpans: owner keeps, others drop covered tokens, full dup → empty") {
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val d = Seq(
      (10L, s"a1 a2 a3 $shared a4 a5"), // owner of every shared window
      (11L, s"b1 $shared b2 b3 b4"),    // drops the whole s-run
      (12L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"), // untouched
      (14L, shared))                    // entirely duplicated → empty
      .toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(d, width = 5)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(10L) == ((10L, 13L, 0L, s"a1 a2 a3 $shared a4 a5")))
    assert(out(11L) == ((11L, 12L, 8L, "b1 b2 b3 b4")))
    assert(out(12L) == ((12L, 10L, 0L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")))
    assert(out(14L) == ((14L, 8L, 8L, "")))
  }

  test("crossSourceDups pairs sources on the NORMALIZED fingerprint " +
      "(reordered copies count, null texts never pair)") {
    val docs = Seq(
      (1L, "alpha beta gamma", "web"),
      (2L, "gamma alpha beta alpha", "books"), // reordered+repeated copy
      (3L, "alpha beta gamma", "code"),        // verbatim copy
      (4L, "delta epsilon", "web"),
      (5L, null.asInstanceOf[String], "web"),  // null text: never pairs
      (6L, null.asInstanceOf[String], "books"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceDups(docs)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    // the alpha-beta-gamma fingerprint spans web/books/code → 3 pairs;
    // web carries 2 distinct fingerprints, books and code 1 each
    assert(got == Seq(
      ("books", "code", 1L, 1L, 1L),
      ("books", "web", 1L, 1L, 2L),
      ("code", "web", 1L, 1L, 2L)), got.toString)
  }

  test("containmentTopPairs: a planted excerpt reads ~1 forward and the " +
      "asymmetry shows in the reverse direction") {
    val big = (1 to 60).map(i => s"t$i").mkString(" ")
    val excerpt = (21 to 40).map(i => s"t$i").mkString(" ")
    val d = Seq((0L, big), (1L, excerpt),
      (2L, (1 to 30).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Dedup.containmentTopPairs(d, k = 10)
      .select("src_doc", "dst_doc", "containment", "reverse_containment")
      .as[(Long, Long, Double, Double)].collect()
    // 20-token excerpt → 16 distinct 5-gram shingles, all inside big
    val fwd = rows.find(r => r._1 == 1L && r._2 == 0L).get
    assert(fwd._3 == 1.0, fwd.toString)
    assert(fwd._4 < 0.3, fwd.toString) // 16 / 56 big-doc shingles
    // the reverse row carries the mirrored pair of values
    val rev = rows.find(r => r._1 == 0L && r._2 == 1L).get
    assert(rev._3 == fwd._4 && rev._4 == fwd._3, rev.toString)
    // the unrelated doc pairs with nobody
    assert(!rows.exists(r => r._1 == 2L || r._2 == 2L))
  }

  test("prefixJaccardPairs is LOSSLESS at the threshold: it reproduces " +
      "the naive all-pairs >= t set exactly, on planted and random docs") {
    def naiveReplay(df: org.apache.spark.sql.DataFrame) = {
      val sh = Dedup.hashedShingles(df, Dedup.JaccardShingleWidth)
        .as[(Long, Long)].collect().toSeq
      val dfm = sh.groupBy(_._2).view.mapValues(_.size).toMap
      val kept = sh.filter(x => dfm(x._2) <= Dedup.MaxShingleDf)
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      val ids = kept.keys.toSeq.sorted
      (for {
        a <- ids; b <- ids if a < b
        c = (kept(a) & kept(b)).size.toLong
        sza = kept(a).size.toLong; szb = kept(b).size.toLong
        if (Dedup.PrefixTDen + Dedup.PrefixTNum) * c >=
          Dedup.PrefixTNum * (sza + szb)
      } yield (a, b, sza, szb, c,
        r6(c.toDouble / (sza + szb - c)))).sortBy(r => (r._1, r._2))
    }
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val planted = Seq(
      (0L, base), (1L, base),
      (2L, (1 to 40).map(i => if (i <= 37) s"w$i" else s"x$i")
        .mkString(" ")),
      (3L, (100 to 140).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(planted)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == naiveReplay(planted), s"got $got")
    // the exact dup pair is present at jaccard 1; the unrelated doc never
    assert(got.exists(r => r._1 == 0L && r._2 == 1L && r._6 == 1.0), got)
    assert(!got.exists(r => r._1 == 3L || r._2 == 3L), got.toString)
    // random small-vocab corpus (forces shingle collisions and boundary
    // jaccards): the prefix scheme must still match the naive set
    val r = new scala.util.Random(0xBEEF)
    val rnd = (0L until 30L).map { id =>
      (id, (0 until 20 + r.nextInt(20))
        .map(_ => s"t${r.nextInt(30)}").mkString(" "))
    }.toDF("doc_id", "text")
    val gotR = Dedup.prefixJaccardPairs(rnd)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(gotR == naiveReplay(rnd), s"random-frame mismatch: $gotR")
  }

  test("leakageSafeSplit: near-dup cluster members inherit ONE split " +
      "(no cluster straddles train/test) and singletons use their own id") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, base), (1L, base), (2L, base), // one exact-dup cluster
      (3L, (100 to 140).map(i => s"y$i").mkString(" ")), // singleton
      (4L, (200 to 240).map(i => s"z$i").mkString(" "))) // singleton
      .toDF("doc_id", "text")
    val got = Dedup.leakageSafeSplit(docs)
      .as[(Long, Long, String)].collect().toSeq
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
    // the cluster (0,1,2) shares rep 0 and therefore ONE split
    val cluster = got.filter(_._1 <= 2L)
    assert(cluster.forall(_._2 == 0L), cluster.toString)
    assert(cluster.map(_._3).distinct.size == 1, cluster.toString)
    // singletons are their own representative
    assert(got.find(_._1 == 3L).get._2 == 3L)
    assert(got.find(_._1 == 4L).get._2 == 4L)
    // the split rule is the shared md5 bucket rule
    got.foreach { case (_, rep, split) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(rep.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(split == (if (hex.head < 'c') "train" else "test"))
    }
  }

  test("tfidfTopPairs: a shared RARE token pairs docs at cosine 1 while " +
      "the corpus-wide token carries zero idf and drops; df-1 terms " +
      "never pair") {
    val d = Seq(
      (0L, "the alpha rarum"),
      (1L, "the beta rarum"),
      (2L, "the gamma"),
      (3L, "the delta"))
      .toDF("doc_id", "text")
    val n = 4L
    val idf = Dedup.idfTable(n)
    // 'the' has df 4 = N → idf = ln(5/5) = 0 → dropped on both sides;
    // alpha..delta have df 1 → below the pairing window; only 'rarum'
    // (df 2, idf = ln(5/3) > 0) survives, pairing docs 0 and 1 exactly
    assert(idf(3) == 0L && idf(1) > 0L, idf.take(4).toSeq.toString)
    val got = Dedup.tfidfTopPairs(d, idf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 1L, idf(1) * idf(1), 1.0)), got.toString)
  }
}
