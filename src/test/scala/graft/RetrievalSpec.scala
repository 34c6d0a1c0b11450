package graft

import org.apache.spark.sql.functions.col

import graft.ext.Retrieval

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf = graft.ingest.Sources.table(
    spark, sf("sf0.001"), "documents")
  private def embDf = graft.ingest.Sources.table(
    spark, sf("sf0.001"), "embeddings")

  /** Plain-Scala BM25 ground truth: same formula, same quantization. */
  private def bm25Replay(
      docs: Seq[(Long, String)],
      qt: Seq[(Long, String, Long)]): Map[(Long, Long), Long] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val nd = docs.size
    val avgdl = toks.map(_._2.size.toLong).sum.toDouble / nd.toDouble
    val out = collection.mutable.Map[(Long, Long), Long]()
    for ((qid, term, idfMicro) <- qt; (did, ts) <- toks) {
      val tf = ts.count(_ == term).toLong
      if (tf > 0) {
        val idfD = idfMicro.toDouble / 1000000.0
        val num = tf.toDouble * Retrieval.Bm25K1Plus1
        val den = tf.toDouble + Retrieval.Bm25K1 *
          (Retrieval.Bm25OneMinusB + Retrieval.Bm25B *
            (ts.size.toDouble / avgdl))
        val s = math.floor(idfD * num / den * 1000000.0 + 0.5).toLong
        out((qid, did)) = out.getOrElse((qid, did), 0L) + s
      }
    }
    out.toMap
  }

  test("bm25Search matches a plain-Scala replay exactly (micro-unit " +
      "longs, rank by score desc / doc_id)") {
    val d = docsDf
    val idf = Retrieval.trainBm25Idf(d,
      Retrieval.Bm25Queries.flatMap(_._2).distinct).toMap
    val qt = Retrieval.Bm25Queries.flatMap { case (qid, ts) =>
      ts.map(t => (qid, t, idf(t))) }
    val got = Retrieval.bm25Search(d, qt)
      .select("query_id", "rank", "doc_id", "score_micro")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val docsLocal = d.filter(col("text").isNotNull)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val truth = bm25Replay(docsLocal, qt)
    val want = truth.toSeq.groupBy(_._1._1).toSeq.flatMap {
      case (qid, scored) =>
        scored.map { case ((_, did), s) => (did, s) }
          .sortBy { case (did, s) => (-s, did) }
          .take(Retrieval.Bm25TopK).zipWithIndex
          .map { case ((did, s), i) => (qid, i + 1L, did, s) }
    }.sortBy(r => (r._1, r._2))
    assert(got == want)
    // non-degenerate: every probe query returns a full list with
    // distinct scores somewhere in it (tf/dl variation is visible)
    assert(got.map(_._1).distinct.size == Retrieval.Bm25Queries.size)
    assert(got.groupBy(_._1).values.forall(_.map(_._4).distinct.size > 1))
  }

  test("bm25: the rare term's idf dominates — docs containing 'dup' " +
      "outrank all-common-term docs for query 1") {
    val d = docsDf
    val idf = Retrieval.trainBm25Idf(d,
      Retrieval.Bm25Queries.flatMap(_._2).distinct).toMap
    val qt = Retrieval.Bm25Queries.flatMap { case (qid, ts) =>
      ts.map(t => (qid, t, idf(t))) }
    val dupDocs = d.filter(col("text").isNotNull)
      .filter(col("text").contains("dup"))
      .select("doc_id").as[Long].collect().toSet
    if (dupDocs.nonEmpty) {
      val top1 = Retrieval.bm25Search(d, qt)
        .filter(col("query_id") === 1L && col("rank") === 1L)
        .select("doc_id").as[Long].head()
      assert(dupDocs.contains(top1),
        s"rank-1 doc $top1 for query 1 should contain the rare term")
    }
  }

  test("bm25 plan: query terms broadcast (no shuffle on the posting " +
      "filter side), never a cartesian product") {
    val d = docsDf
    val idf = Retrieval.trainBm25Idf(d, Seq("spark", "dup")).toMap
    val df = Retrieval.bm25Search(d,
      Seq((1L, "spark", idf("spark")), (1L, "dup", idf("dup"))))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term join must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product anywhere:\n$plan")
  }

  private def bm25Qt(d: org.apache.spark.sql.DataFrame) = {
    val idf = Retrieval.trainBm25Idf(d,
      Retrieval.Bm25Queries.flatMap(_._2).distinct).toMap
    Retrieval.Bm25Queries.flatMap { case (qid, ts) =>
      ts.map(t => (qid, t, idf(t))) }
  }

  test("bm25SearchPruned ≡ bm25Search row-for-row (TA pruning is " +
      "lossless for the returned top-k)") {
    val d = docsDf
    val qt = bm25Qt(d)
    val exact = Retrieval.bm25Search(d, qt).collect().toSeq
    val pruned = Retrieval.bm25SearchPruned(d, qt).collect().toSeq
    assert(pruned == exact)
    assert(pruned.nonEmpty)
  }

  test("bm25SearchPruned: a starved initial prefix (B = k) forces the " +
      "doubling loop and stays exact") {
    val d = docsDf
    val qt = bm25Qt(d)
    val k = 3
    val exact = Retrieval.bm25Search(d, qt).collect().toSeq
      .filter(_.getLong(1) <= k)
    val pruned = Retrieval.bm25SearchPruned(d, qt, k = k, initialB = 1)
      .collect().toSeq
    assert(pruned == exact)
  }

  test("bm25SearchPruned: degenerate all-equal scores terminate via " +
      "the exhaustion path (certificate can never hold strictly)") {
    // every doc identical → every (query, doc) score identical → the
    // k-th best always EQUALS τ; only full posting exhaustion certifies
    val d = spark.range(40).select(col("id").as("doc_id"),
      org.apache.spark.sql.functions.lit("spark join hash table")
        .as("text"))
    val idf = Retrieval.trainBm25Idf(d, Seq("spark", "hash", "ghostterm"))
    val qt = Seq((1L, "spark", idf.toMap.apply("spark")),
      (1L, "hash", idf.toMap.apply("hash")),
      // a term absent from the corpus: trains maximal idf, matches
      // nothing, must not perturb the result
      (1L, "ghostterm", idf.toMap.apply("ghostterm")))
    val exact = Retrieval.bm25Search(d, qt).collect().toSeq
    val pruned = Retrieval.bm25SearchPruned(d, qt, initialB = 4)
      .collect().toSeq
    assert(pruned == exact)
    assert(pruned.size == Retrieval.Bm25TopK) // ties → smallest doc_ids
    assert(pruned.map(_.getLong(2)).toSeq == (0L until 10L).toSeq)
  }

  test("bm25SearchPruned: the certificate fires BEFORE exhaustion on a " +
      "spread corpus — the pruning path itself is exercised, not just " +
      "the exhaustion fallback") {
    // 5 of 1000 docs carry a rare high-idf term; the common term is in
    // every doc. τ = bound(rare: exhausted at B=64 → 0) + bound₆₄(common
    // ≈ 400 micro), while the k-th best candidate carries the rare idf
    // (~4e6 micro) — the strict certificate holds in ROUND ONE with the
    // common term's postings (1000 > 64) decidedly unexhausted.
    val d = spark.range(1000).select(col("id").as("doc_id"),
      org.apache.spark.sql.functions.when(col("id") < 5,
        org.apache.spark.sql.functions.lit("raregem common alpha beta"))
        .otherwise(org.apache.spark.sql.functions
          .lit("common alpha beta gamma")).as("text"))
    val idf = Retrieval.trainBm25Idf(d, Seq("raregem", "common")).toMap
    val qt = Seq((1L, "raregem", idf("raregem")),
      (1L, "common", idf("common")))
    val exact = Retrieval.bm25Search(d, qt).collect().toSeq
      .filter(_.getLong(1) <= 3)
    val (prunedDf, diag) = Retrieval.bm25SearchPrunedDiag(d, qt, k = 3)
    val pruned = prunedDf.collect().toSeq
    assert(pruned == exact)
    assert(diag.rounds == 1,
      s"expected one certification round, got ${diag.rounds}")
    assert(diag.finalB == Retrieval.MaxScorePrefixB)
    assert(diag.byBound,
      "termination must come from the strict bound, not exhaustion")
  }

  test("bm25SearchPruned: the escalating prefix schedule (×2 then ×4) " +
      "reaches exhaustion on a plateau corpus in the log₄ round count") {
    // 40 identical docs, df = 40, bCeil = 41; b starts at
    // max(initialB = 4, k = Bm25TopK = 10) = 10. Schedule: 10 (fail,
    // all scores tie so the strict bound can never hold) → ×2 = 20
    // (fail) → ×4 = 80, clamped to 41 → every term exhausted (max
    // rank 40 < 41): THREE rounds, where pure doubling paid four
    // (10, 20, 40 — NOT exhausted at B = 40 since rank 40 = B — 41).
    val d = spark.range(40).select(col("id").as("doc_id"),
      org.apache.spark.sql.functions.lit("spark join hash table")
        .as("text"))
    val idf = Retrieval.trainBm25Idf(d, Seq("spark", "hash")).toMap
    val qt = Seq((1L, "spark", idf("spark")), (1L, "hash", idf("hash")))
    val exact = Retrieval.bm25Search(d, qt).collect().toSeq
    val (prunedDf, diag) = Retrieval.bm25SearchPrunedDiag(d, qt,
      initialB = 4)
    assert(prunedDf.collect().toSeq == exact)
    assert(diag.rounds == 3,
      s"escalating schedule should exhaust in 3 rounds, got $diag")
    assert(diag.finalB == 41, s"final B must be the bCeil clamp: $diag")
    assert(!diag.byBound, "termination must be exhaustion on ties")
  }

  test("bm25SearchPruned plan: the corpus-side contribution frame " +
      "never re-shuffles for candidate scoring (broadcast candidates), " +
      "never a cartesian product") {
    val d = docsDf
    val qt = bm25Qt(d)
    val plans = roundPlans(spark)(Retrieval.bm25SearchPruned(d, qt))
    assert(plans.nonEmpty)
    // the candidate×term fetch joins broadcast-side against the
    // checkpointed contribution scan (LogicalRDD — lineage severed)
    plans.foreach { plan =>
      assert(plan.contains("BroadcastHashJoin"),
        s"candidate fetch must broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    }
  }

  test("bm25SearchPruned: past the broadcast threshold every round stays " +
      "distributed (no broadcast) and exact") {
    val noBroadcast = GraftSession.derive(spark,
      Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    val d = graft.ingest.Sources.table(noBroadcast, sf("sf0.001"),
      "documents")
    val qt = bm25Qt(docsDf)
    var pruned = Seq.empty[org.apache.spark.sql.Row]
    val plans = roundPlans(noBroadcast) {
      pruned = Retrieval.bm25SearchPruned(d, qt).collect().toSeq
    }
    assert(pruned == Retrieval.bm25Search(docsDf, qt).collect().toSeq)
    assert(plans.nonEmpty)
    plans.foreach(plan =>
      assert(!plan.contains("BroadcastExchange"), s"no broadcast:\n$plan"))
  }

  /** Executed plans of the certificate-round collects `body` runs in
    * `session` (the actions whose plan unions bounds with top-k rows). */
  private def roundPlans(session: org.apache.spark.sql.SparkSession)(
      body: => Any): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    session.listenerManager.register(listener)
    try {
      body
      org.apache.spark.sql.graft.ColumnBridge
        .waitForListeners(session.sparkContext)
    } finally session.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq.filter(_.contains("Union"))
  }

  /** `qs` with `d`'s trained idf, the `(query_id, tok, idf_micro)` rows. */
  private def qtFor(d: org.apache.spark.sql.DataFrame,
      qs: Seq[(Long, Seq[String])]): Seq[(Long, String, Long)] = {
    val idf = Retrieval.trainBm25Idf(d, qs.flatMap(_._2).distinct).toMap
    qs.flatMap { case (qid, ts) => ts.map(t => (qid, t, idf(t))) }
  }

  test("bm25 impact index: two query sets served from one persisted " +
      "index, each ≡ bm25Search row-for-row") {
    withArtifactRoot {
      val dir = sf("sf0.001")
      val d = docsDf
      var builds = 0
      Retrieval.bm25Index(spark, dir, Nil) { builds += 1; d }
      val other = Seq(7L -> Seq("table", "join", "dup"),
        8L -> Seq("vector"), 9L -> Seq("window", "key", "scan", "ghostterm"))
      for (qs <- Seq(Retrieval.Bm25Queries, other)) {
        val qt = qtFor(d, qs)
        val index = Retrieval.bm25Index(spark, dir, qt.map(_._2).distinct)(
          fail("a persisted index must not rebuild"))
        // the driver holds the opened vocabulary's term rows only
        assert(index.terms.keySet == qt.map(_._2).toSet)
        val got = Retrieval.bm25SearchPruned(index, qt).collect().toSeq
        assert(got == Retrieval.bm25Search(d, qt).collect().toSeq)
        assert(got.map(_.getLong(0)).distinct.size == qs.size)
      }
      assert(builds == 1)
    }
  }

  test("bm25 impact index: rewriting documents at the same path builds " +
      "a new index whose results ≡ the exact route on the new data, " +
      "and a plan opened on the previous index still runs") {
    withArtifactRoot {
      val data = tempDir("graft-bm25-index")
      val vocab = Vector("spark", "dup", "hash", "table", "join", "scan")
      def write(seed: Int): Unit = {
        val r = new scala.util.Random(seed)
        (0 until 200).map(i => (i.toLong, Seq.fill(3 + r.nextInt(10))(
            vocab(r.nextInt(vocab.size))).mkString(" ")))
          .toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$data/documents.parquet")
      }
      val qs = Seq(1L -> Seq("spark", "dup"), 2L -> Seq("hash", "table"))
      var builds = 0
      def open(): (Retrieval.Bm25Index, Seq[(Long, String, Long)],
          Seq[org.apache.spark.sql.Row]) = {
        val d = graft.ingest.Sources.table(spark, data.toString, "documents")
        val qt = qtFor(d, qs)
        val index = Retrieval.bm25Index(spark, data.toString,
          qt.map(_._2).distinct) { builds += 1; d }
        (index, qt, Retrieval.bm25Search(d, qt).collect().toSeq)
      }
      def search(index: Retrieval.Bm25Index, qt: Seq[(Long, String, Long)]) =
        Retrieval.bm25SearchPruned(index, qt).collect().toSeq
      try {
        write(1)
        // index1's postings plan first runs again after the rebuild, so
        // it must read the first index's files then
        val (index1, qt1, exact1) = open()
        val pruned1 = search(open()._1, qt1)
        assert(builds == 1)
        write(2)
        val (index2, qt2, exact2) = open()
        val pruned2 = search(index2, qt2)
        assert(builds == 2, "a rewritten corpus must build a new index")
        assert(pruned1 == exact1 && pruned2 == exact2)
        assert(pruned1 != pruned2, "the two corpora must rank differently")
        assert(search(index1, qt1) == pruned1,
          "the rebuild must keep the previous generation's files")
      } finally Fs.deleteQuietly(data)
    }
  }

  test("q_bm25_maxscore warm call: no job outside the certificate rounds, " +
      "at most 5 per round") {
    withArtifactRoot {
      val dir = sf("sf0.001")
      val entry = SparkEntry.queries("q_bm25_maxscore")
      entry(spark, dir).collect() // trains the idf, builds the index
      val meter = Meter(spark)
      val (warm, usage) = try meter.run(entry(spark, dir))
        finally meter.close()
      val (exact, diag) = Retrieval.bm25SearchPrunedDiag(
        Retrieval.bm25Index(spark, dir, Retrieval.Bm25Queries.flatMap(_._2)
          .distinct)(fail("the index must be warm")),
        bm25Qt(docsDf), Retrieval.Bm25TopK, Retrieval.MaxScorePrefixB)
      assert(warm.collect().toSeq == exact.collect().toSeq)
      assert(usage.jobs <= 5L * diag.rounds,
        s"${usage.jobs} jobs for ${diag.rounds} certificate rounds")
    }
  }

  test("q_bm25_maxscore warm call: collecting the returned frame runs no " +
      "job — the last certificate round's rows are the result") {
    withArtifactRoot {
      val dir = sf("sf0.001")
      val entry = SparkEntry.queries("q_bm25_maxscore")
      val want = entry(spark, dir).collect().toSeq // trains, builds the index
      val warm = entry(spark, dir)
      val meter = Meter(spark)
      val (got, usage) = try meter.run(warm.collect().toSeq)
        finally meter.close()
      assert(got.nonEmpty && got == want)
      assert(usage.jobs == 0L, s"${usage.jobs} jobs to collect the result")
    }
  }

  test("hybridSearch: fusion is consistent with its two component " +
      "lists (RRF arithmetic, membership, rank order)") {
    val d = docsDf
    val qt = Retrieval.trainHybridQueryTerms(d).toSeq
    val fused = Retrieval.hybridSearch(d, embDf, qt)
      .select("query_id", "rank", "doc_id", "bm25_rank", "cos_rank",
        "rrf")
      .collect()
    assert(fused.nonEmpty)
    val qids = fused.map(_.getLong(0)).distinct.toSet
    assert(qids.subsetOf(Retrieval.HybridQueryIds.toSet))
    fused.foreach { r =>
      val bm = Option(r.get(3)).map(_.asInstanceOf[Long])
      val cs = Option(r.get(4)).map(_.asInstanceOf[Long])
      assert(bm.nonEmpty || cs.nonEmpty, "a fused row must come from " +
        "at least one list")
      // RRF value replays exactly from the two ranks (6dp half-up)
      val expect = bm.map(x => 1.0 / (Retrieval.RrfK + x).toDouble)
        .getOrElse(0.0) +
        cs.map(x => 1.0 / (Retrieval.RrfK + x).toDouble).getOrElse(0.0)
      assert(r.getDouble(5) ==
        math.floor(expect * 1e6 + 0.5) / 1e6,
        s"rrf mismatch on $r")
      // never a self-match
      assert(r.getLong(2) != r.getLong(0))
    }
    // per query: ranks are 1..n contiguous and rrf non-increasing
    fused.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq ==
        (1L to sorted.length.toLong))
      val vs = sorted.map(_.getDouble(5)).toSeq
      assert(vs.zip(vs.tail).forall { case (a, b) => a >= b })
    }
    // a doc present in BOTH depth-20 lists at equal-or-better ranks
    // outranks a same-single-list-rank doc: spot the property holds by
    // checking rank-1 of some query has 2 contributions OR the corpus
    // genuinely has disjoint lists (then every rrf < 2/(60+1))
    val both = fused.filter(r => !r.isNullAt(3) && !r.isNullAt(4))
    if (both.isEmpty)
      assert(fused.forall(_.getDouble(5) <
        2.0 / (Retrieval.RrfK + 1).toDouble))
  }

  test("prfExpansion matches a plain-Scala RM1 replay exactly " +
      "(feedback top-F, tf/dl micro quantization, original-term " +
      "exclusion)") {
    val d = docsDf
    val idf = Retrieval.trainBm25Idf(d,
      Retrieval.Bm25Queries.flatMap(_._2).distinct).toMap
    val qt = Retrieval.Bm25Queries.flatMap { case (qid, ts) =>
      ts.map(t => (qid, t, idf(t))) }
    val got = Retrieval.prfExpansion(d, qt)
      .select("query_id", "rank", "term", "weight_micro")
      .as[(Long, Long, String, Long)].collect().toSeq
    val docsLocal = d.filter(col("text").isNotNull)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val toks = docsLocal.map { case (id, t) =>
      id -> t.split(" ", -1).toSeq }.toMap
    val truth = bm25Replay(docsLocal, qt)
    val want = truth.toSeq.groupBy(_._1._1).toSeq.flatMap {
      case (qid, scored) =>
        val fb = scored.map { case ((_, did), s) => (did, s) }
          .sortBy { case (did, s) => (-s, did) }
          .take(Retrieval.PrfFeedbackDocs).map(_._1)
        val origTerms = qt.filter(_._1 == qid).map(_._2).toSet
        val w = collection.mutable.Map[String, Long]()
        for (did <- fb; ts = toks(did); term <- ts.distinct
             if !origTerms.contains(term)) {
          val tf = ts.count(_ == term).toLong
          val c = math.floor(
            tf.toDouble / ts.size.toDouble * 1e6 + 0.5).toLong
          w(term) = w.getOrElse(term, 0L) + c
        }
        w.toSeq.sortBy { case (t, s) => (-s, t) }
          .take(Retrieval.PrfExpansionTerms).zipWithIndex
          .map { case ((t, s), i) => (qid, i + 1L, t, s) }
    }.sortBy(r => (r._1, r._2))
    assert(got == want)
    // non-degenerate: every probe query yields a full expansion list
    // with no original query term in it
    assert(got.map(_._1).distinct.size == Retrieval.Bm25Queries.size)
    val origByQ = qt.groupBy(_._1)
    assert(got.forall { case (q, _, t, _) =>
      !origByQ(q).exists(_._2 == t) })
  }

  test("prfExpansion plan: feedback set and original-term exclusion " +
      "broadcast; never a cartesian product") {
    val d = docsDf
    val idf = Retrieval.trainBm25Idf(d, Seq("spark", "dup")).toMap
    val df = Retrieval.prfExpansion(d,
      Seq((1L, "spark", idf("spark")), (1L, "dup", idf("dup"))))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("textRankKeywords matches a plain-Scala replay of the capped " +
      "co-occurrence graph + fixed-point rounds exactly") {
    val d = docsDf
    val got = Retrieval.textRankKeywords(d)
      .select("rank", "tok", "score_micro")
      .as[(Long, String, Long)].collect().toSeq
    // replay: vocab, adjacency, weights, 10 integer rounds
    val texts = d.filter(col("text").isNotNull)
      .select("text").as[String].collect().toSeq
    val tokss = texts.map(_.split(" ", -1).toSeq)
    val freq = tokss.flatten.groupBy(identity).map { case (t, xs) =>
      t -> xs.size.toLong }
    val vocab = freq.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(Retrieval.TextRankVocab).map(_._1).toSet
    val dirAdj = tokss.flatMap(ts => ts.zip(ts.drop(1)))
      .filter { case (u, v) =>
        u != v && vocab.contains(u) && vocab.contains(v) }
    val und = dirAdj ++ dirAdj.map(_.swap)
    val w = und.groupBy(identity).map { case (e, xs) =>
      e -> xs.size.toLong }
    val wdeg = w.toSeq.groupBy(_._1._1).map { case (u, es) =>
      u -> es.map(_._2).sum }
    val sc = Retrieval.TextRankScale
    val p = w.map { case ((u, v), wv) => (u, v, wv * sc / wdeg(u)) }
    var s = vocab.map(_ -> sc).toMap
    for (_ <- 1 to Retrieval.TextRankRounds) {
      val contrib = p.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, pm) => s(u) * pm / sc }.sum }
      s = vocab.map(t => t -> (Retrieval.TextRankBase +
        85L * contrib.getOrElse(t, 0L) / 100L)).toMap
    }
    val want = s.toSeq.sortBy { case (t, x) => (-x, t) }
      .take(Retrieval.TextRankTopK).zipWithIndex
      .map { case ((t, x), i) => (i + 1L, t, x) }
    assert(got == want)
    // non-degenerate: full list, and connectivity separates scores
    assert(got.size == Retrieval.TextRankTopK)
    assert(got.map(_._3).distinct.size > 1)
    assert(got.forall(_._3 >= Retrieval.TextRankBase))
  }

  test("hybridSearch drops null-text query docs from the BM25 side " +
      "but keeps their cosine list (one-sided fusion)") {
    val d = docsDf
    // blank out query doc 3's text
    val d2 = d.withColumn("text",
      org.apache.spark.sql.functions.when(col("doc_id") === 3L,
        org.apache.spark.sql.functions.lit(null: String))
        .otherwise(col("text")))
    val qt = Retrieval.trainHybridQueryTerms(d2).toSeq
    assert(!qt.exists(_._1 == 3L), "null-text query doc trains no terms")
    val fused = Retrieval.hybridSearch(d2, embDf, qt)
      .filter(col("query_id") === 3L).collect()
    // cosine-only fusion: rows exist, bm25_rank all null
    assert(fused.nonEmpty)
    assert(fused.forall(_.isNullAt(3)))
  }
}
