package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sink.ArtifactStore

/** Query-scoring retrieval stack over the `documents` corpus: Okapi BM25
  * ranking and reciprocal-rank-fusion (RRF) hybrid search that fuses the
  * lexical BM25 ranking with an exact embedding-cosine ranking — the
  * serving-side complement of the corpus-analysis operators in
  * [[TextOps]] (TF-IDF terms, phrase search) and [[Similarity]] (kNN).
  * The reference's dashboard answers fixed aggregate questions
  * (`reference:airflow_docker/dags/utils/snowflake_refresh.py:5-80`);
  * a training-data pipeline additionally needs ranked retrieval for
  * corpus auditing ("which documents match this probe query?") and
  * RAG-style evaluation — this is that surface.
  *
  * Exactness discipline (everything rides the driver's hash gate):
  *  - `ln` has no cross-engine correctly-rounded guarantee, so per-term
  *    idf is computed ONCE on the driver at train time and quantized to
  *    micro-units ([[Bm25ScoreScale]], the DSIR micro-nat discipline);
  *    both engines serve from the same rendered longs.
  *  - The per-term BM25 contribution is an IDENTICAL IEEE double op
  *    sequence in both engines (exact long tf/dl inputs; mul/div/add are
  *    correctly rounded), then floor-trick quantized to micro-unit
  *    LONGS, so the per-document sum over matched terms is an exact,
  *    order-free long sum (the k-means fixed-point discipline — no
  *    float-sum-order exposure at all).
  *  - RRF contributions `1/(k + rank)` are single correctly-rounded
  *    divisions of exact longs; the two-list fusion adds them in pinned
  *    (bm25, cosine) order.
  *
  * Scale (the 100 TB story): the corpus-side work is one tokenize pass;
  * the query-term table is constants-bounded and BROADCAST, so the
  * posting filter is map-side; per-(query, doc, term) tf is one hash
  * aggregate keyed by bounded query terms × matched docs; top-k rides
  * the bounded-heap [[TopK.topKPerGroup]] aggregate (map-side partials,
  * ≤ k pairs per group per partition). The cosine side broadcasts the
  * constants-bounded query vectors — the [[Similarity.batchKnn]] shape.
  * No shuffle anywhere is corpus-quadratic.
  */
object Retrieval {
  /** BM25 shape parameters (Robertson k1/b defaults). Mirrors render
    * these via the float-exact `dblSql` discipline — never re-typed
    * literals ([[Bm25K1Plus1]] in particular: `1.2 + 1.0` computed in
    * double is NOT bit-identical to a parsed `2.2`, so the mirror must
    * render the COMPUTED value). */
  val Bm25K1: Double = 1.2
  val Bm25B: Double = 0.75
  val Bm25K1Plus1: Double = Bm25K1 + 1.0
  val Bm25OneMinusB: Double = 1.0 - Bm25B

  /** Micro-unit quantization scale for idf and per-term scores — after
    * quantization every aggregation is exact long arithmetic. */
  val Bm25ScoreScale = 1000000L

  /** Result-list depth of `q_bm25_search`. */
  val Bm25TopK = 10

  /** Constant probe queries for `q_bm25_search` (query_id → distinct
    * terms), interpolated into BOTH engines from here (the shared-
    * constant discipline). `dup` is the corpus's one rare token
    * (df ≈ 5% vs ~77% for the rest) — its idf dominates queries 1 and
    * 5, demonstrating rarity-weighted ranking; the common terms rank by
    * tf/length normalization. */
  val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "join", "dup"),
    2L -> Seq("hash", "table", "scan"),
    3L -> Seq("window", "batch"),
    4L -> Seq("filter", "merge", "vector"),
    5L -> Seq("key", "dup"))

  /** RRF fusion constant (the standard 60) and per-list depth fused by
    * `q_hybrid_search`. */
  val RrfK = 60L
  val RrfListDepth = 20

  /** Result-list depth of `q_hybrid_search`. */
  val HybridTopK = 10

  /** Query DOCUMENT ids for `q_hybrid_search` — a constants-bounded set
    * (all < the smallest test corpus's 50 docs) whose text drives the
    * BM25 side and whose embedding (`vec_id` ≡ `doc_id`, the shared id
    * space of the driver's `documents`/`embeddings` tables) drives the
    * cosine side. A bounded CONSTANT set, not a modulus — query count
    * must not grow with the corpus or the Q×N cosine side goes
    * quadratic. */
  val HybridQueryIds: Seq[Long] = Seq(3L, 11L, 27L, 42L)

  /** Per-query-document term cap for the hybrid BM25 side, applied at
    * TRAIN time (rarest-first: df asc, token asc — rare terms carry the
    * idf mass); never binds on the test corpora (~30 distinct tokens per
    * doc) but bounds the broadcast on adversarial inputs. */
  val Bm25MaxQueryTerms = 1024

  /** The one idf formula of the BM25 stack, driver-only:
    * idf = ln(1 + (N − df + 0.5) / (df + 0.5)) — the Lucene/ATIRE
    * non-negative variant — quantized to micro-units. [[trainBm25Idf]],
    * [[trainHybridQueryTerms]] and the impact index's `terms` table all
    * call it, so their idf values agree bit for bit. */
  def idfMicro(nDocs: Long, df: Long): Long = {
    val idf = math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
    math.floor(idf * Bm25ScoreScale + 0.5).toLong
  }

  /** Driver-side idf training for a bounded term set: one bounded
    * aggregate + a ≤ |terms|-row collect (the bounded-scalar rule), then
    * [[idfMicro]]. Terms absent from the corpus keep their (maximal) idf;
    * they simply match no postings. */
  def trainBm25Idf(documents: DataFrame,
      terms: Seq[String]): Array[(String, Long)] = {
    val docs = documents.filter(col("text").isNotNull)
    val nDocs = docs.count()
    val dfMap = docs
      .select(explode(array_distinct(TextOps.tokens(col("text"))))
        .as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.sorted.map(t => t -> idfMicro(nDocs, dfMap.getOrElse(t, 0L)))
      .toArray
  }

  /** Hybrid-search train step: the distinct tokens of each query
    * document (rarest-first capped at [[Bm25MaxQueryTerms]]) with their
    * driver-quantized idf — the `(query_id, tok, idf_micro)` table both
    * engines serve from. One bounded collect (query docs are a constant
    * set; the test corpora carry ~30 distinct tokens each). */
  def trainHybridQueryTerms(documents: DataFrame,
      queryIds: Seq[Long] = HybridQueryIds): Array[(Long, String, Long)] = {
    val docs = documents.filter(col("text").isNotNull)
    val nDocs = docs.count()
    // global df of every token that appears in some query doc
    val qtoks = docs.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("tok"))
    val dfs = docs
      .select(explode(array_distinct(TextOps.tokens(col("text"))))
        .as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    qtoks.join(dfs, Seq("tok"))
      .collect()
      .map(r => (r.getLong(1), r.getString(0), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy { case (_, tok, df) => (df, tok) }
          .take(Bm25MaxQueryTerms)
          .map { case (_, tok, df) => (qid, tok, idfMicro(nDocs, df)) }
      }.sortBy(r => (r._1, r._2)).toArray
  }

  /** Per-(query, doc) BM25 score in micro-units from a trained
    * query-term table: tokenize once, broadcast-filter to query terms,
    * per-term exact-double contribution quantized to a long, exact long
    * sum per document. `queryTerms` rows are `(query_id, tok,
    * idf_micro)` with DISTINCT terms per query (qtf ≡ 1). */
  def bm25Scores(documents: DataFrame,
      queryTerms: Seq[(Long, String, Long)]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val qt = queryTerms.toDF("query_id", "tok", "idf_micro")
    val docs = documents.filter(col("text").isNotNull)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val dl = docs.select(col("doc_id"),
      size(col("toks")).cast("long").as("dl"))
    // 1-row stats frame; avgdl guarded (ANSI double division throws on
    // 0/0 — the r11 zero-denominator rule)
    val stats = docs.agg(count(lit(1)).as("nd"),
        coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("tot"))
      .select(when(col("nd") > 0,
        col("tot").cast("double") / col("nd").cast("double")).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .join(broadcast(qt), Seq("tok"))
      .groupBy("query_id", "doc_id", "tok", "idf_micro")
      .agg(count(lit(1)).as("tf"))
    tf.join(dl, Seq("doc_id")).crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        contribMicro(col("tf"), col("idf_micro"), col("dl"), col("avgdl"))
          .as("s_micro"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("s_micro")).cast("long").as("score_micro"))
  }

  /** The per-(term, doc) BM25 contribution in micro-unit longs — ONE
    * shared Column tree so [[bm25Scores]] (the exact route) and
    * [[bm25IndexTables]] (the max-score route's index) are bit-identical
    * by construction, not by parallel maintenance. Identical IEEE op
    * sequence in the mirrors: `((idf/1e6) * (tf*(k1+1))) / (tf +
    * k1*((1-b) + b*(dl/avgdl)))`, floor-trick quantized. */
  private def contribMicro(tf: Column, idfMicro: Column, dl: Column,
      avgdl: Column): Column = {
    val idfD = idfMicro.cast("double") / lit(1000000.0)
    val num = tf.cast("double") * lit(Bm25K1Plus1)
    val den = tf.cast("double") + lit(Bm25K1) *
      (lit(Bm25OneMinusB) + lit(Bm25B) * (dl.cast("double") / avgdl))
    floor(idfD * num / den * lit(1000000.0) + lit(0.5)).cast("long")
  }

  /** `q_bm25_search`: top-[[Bm25TopK]] documents per constant probe
    * query by exact micro-unit BM25 score (ties to the smaller doc_id). */
  def bm25Search(documents: DataFrame,
      queryTerms: Seq[(Long, String, Long)]): DataFrame = {
    val scored = bm25Scores(documents, queryTerms)
    TopK.topKPerGroup(scored, "query_id", "score_micro", "doc_id", Bm25TopK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_micro").cast("long").as("score_micro"),
        (col("score_micro").cast("double") / lit(1000000.0)).as("score"))
      .orderBy("query_id", "rank")
  }

  /** Initial per-term posting-prefix depth of [[bm25SearchPruned]];
    * grows (×2 then ×4 per failed round) until the termination
    * certificate holds. ≥ [[Bm25TopK]] so one round usually suffices on
    * score distributions with any spread. */
  val MaxScorePrefixB = 64

  /** Certification-loop diagnostics of ONE [[bm25SearchPrunedDiag]]
    * invocation (the pruning claim needs evidence that the certificate
    * can fire BEFORE exhaustion, not only that the exhaustion fallback
    * is exact): rounds taken, the final prefix depth B, and whether any
    * query's certificate passed via the strict bound while some of its
    * terms were NOT yet exhausted. Returned per call (ADVICE r16: the
    * former JVM-global atomics made concurrent invocations race their
    * consumers). */
  final case class PrunedDiag(rounds: Int, finalB: Int, byBound: Boolean)

  /** Query-independent BM25 impact index of one corpus: `postings` rows
    * `(tok, rank, doc_id, c_micro)`, `rank` numbering each term's
    * postings from 1 in (c_micro desc, doc_id asc) order, and `terms`,
    * tok → (df, idf_micro), on the driver for exactly the vocabulary the
    * index was opened for (`None`: the term is absent from the corpus).
    * A contribution depends only on tf, the term's idf, dl and avgdl, so
    * one persisted index serves every query set over the same corpus;
    * the driver holds ≤ |query terms| term rows, never the vocabulary. */
  final case class Bm25Index(postings: DataFrame,
      terms: Map[String, Option[(Long, Long)]])

  /** Artifact name of the persisted index (a layout change is a new
    * version, never a stale read). */
  private val Bm25IndexName = "bm25-impact-v1"

  /** The index's unexecuted frame, `(tok, rank, doc_id, c_micro, df,
    * idf_micro)` per (term, doc), over `vocab` or (None) the full
    * vocabulary: one tf aggregate, then two windows over the same per-term
    * partitioning — df, then the rank by the shared [[contribMicro]]
    * Column. idf is [[idfMicro]] over the same N and df as
    * [[trainBm25Idf]], run in the task, so no vocabulary-sized table ever
    * reaches the driver. Costs one (N, Σ dl) stats collect. A vocabulary
    * filter before the aggregate changes no df or rank. */
  private def bm25IndexFrame(documents: DataFrame,
      vocab: Option[Seq[String]]): DataFrame = {
    val docs = documents.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long").as("doc_id"),
        TextOps.tokens(col("text")).as("toks"))
    val stats = docs.agg(count(lit(1)),
      coalesce(sum(size(col("toks")).cast("long")), lit(0L))).head()
    val (nDocs, totalDl) = (stats.getLong(0), stats.getLong(1))
    // the exact route's avgdl: one correctly-rounded double division
    val avgdl = if (nDocs > 0) totalDl.toDouble / nDocs.toDouble else 0.0
    val idf = udf((df: Long) => idfMicro(nDocs, df))
    val toks = docs.select(col("doc_id"),
      size(col("toks")).cast("long").as("dl"), explode(col("toks")).as("tok"))
    val byTok = Window.partitionBy("tok")
    vocab.fold(toks)(v => toks.filter(col("tok").isin(v: _*)))
      .groupBy("tok", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(byTok))
      .withColumn("idf_micro", idf(col("df")))
      .withColumn("c_micro",
        contribMicro(col("tf"), col("idf_micro"), col("dl"), lit(avgdl)))
      .select(col("tok"), row_number().over(byTok
          .orderBy(col("c_micro").desc, col("doc_id").asc)).as("rank"),
        col("doc_id"), col("c_micro"), col("df"), col("idf_micro"))
  }

  /** The frame's two tables: the postings and one `(tok, df, idf_micro)`
    * row per term, both over one eager localCheckpoint, so the corpus
    * pass runs once. Never released here — the returned plans read it,
    * and the blocks free via ContextCleaner once they are garbage (the
    * graph-loop outputs' precedent). */
  private def bm25IndexTables(documents: DataFrame,
      vocab: Option[Seq[String]]): (DataFrame, DataFrame) = {
    val ix = bm25IndexFrame(documents, vocab).localCheckpoint()
    (ix.select("tok", "rank", "doc_id", "c_micro"),
      ix.filter(col("rank") === 1).select("tok", "df", "idf_micro"))
  }

  /** The index of `documents` over `vocab` only, built in memory for
    * this call: one ≤ |vocab|-row term collect. */
  def bm25Index(documents: DataFrame, vocab: Seq[String]): Bm25Index = {
    val (postings, terms) = bm25IndexTables(documents, Some(vocab))
    val found = terms.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Bm25Index(postings, vocab.map(t => t -> found.get(t)).toMap)
  }

  /** The persisted full-vocabulary index of the dataset at `datasetDir`,
    * opened for `vocab`: built from `documents` (by-name: read only on a
    * store miss) once per dataset identity and served from
    * [[ArtifactStore.impactIndex]]. */
  def bm25Index(spark: SparkSession, datasetDir: String, vocab: Seq[String])(
      documents: => DataFrame): Bm25Index = {
    val (postings, terms) = ArtifactStore.impactIndex(spark, datasetDir,
      Bm25IndexName, vocab)(bm25IndexTables(documents, None))
    Bm25Index(postings, terms)
  }

  /** `q_bm25_maxscore`: EXACT top-k BM25 via impact-ordered posting
    * prefixes with a Fagin-style threshold-algorithm termination bound —
    * the max-score/WAND family's dense-regime escape hatch the r15
    * |Q| = 1000 measurement demanded (SCALING.md: exact BM25 over
    * all-common vocabulary is inherently score-everything — a |Q|·N
    * score matrix, 252 s / 11.4 GB at |Q| = 1000/30× — while production
    * engines prune that regime with impact-ordered postings + max-score/
    * WAND bounds; Broder et al. 2003, Fagin's TA, the Lucene
    * `MAXSCORE` implementation).
    *
    * Algorithm (top-k-only pruning — score-exact for the returned k):
    *  1. The [[Bm25Index]] holds the per-(term, doc) micro-long
    *     contributions with their impact rank — query-INDEPENDENT,
    *     unlike the exact route's per-(query, doc, term) aggregate, so
    *     the entry persists it once per corpus over the whole vocabulary,
    *     and the `DataFrame` overload builds it in memory over the query
    *     vocabulary only; either way the |Q| fan-out never touches
    *     corpus-sized data. The query's idf must be the index's
    *     (`require`d bit for bit).
    *  2. Impact-ordered prefixes are a predicate, `tok ∈ T ∧ rank ≤ B`,
    *     over the index. A term is exhausted when its driver-held
    *     `df < B`; the bound of an unexhausted term is its `rank = B`
    *     row.
    *  3. Candidates per query = the union of its terms' prefixes; each
    *     candidate is scored EXACTLY (its contributions on ALL the
    *     query's terms, fetched by an equi-join of the query-load-bounded
    *     candidate×term frame against the postings — AQE broadcasts
    *     the frame while it is small, so the corpus side never
    *     re-shuffles).
    *  4. Termination certificate per query: a non-candidate doc's
    *     contribution on term t is ≤ bound_B(t) (the B-th prefix entry's
    *     contribution; 0 when the term's postings are exhausted), so its
    *     total score is ≤ τ(q) = Σ_t bound_B(t).
    *     If the k-th best candidate score is STRICTLY above τ(q), no
    *     non-candidate can enter the top-k even via the doc_id tiebreak;
    *     if every term is exhausted the candidates ARE the exact
    *     route's full matched set. Either way the pruned top-k ≡ the
    *     exact top-k — which is why the entry shares `q_bm25_search`'s
    *     oracle VERBATIM (the shared-oracle equivalence discipline): the
    *     hash gate certifies pruning losslessness, the q_zorder_prune
    *     pattern.
    *  5. Queries whose certificate fails grow B and re-check (driver
    *     loop over a ≤ |terms| + |queries|·k-row collect — the
    *     bounded-scalar rule; the terminating round's collected top-k
    *     rows are returned as a local frame, so no round runs twice):
    *     ×2 after the first failed round, ×4 thereafter (plateau corpora
    *     reach the exhaustion clamp in ~log₄ rounds with Σ Bᵢ ≤ 4/3 of
    *     the final round vs pure doubling's log₂ rounds and 2×; the
    *     spread regime keeps its round-one exit). Exhaustion guarantees
    *     termination at B ≥ max df.
    *
    * Scale: the corpus-sized work is the index build — one tokenize +
    * tf aggregate and one per-term partitioning for df and rank, paid
    * once per corpus identity when persisted (per call, over the query
    * vocabulary's postings only, for the `DataFrame` overload). A round
    * reads the query terms' postings by predicate (prefixes as
    * `rank ≤ B`); everything |Q|-proportional is bounded by |Q|·terms·B
    * rows. The exact route's dense-regime |Q|·N score matrix never
    * materializes. MEASURED at
    * scale (SCALING.md §Retrieval, r17, before the index existed: a
    * per-call contribution pass and per-round prefix heaps): on the
    * skewed-idf probe mix the route exists for (one rare df-200 term +
    * three common ones per query, 150k docs, |Q| = 1000) the certificate
    * fires in ROUND ONE pre-exhaustion and the route wins 24.4× wall /
    * 32.5× shuffle over the exact plan (5.5 s / 240 MB vs 134.5 s /
    * 7.8 GB); the spread-free all-common worst case stays the documented
    * honest-neutral regime (tie-plateau ⇒ information-theoretically
    * score-everything). */
  def bm25SearchPruned(documents: DataFrame,
      queryTerms: Seq[(Long, String, Long)], k: Int = Bm25TopK,
      initialB: Int = MaxScorePrefixB): DataFrame =
    bm25SearchPrunedDiag(documents, queryTerms, k, initialB)._1

  /** [[bm25SearchPruned]] over an already-built index. */
  def bm25SearchPruned(index: Bm25Index,
      queryTerms: Seq[(Long, String, Long)]): DataFrame =
    bm25SearchPrunedDiag(index, queryTerms, Bm25TopK, MaxScorePrefixB)._1

  /** [[bm25SearchPruned]] plus its certification diagnostics — complete
    * when this returns (every job runs inside; the result is a local
    * frame of the last round's collected rows). Builds the index in
    * memory. */
  def bm25SearchPrunedDiag(documents: DataFrame,
      queryTerms: Seq[(Long, String, Long)], k: Int = Bm25TopK,
      initialB: Int = MaxScorePrefixB): (DataFrame, PrunedDiag) =
    bm25SearchPrunedDiag(bm25Index(documents, queryTerms.map(_._2).distinct),
      queryTerms, k, initialB)

  /** The certificate loop over `index` (see [[bm25SearchPruned]]). */
  def bm25SearchPrunedDiag(index: Bm25Index,
      queryTerms: Seq[(Long, String, Long)], k: Int,
      initialB: Int): (DataFrame, PrunedDiag) = {
    val vocab = queryTerms.map(_._2).distinct
    val unopened = vocab.filterNot(index.terms.contains)
    require(unopened.isEmpty,
      s"the index was not opened for ${unopened.mkString(", ")}")
    // one contribution row per (term, doc): safe because idf is a
    // function of the term alone — the query's must be the index's
    queryTerms.foreach { case (_, t, idf) =>
      index.terms(t).foreach { case (_, indexIdf) =>
        require(idf == indexIdf, s"term '$t' carries idf_micro $idf, " +
          s"but the index was built with $indexIdf")
      }
    }
    val qTermsOf: Map[Long, Seq[String]] =
      queryTerms.groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2) }
    val dfOf = vocab.map(t => t -> index.terms(t).fold(0L)(_._1)).toMap
    // the escalation's termination backstop (ADVICE r16: an unbounded
    // `b *= 2` overflows Int once a term's df passes ~2^30 in the
    // tie-plateau regime): exhaustion is guaranteed at B > max df, so
    // clamp the escalation there. A df at/above Int.MaxValue cannot
    // exhaust through an Int prefix depth at all: fail loudly instead
    // of looping forever.
    val maxDf = dfOf.values.foldLeft(0L)(math.max)
    require(maxDf < Int.MaxValue,
      s"bm25SearchPruned: max term df $maxDf exceeds the Int prefix-depth " +
        "ceiling — the TA certificate cannot be driven to exhaustion; " +
        "use bm25Search for this corpus/term mix")
    val bCeil = (maxDf + 1L).toInt
    val postings = index.postings.filter(col("tok").isin(vocab: _*))
    // the query-term table as two literal maps: the prefix → (query, doc)
    // and candidate → (query, doc, term) fan-outs are projections, not
    // joins against a broadcast local table (each of which costs a
    // collect job per round)
    val queriesOfTerm = typedLit(queryTerms.groupBy(_._2)
      .map { case (t, qs) => t -> qs.map(_._1).distinct })
    val termsOfQuery = typedLit(qTermsOf)
    var b = math.max(initialB, k)
    // ESCALATING prefix schedule (r17): ×2 after the first failed
    // round, ×4 thereafter. Any schedule is EXACT (the certificate is
    // checked per round; exhaustion clamps at bCeil), so the schedule
    // is purely a cost knob: the spread regime keeps its round-one
    // exit and a cheap 2× second probe, while plateau corpora — where
    // bound-certification never fires and termination is exhaustion
    // regardless — reach the clamp in ~log₄ rounds with total prefix
    // work Σ Bᵢ ≤ 4/3 · B_final (pure doubling pays log₂ rounds and
    // 2 · B_final). The loss case is a corpus that would certify at
    // exactly 2× an intermediate B: it overshoots one round by ≤ 4×
    // (vs doubling's 2×), bounded and linear in the final round.
    var bMult = 2L
    var result: DataFrame = null
    var diag: PrunedDiag = null
    var rounds = 0
    while (result == null) {
      rounds += 1
      val exhausted = vocab.filter(t => dfOf(t) < b).toSet
      // exact candidate scores: the (|Q|·terms·B)-bounded candidate×term
      // frame joins INTO the postings — docs missing a term simply
      // contribute nothing (inner join). NOT force-broadcast: while B
      // stays small AQE broadcasts it at runtime anyway, and in the
      // adversarial exhaustion limit (all-equal scores force B → max df)
      // the frame approaches the exact route's (query, doc, term) mass —
      // a forced broadcast would OOM exactly when the equi-join shape is
      // the right degradation.
      val candTerms = postings.filter(col("rank") <= b)
        .select(explode(element_at(queriesOfTerm, col("tok")))
          .as("query_id"), col("doc_id"))
        .distinct()
        .select(col("query_id"), col("doc_id"),
          explode(element_at(termsOfQuery, col("query_id"))).as("tok"))
      val scores = postings.join(candTerms, Seq("tok", "doc_id"))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("c_micro")).cast("long").as("score_micro"))
      val topk =
        TopK.topKPerGroup(scores, "query_id", "score_micro", "doc_id", k)
      // ONE driver action per round (r17): the unexhausted terms'
      // `rank = B` rows (their bounds) and every query's top-k rows ride a
      // single union collect of ≤ |terms| + |queries|·k rows (the
      // bounded-scalar rule); query_id rides the string key column and
      // round-trips exactly (a decimal-rendered long). The terminating
      // round's rows ARE the result, so the caller's collect runs no
      // round again.
      val certRows = postings.filter(col("rank") === b)
        .select(lit("t").as("kind"), col("tok").as("key"),
          col("c_micro").as("v"), lit(null).cast("long").as("rank"),
          lit(null).cast("long").as("doc_id"))
        .unionAll(topk
          .select(lit("q").as("kind"),
            col("query_id").cast("string").as("key"),
            col("score_micro").cast("long").as("v"), col("rank"),
            col("doc_id")))
        .collect()
      val bound = certRows.iterator.filter(_.getString(0) == "t")
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      val top = certRows.filter(_.getString(0) == "q")
      val kth = top.iterator.filter(_.getLong(3) == k)
        .map(r => r.getString(1).toLong -> r.getLong(2)).toMap
      var anyByBound = false
      val unterminated = qTermsOf.keys.filter { q =>
        val ts = qTermsOf(q)
        val allExhausted = ts.forall(exhausted)
        val tau = ts.map(t => bound.getOrElse(t, 0L)).sum
        val byBound = kth.get(q).exists(_ > tau)
        if (byBound && !allExhausted) anyByBound = true
        !(allExhausted || byBound)
      }
      if (unterminated.isEmpty) {
        diag = PrunedDiag(rounds, b, anyByBound)
        // the lazy plan's schema (analysis only, no job) types the rows
        val schema = topk
          .select(col("query_id"), col("rank"), col("doc_id"),
            col("score_micro").cast("long").as("score_micro"),
            (col("score_micro").cast("double") / lit(1000000.0))
              .as("score"))
          .schema
        val rows = top.map(r => (r.getString(1).toLong, r.getLong(3),
            r.getLong(4), r.getLong(2)))
          .sortBy(r => (r._1, r._2))
          .map { case (q, rank, doc, micro) =>
            Row(q, rank, doc, micro, micro.toDouble / 1000000.0) }
        result = index.postings.sparkSession
          .createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      } else {
        b = math.min(b.toLong * bMult, bCeil.toLong).toInt
        bMult = 4L
      }
    }
    (result, diag)
  }

  /** Feedback-set depth and expansion-list depth of `q_prf_expansion`. */
  val PrfFeedbackDocs = 5
  val PrfExpansionTerms = 8

  /** `q_prf_expansion`: RM1-style pseudo-relevance feedback over the
    * BM25 stack — for each constant probe query, take the top-
    * [[PrfFeedbackDocs]] BM25 documents as the (pseudo-)relevant set,
    * weight every term by its relevance-model mass
    * `Σ_{d ∈ F} P(term|d) = Σ tf(term,d)/dl(d)` (uniform document
    * weights — RM1), exclude the original query terms, and emit the
    * top-[[PrfExpansionTerms]] expansion terms per query. This is the
    * query-expansion step of RM3/Rocchio-style retrieval tuning — the
    * corpus-audit complement of `q_bm25_search` ("what vocabulary do
    * the best matches share that the query missed?").
    *
    * Exactness: tf and dl are exact longs; each `tf/dl` is ONE
    * correctly-rounded double division, scaled and floor-quantized to a
    * micro-unit long per (query, doc, term), so the per-term sum over
    * the feedback set is exact, order-free long arithmetic (the BM25
    * discipline). Spark's left-anti original-term exclusion ≡ the
    * mirror's NOT EXISTS (terms are never null — whitespace splits).
    *
    * Scale: the corpus-side cost is the BM25 scoring pass (linear, see
    * [[bm25Scores]]); the feedback set is a constants-bounded
    * `|queries| × F` id list BROADCAST into the doc scan, so term
    * extraction explodes only F·|Q| documents and the final ranking
    * window partitions over constants-bounded groups. */
  def prfExpansion(documents: DataFrame,
      queryTerms: Seq[(Long, String, Long)]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val fb = TopK.topKPerGroup(bm25Scores(documents, queryTerms),
        "query_id", "score_micro", "doc_id", PrfFeedbackDocs)
      .select(col("query_id"), col("doc_id"))
    val f = documents.filter(col("text").isNotNull)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .join(broadcast(fb), Seq("doc_id"))
      .select(col("query_id"), col("doc_id"),
        size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
    val contrib = f
      .groupBy("query_id", "doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .select(col("query_id"), col("term"),
        floor(col("tf").cast("double") / col("dl").cast("double")
          * lit(1000000.0) + lit(0.5)).cast("long").as("c"))
    val qtDf = queryTerms.toDF("query_id", "term", "idf_micro")
      .select("query_id", "term")
    import org.apache.spark.sql.expressions.Window
    contrib.groupBy("query_id", "term")
      .agg(sum(col("c")).cast("long").as("weight_micro"))
      .join(broadcast(qtDf), Seq("query_id", "term"), "left_anti")
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("weight_micro").desc, col("term"))).cast("long"))
      .filter(col("rank") <= PrfExpansionTerms)
      .select(col("query_id"), col("rank"), col("term"),
        col("weight_micro"),
        (col("weight_micro").cast("double") / lit(1000000.0)).as("weight"))
      .orderBy("query_id", "rank")
  }

  /** TextRank tuning constants, shared with the generated mirror. The
    * vocabulary cap is the 100 TB safety bound: every fixed-point value
    * in the iteration is bounded by constants REGARDLESS of corpus size
    * (Σ scores ≤ V·S by mass induction — each round injects V·0.15·S
    * and redistributes ≤ 0.85 of the existing mass, since per-vertex
    * outgoing transition probabilities sum to ≤ S after truncation — so
    * s_u·p_uv ≤ V·S·S = 6.4e13 and the 85·Σ premultiply peaks ≈ 3.5e17,
    * inside int64 with 26× headroom). */
  val TextRankVocab = 64
  val TextRankRounds = 10
  val TextRankScale = 1000000L
  val TextRankTopK = 15
  /** (1−d)·S with d = 85/100 — rendered into both engines. */
  val TextRankBase: Long = TextRankScale * 15L / 100L

  /** `q_textrank_keywords`: corpus-level TextRank keyword extraction
    * (Mihalcea & Tarau 2004) — vertices are the top-[[TextRankVocab]]
    * corpus tokens by frequency (ties to the smaller token), edges are
    * undirected in-document token ADJACENCIES (window 2) between vocab
    * tokens weighted by co-occurrence count, and the score is
    * [[TextRankRounds]] fixed rounds of damped weighted PageRank
    * `s(v) = (1−d)·S + d · Σ_u s(u)·p(u,v)/S` in fixed-point micro-unit
    * longs (the q_pagerank_exact discipline: damping as the rational
    * 85/100, truncating divisions — non-negative throughout, so Spark
    * `div` ≡ DuckDB `//` ≡ floor). Transition probabilities are
    * quantized ONCE before the loop (`p = w·S div wdeg(u)`), which both
    * simplifies the round arithmetic and caps every product (see
    * [[TextRankVocab]]'s bound).
    *
    * The corpus-side work (tokenize, positional adjacency, frequency
    * cap, edge counts) is distributed Spark; the V-vertex iteration
    * itself runs on the driver over the collected ≤ V² edge list (the
    * constants-bounded-pool rule — MMR's discipline), and the mirror
    * unrolls the SAME integer rounds as chained CTEs over an identical
    * in-SQL graph construction — the gate certifies the whole pipeline
    * including tokenization and vocabulary selection. */
  def textRankKeywords(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val docs = documents.filter(col("text").isNotNull)
      .select(TextOps.tokens(col("text")).as("toks"))
    // vocab collected ONCE (≤ V rows — the constants-bounded-pool rule);
    // the collected array then serves both the adjacency filter (as an
    // InSet predicate, cheaper than two broadcast joins that would each
    // recompute the corpus-scale aggregate — no exchange reuse across
    // differently-renamed canonicalizations) and the driver fold below
    val verts = docs.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(TextRankVocab)
      .select("tok").as[String].collect()
    // adjacent pairs map-side via zip_with over sliced arrays (a
    // positional self-join would shuffle the token stream twice on
    // (doc_id, pos); this has NO shuffle before the pair count — the
    // lambda touches only its own args, so nothing re-evaluates per
    // element), then both ends filtered to the vocab
    val adj = docs.filter(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("u"), b.as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .filter(col("u") =!= col("v"))
      .filter(col("u").isin(verts.toSeq: _*) &&
        col("v").isin(verts.toSeq: _*))
      .select("u", "v")
    val w = adj.union(adj.select(col("v").as("u"), col("u").as("v")))
      .groupBy("u", "v").agg(count(lit(1)).cast("long").as("w"))
    // constants-bounded collect: ≤ V² weighted edges
    val edges = w.as[(String, String, Long)].collect()
    val wdeg = edges.groupBy(_._1).map { case (u, es) =>
      u -> es.map(_._3).sum }
    val p = edges.map { case (u, v, wv) =>
      (u, v, wv * TextRankScale / wdeg(u)) }
    var s = verts.map(_ -> TextRankScale).toMap
    for (_ <- 1 to TextRankRounds) {
      val contrib = p.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, pm) => s(u) * pm / TextRankScale }.sum }
      s = verts.map(t =>
        t -> (TextRankBase + 85L * contrib.getOrElse(t, 0L) / 100L)).toMap
    }
    val top = s.toSeq.sortBy { case (t, sc) => (-sc, t) }
      .take(TextRankTopK).zipWithIndex.map { case ((t, sc), i) =>
        (i + 1L, t, sc, sc.toDouble / TextRankScale.toDouble) }
    top.toDF("rank", "tok", "score_micro", "score").orderBy("rank")
  }

  /** `q_hybrid_search`: reciprocal-rank fusion of the BM25 ranking (the
    * query doc's trained terms against the corpus) with the exact
    * embedding-cosine ranking (the query doc's vector against the
    * corpus), both at depth [[RrfListDepth]]; fused score is
    * `1/(60+r_bm25) + 1/(60+r_cos)` with a missing list contributing 0
    * (the standard RRF convention). Self-matches are excluded on both
    * sides; zero-norm vectors drop from the cosine list (null-guarded
    * before ranking — the ANSI divide-by-zero rule). */
  def hybridSearch(documents: DataFrame, embeddings: DataFrame,
      queryTerms: Seq[(Long, String, Long)],
      queryIds: Seq[Long] = HybridQueryIds): DataFrame = {
    val bm = TopK.topKPerGroup(
      bm25Scores(documents, queryTerms)
        .filter(col("doc_id") =!= col("query_id")),
      "query_id", "score_micro", "doc_id", RrfListDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("bm25_rank"))
    val dot = Similarity.dot _
    val qv = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val cs = embeddings.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        when(dot(col("q_emb"), col("q_emb")) * dot(col("embedding"),
            col("embedding")) === 0.0, lit(null).cast("double"))
          .otherwise(dot(col("q_emb"), col("embedding")) /
            (sqrt(dot(col("q_emb"), col("q_emb"))) *
              sqrt(dot(col("embedding"), col("embedding")))))
          .as("sim"))
      .filter(col("sim").isNotNull)
    val cos = TopK.topKPerGroup(cs, "query_id", "sim", "doc_id",
      RrfListDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("cos_rank"))
    // pinned fusion order: bm25 contribution + cosine contribution
    val rrf =
      coalesce(lit(1.0) / (lit(RrfK) + col("bm25_rank")).cast("double"),
        lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfK) + col("cos_rank")).cast("double"),
        lit(0.0))
    val fused = bm.join(cos, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("bm25_rank"),
        col("cos_rank"), rrf.as("rrf"))
    import org.apache.spark.sql.expressions.Window
    fused
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= HybridTopK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("bm25_rank"), col("cos_rank"),
        graft.Exprs.round2(col("rrf"), 6).as("rrf"))
      .orderBy("query_id", "rank")
  }
}
