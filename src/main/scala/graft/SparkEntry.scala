package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Decontaminate, Dedup, Graph, Multimodal, Retrieval, Similarity, TextOps}
import graft.ingest.Sources
import graft.ops.{EventQueries, RelationalQueries, WindowedQueries}
import graft.sink.{ArtifactStore, Sinks}
import graft.streaming.StreamingQueries

/** Driver contract — see SURVEY.md §2.11 (query inventory) and §7 (plan).
  *
  * Each entry is declared once in [[entries]]: its builder and either a
  * DuckDB mirror, whose result hash-matches the entry's on the same
  * parquet tables, or the reason it has none (sketches, LSH and other
  * hash-dependent approximations, engine-specific rounding) — those get
  * a rows-only check and are verified against exact ground truth in the
  * ScalaTest suite.
  * [[queries]] and [[oracleSql]] are views of it.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (driver smoke-checks rows > 0): the
    * reference's DAILY_REVENUE (`snowflake_refresh.py:6-15`). */
  def entry(spark: SparkSession): DataFrame =
    EventQueries.dailyRevenue(Sources.events(spark, "/root/testdata/sf0.001"))

  private def ev(f: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(Sources.events(s, dir))

  private def table(name: String)(
      f: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(Sources.table(s, dir, name))

  private def docs(f: DataFrame => DataFrame) = table("documents")(f)

  private def emb(f: DataFrame => DataFrame) = table("embeddings")(f)

  /** The synthetic (old, new) snapshot pair `q_snapshot_diff` and
    * `q_cdc_apply` diff/reconstruct: the successor drops every 17th key
    * (deletes), bumps every 13th surviving balance (updates), and appends
    * key-shifted copies of every 19th (inserts). Mirrored by
    * [[CustNewSnapCte]] — both queries' mirrors render from it. */
  private def custSnapshots(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cust = Sources.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val newSnap = cust.filter(col("c_custkey") % 17 =!= 0)
      .select(col("c_custkey"),
        (col("c_acctbal") + when(col("c_custkey") % 13 === 0, lit(10.0))
          .otherwise(lit(0.0))).as("c_acctbal"), col("c_mktsegment"))
      .unionByName(cust.filter(col("c_custkey") % 19 === 0)
        .select((col("c_custkey") + 10000000L).as("c_custkey"),
          lit(0.0).as("c_acctbal"), lit("NEW").as("c_mktsegment")))
    (cust, newSnap)
  }

  /** A driver-trained artifact memoized per key (the sfDir, plus any
    * hyperparameter suffix), remembering the key it last served. Training
    * runs ONCE per dataset and every later evaluation is pure serving —
    * the production split where the artifact is persisted, not
    * recomputed per query. The memo is the L1 process cache;
    * [[graft.sink.ArtifactStore]] is the durable L2 (names encode the
    * training hyperparameters), so a FRESH JVM also serves without
    * re-running any fit — zero-training load is spec-proven in
    * ArtifactStoreSpec.
    *
    * GENERATED mirrors replay [[lastServed]] as a VALUES CTE, which works
    * because [[Verify]] runs every query BEFORE it dumps
    * `oracle_sql.json`. Rendering the LAST-served key (not an arbitrary
    * entry) keys the mirror to the dataset under verification even when
    * one long-lived JVM evaluated the query for several sfDirs. */
  private final class Trained[A] {
    private val byKey = new scala.collection.concurrent.TrieMap[String, A]
    private val served = new java.util.concurrent.atomic.AtomicReference[String]()

    /** The memoized artifact; does not move [[lastServed]]. */
    def cached(key: String)(train: => A): A = byKey.getOrElseUpdate(key, train)

    /** The memoized artifact, recorded as the one the mirror renders. */
    def serve(key: String)(train: => A): A = {
      val a = cached(key)(train); served.set(key); a
    }

    /** Stores a freshly computed artifact and records its key. */
    def record(key: String, a: A): A = { byKey.put(key, a); served.set(key); a }

    def lastServed: Option[A] = Option(served.get).flatMap(byKey.get)
  }

  /** IVF coarse-quantizer centroids ([[Similarity.trainIvfCentroids]], an
    * iterative KMeans fit), keyed `dir#c<cells>`: `q_ivf_knn` (fixed 16
    * cells) shares the memo but never moves the mirrors' key. */
  private val ivfCentroids = new Trained[Array[Array[Float]]]

  /** PQ codebooks ([[Similarity.trainPqCodebooks]]), keyed `dir#adaptive`
    * for the `q_hard_negatives_ann_pq` mirror and `dir#k32` for
    * `q_pq_knn` (no mirror). */
  private val pqCodebooks = new Trained[Array[Array[Array[Float]]]]

  /** Unigram / bigram vocabularies ([[TextOps.trainUnigramVocab]],
    * [[TextOps.trainBigramVocab]]); no mirror renders them. */
  private val unigramVocab = new Trained[(Array[String], Array[Long])]
  private val bigramVocab = new Trained[(Array[String], Array[Long])]

  /** BPE merges ([[TextOps.trainBpeMerges]]): `q_bpe_tokens`' mirror is
    * the learned merges rendered as a replace() chain. */
  private val bpeMerges = new Trained[Seq[(String, String)]]

  /** Per-bucket DEFLATE-ratio doc counts (≤ ~25 rows — a bounded driver
    * artifact), RECOMPUTED on every `q_compression_dist` evaluation and
    * replayed by the generated mirror as a VALUES CTE: the downstream
    * distribution arithmetic then rides the hash gate even though the
    * ratio itself has no portable SQL (the BPE discipline). */
  private val compressionBuckets = new Trained[Seq[(Long, Long)]]

  /** DSIR micro-nat log ratios (the `ln` is driver-only — see
    * [[ext.TextOps.trainDsirRatios]]). */
  private val dsirRatios = new Trained[(Array[String], Array[Long])]

  /** BM25 idf micro-units for the constant probe queries (`ln` is
    * driver-only — the DSIR discipline; see [[ext.Retrieval.trainBm25Idf]]);
    * the mirror replays the (query_id, tok, idf_micro) table. */
  private val bm25Idf = new Trained[Seq[(Long, String, Long)]]

  /** Hybrid-search query-term table (the query DOCS' distinct tokens with
    * driver-quantized idf — see [[ext.Retrieval.trainHybridQueryTerms]]). */
  private val hybridTerms = new Trained[Seq[(Long, String, Long)]]

  /** NB-quality micro-nat log-likelihood ratios (the DSIR discipline —
    * see [[ext.TextOps.trainNbQuality]]). */
  private val nbWeights = new Trained[(Array[String], Array[Long])]

  /** Corpus-LM micro-nat token costs + OOV cost (see
    * [[ext.TextOps.trainUnigramCosts]]). */
  private val ceCosts = new Trained[(Array[String], Array[Long], Long)]

  /** Top-principal-direction fixed-point weights (see
    * [[ext.Similarity.trainPcaDirection]] — bit-deterministic from exact
    * long moments, so no ArtifactStore persistence is needed). */
  private val pcaDir = new Trained[Array[Long]]

  /** Tf-universe doc count for the `q_tfidf_pairs` idf table (the table
    * itself is the pure formula [[ext.Dedup.idfTable]] over this one
    * scalar — both engines replay the same VALUES). */
  private val tfidfN = new Trained[Long]

  /** The trained corpus-LM artifact behind `q_source_crossentropy` and
    * `q_lm_outliers` (one artifact, two consumers). The OOV cost rides
    * the persisted vocab as a SENTINEL last row (rank order is
    * preserved, and a space-bearing token can never be a
    * whitespace-split token) -- the artifact name stays derivable
    * without training, so a warm ArtifactStore loads zero-training. */
  private def ceArtifact(s: SparkSession,
      dir: String): (Array[String], Array[Long], Long) =
    ceCosts.serve(dir) {
      val (tt, cc) = ArtifactStore.unigramVocab(s, dir,
        s"celm-v${TextOps.DsirMaxVocab}") {
        val (t, c, o) = TextOps.trainUnigramCosts(
          Sources.table(s, dir, "documents"))
        (t :+ "\u0000 oov", c :+ o)
      }
      (tt.init, cc.init, cc.last)
    }

  /** The BM25 idf table shared by `q_bm25_search`, `q_bm25_maxscore` and
    * `q_prf_expansion`. */
  private def bm25Terms(dir: String,
      d: => DataFrame): Seq[(Long, String, Long)] =
    bm25Idf.serve(dir) {
      val idf = Retrieval.trainBm25Idf(d,
        Retrieval.Bm25Queries.flatMap(_._2).distinct).toMap
      Retrieval.Bm25Queries.flatMap { case (qid, ts) =>
        ts.map(t => (qid, t, idf(t))) }
    }

  /** BPE merges shared by `q_bpe_tokens` and `q_tokenizer_fertility`. */
  private def bpeArtifact(s: SparkSession, dir: String,
      d: DataFrame): Seq[(String, String)] =
    bpeMerges.serve(dir)(
      ArtifactStore.bpeMerges(s, dir, "bpe-n50-m2-v65536")(
        TextOps.trainBpeMerges(d)))

  /** NB weights shared by `q_nb_quality_score` and `q_nb_calibration`.
    * Artifact name v2: the teacher rule changed in r13 (case-insensitive
    * alpha class) — a persisted v1 artifact trained under the
    * lowercase-only rule must not serve the new teacher. */
  private def nbArtifact(s: SparkSession, dir: String,
      d: DataFrame): (Array[String], Array[Long]) =
    nbWeights.serve(dir)(
      ArtifactStore.unigramVocab(s, dir, s"nbq2-v${TextOps.DsirMaxVocab}")(
        TextOps.trainNbQuality(d)))

  /** √N-cell IVF centroids shared by `q_hard_negatives_ann`,
    * `q_semdedup` and `q_hard_negatives_ann_pq`. Cells scale as √N (the
    * standard IVF sizing): the scanned fraction nProbe/cells SHRINKS as
    * the corpus grows, making candidate mass N^1.5·nProbe — the
    * sub-quadratic property SCALING measures. The count is one cheap
    * aggregate; the memo key carries the cell count so the fixed-16
    * q_ivf_knn artifact is never cross-served. */
  private def ivfSqrtCells(s: SparkSession, dir: String,
      emb: DataFrame): Array[Array[Float]] = {
    val cells = math.max(16, math.sqrt(emb.count().toDouble).toInt)
    ivfCentroids.serve(s"$dir#c$cells")(
      ArtifactStore.ivfCentroids(s, dir, s"ivf-c$cells-s42")(
        Similarity.trainIvfCentroids(emb, cells)))
  }

  /** How an entry is checked: a DuckDB mirror, or the reason it has none
    * (such an entry is checked against exact ground truth by its spec). */
  sealed trait Oracle

  /** A mirror rendered on each [[oracleSql]] read, never when the
    * registry is built: trained mirrors replay the artifact the entry's
    * latest run served. */
  final class Mirror(render: => String) extends Oracle {
    def sql: String = render
  }
  object Mirror { def apply(sql: => String): Mirror = new Mirror(sql) }

  final case class NoOracle(reason: String) extends Oracle

  /** One registered entry: its frame over (session, sfDir), and its oracle. */
  final case class Entry(build: (SparkSession, String) => DataFrame,
      oracle: Oracle)

  /** The registry of `entries`; a name declared twice fails, where a
    * `Map(...)` literal would silently keep the later entry. */
  private[graft] def registry(entries: (String, Entry)*): Map[String, Entry] = {
    val twice = entries.groupBy(_._1).collect { case (n, es) if es.size > 1 => n }
    require(twice.isEmpty, s"entries declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map { case (n, e) => n -> e.build }

  /** Every mirror, rendered now: read it after the entries ran (as
    * [[Verify]] does), so trained mirrors embed what the runs served. */
  def oracleSql: Map[String, String] =
    entries.collect { case (n, Entry(_, m: Mirror)) => n -> m.sql }

  private[graft] lazy val entries: Map[String, Entry] = registry(
    // ---- reference analytics surface (SURVEY §2.11) ----
    "q_daily_revenue" -> Entry(ev(EventQueries.dailyRevenue),
      Mirror(DailyRevenueSql)),
    // drift monitor: days ≥ 1.5σ from the mean, exact-decimal moments
    "q_revenue_anomalies" -> Entry(ev(EventQueries.revenueAnomalies(_)),
      // z-scores from EXACT DECIMAL(12,2) moments: every double below
      // derives from identical exact inputs, so both engines compute
      // identical bits (see EventQueries.revenueAnomalies)
      Mirror(
      """WITH d AS (
         |  SELECT CAST(ts AS DATE) AS event_date,
         |    CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2)
         |      AS DECIMAL(12,2)) AS rev
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS DOUBLE) AS s,
         |    CAST(sum(rev * rev) AS DOUBLE) AS q
         |  FROM d)
         |SELECT event_date, CAST(rev AS DOUBLE) AS revenue,
         |  floor((CAST(rev AS DOUBLE) - s / n) /
         |    sqrt(q / n - (s / n) * (s / n)) * 100 + 0.5) / 100 AS z
         |FROM d CROSS JOIN g
         |WHERE q / n - (s / n) * (s / n) > 0
         |  AND abs((CAST(rev AS DOUBLE) - s / n) /
         |    sqrt(q / n - (s / n) * (s / n))) >= 1.5
         |ORDER BY event_date""".stripMargin)),
    // RFM quintiles as arithmetic over the distributed global ordinal
    // (never a one-task ntile sort); three sort keys, one gate
    "q_rfm_segments" -> Entry(ev(EventQueries.rfmSegments),
      // quintiles via integer floor-div over the global ordinal: Spark's
      // `div` ≡ DuckDB's `//` on non-negative BIGINTs; the naive-window
      // mirror certifies three Ordinals passes at once
      Mirror(
      """WITH p AS (
         |  SELECT user_id, CAST(ts AS DATE) AS d, value FROM events
         |  WHERE event_type = 'purchase'),
         |b AS (
         |  SELECT user_id, max(d) AS last_day, count(*) AS frequency,
         |    CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         |      AS monetary
         |  FROM p GROUP BY 1),
         |a AS (SELECT max(d) AS anchor,
         |        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM p),
         |r AS (
         |  SELECT user_id,
         |    CAST(date_diff('day', last_day, anchor) AS INT) AS recency,
         |    frequency, monetary, n_users,
         |    row_number() OVER (ORDER BY date_diff('day', last_day, anchor)
         |      DESC, user_id) AS r_rn,
         |    row_number() OVER (ORDER BY frequency, user_id) AS f_rn,
         |    row_number() OVER (ORDER BY monetary, user_id) AS m_rn
         |  FROM b CROSS JOIN a)
         |SELECT user_id, recency, CAST(frequency AS BIGINT) AS frequency,
         |  monetary,
         |  CAST((r_rn - 1) * 5 // n_users + 1 AS BIGINT) AS r_q,
         |  CAST((f_rn - 1) * 5 // n_users + 1 AS BIGINT) AS f_q,
         |  CAST((m_rn - 1) * 5 // n_users + 1 AS BIGINT) AS m_q,
         |  CAST(((r_rn - 1) * 5 // n_users + 1) * 100
         |    + ((f_rn - 1) * 5 // n_users + 1) * 10
         |    + ((m_rn - 1) * 5 // n_users + 1) AS BIGINT) AS segment
         |FROM r ORDER BY user_id""".stripMargin)),
    // "bought together": basket-keyed self-join, per-basket fan-out
    // capped, support counts baskets (items deduped per basket)
    "q_basket_pairs" -> Entry(ev(EventQueries.basketPairs(_)),
      // items dedupe per (day, user) basket; bs caps the basket; pair
      // order canonicalized by string compare (identical both engines)
      Mirror(
      s"""WITH $BasketPairsCte
         |SELECT item1, item2, support FROM pairs
         |ORDER BY support DESC, item1, item2""".stripMargin)),
    // Apriori rule readout over the same pair list: both directed rules
    // per pair, confidence/lift as single divisions of exact counts
    "q_assoc_rules" -> Entry(ev(EventQueries.assocRules(_)),
      // both directed rules per supported pair; confidence and lift divide
      // exact longs with the identical op sequence (mul, mul, div), 4dp
      // floor-rounded — the ORDER BY runs on the rounded lift
      Mirror(
      s"""WITH $BasketPairsCte,
         |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt
         |  FROM i2 GROUP BY 1),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT DISTINCT d, user_id FROM i2)),
         |dir AS (
         |  SELECT item1 AS antecedent, item2 AS consequent, support FROM pairs
         |  UNION ALL
         |  SELECT item2, item1, support FROM pairs)
         |SELECT antecedent, consequent, support,
         |  floor((CAST(support AS DOUBLE) / ca.cnt) * 10000 + 0.5) / 10000
         |    AS confidence,
         |  floor(((CAST(support AS DOUBLE) * nb.n) /
         |      (CAST(ca.cnt AS DOUBLE) * cb.cnt)) * 10000 + 0.5) / 10000
         |    AS lift
         |FROM dir
         |JOIN ic ca ON ca.item = dir.antecedent
         |JOIN ic cb ON cb.item = dir.consequent
         |CROSS JOIN nb
         |ORDER BY lift DESC, antecedent, consequent""".stripMargin)),
    // weekday revenue profile; index = two materialized exact-derived
    // doubles divided in the outer select (share discipline)
    "q_weekday_seasonality" -> Entry(ev(EventQueries.weekdaySeasonality),
      // Spark dayofweek is 1=Sunday..7; DuckDB dayofweek is 0=Sunday..6
      Mirror(WeekdaySeasonalitySql)),
    // repeat-purchase cadence: per-user lag gaps, median = mean of the
    // two middle ranks (never an interpolated percentile)
    "q_interpurchase_gaps" -> Entry(ev(EventQueries.interPurchaseGaps),
      // per-user lag gaps; median = mean of the two middle ranks (one row
      // when n is odd) — two exact longs divided, never an interpolated
      // percentile
      Mirror(
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (
        |  SELECT user_id, us,
        |    (us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id))
        |      // 1000000 AS gap_s
        |  FROM p),
        |g2 AS (SELECT user_id, us, gap_s FROM g WHERE gap_s IS NOT NULL),
        |r AS (
        |  SELECT user_id, gap_s,
        |    CAST(row_number() OVER
        |      (PARTITION BY user_id ORDER BY gap_s, us) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS nw
        |  FROM g2)
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_gaps,
        |  min(gap_s) AS min_gap_s,
        |  max(gap_s) AS max_gap_s,
        |  CAST(sum(CASE WHEN rk = (nw + 1) // 2 OR rk = (nw + 2) // 2
        |      THEN gap_s END) AS DOUBLE) /
        |    sum(CASE WHEN rk = (nw + 1) // 2 OR rk = (nw + 2) // 2
        |      THEN 1 END) AS median_gap_s
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // Gini + top-share concentration over the distributed global ordinal;
    // rank-weighted sum in DECIMAL(38,0) ≡ HUGEINT
    "q_revenue_concentration" -> Entry(ev(EventQueries.revenueConcentration),
      // naive window row_number mirror of the distributed ordinal; the
      // rank-weighted sum runs in HUGEINT ≡ Spark DECIMAL(38,0); every
      // ratio divides exact-integer-derived doubles and 4dp floor-rounds
      Mirror(
      s"""WITH s AS (
         |  SELECT user_id,
         |    CAST(floor($MoneySumValue * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         |r AS MATERIALIZED (
         |  SELECT user_id, cents,
         |    CAST(row_number() OVER (ORDER BY cents, user_id) AS BIGINT) AS rn
         |  FROM s),
         |t AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(cents) AS BIGINT) AS total_cents,
         |    sum(CAST(rn AS HUGEINT) * CAST(cents AS HUGEINT)) AS s1
         |  FROM r),
         |sh AS (
         |  SELECT
         |    CAST(sum(CASE WHEN rn > t.n_users -
         |      greatest(1, t.n_users // 100) THEN cents END) AS BIGINT)
         |      AS top1_cents,
         |    CAST(sum(CASE WHEN rn > t.n_users -
         |      greatest(1, t.n_users // 10) THEN cents END) AS BIGINT)
         |      AS top10_cents
         |  FROM r CROSS JOIN t)
         |SELECT n_users, total_cents,
         |  floor((CAST(s1 * 2 - (n_users + 1) * CAST(total_cents AS HUGEINT)
         |      AS DOUBLE) /
         |    CAST(CAST(n_users AS HUGEINT) * CAST(total_cents AS HUGEINT)
         |      AS DOUBLE)) * 10000 + 0.5) / 10000 AS gini,
         |  floor((CAST(top1_cents AS DOUBLE) / CAST(total_cents AS DOUBLE))
         |    * 10000 + 0.5) / 10000 AS top1_share,
         |  floor((CAST(top10_cents AS DOUBLE) / CAST(total_cents AS DOUBLE))
         |    * 10000 + 0.5) / 10000 AS top10_share
         |FROM sh CROSS JOIN t ORDER BY n_users""".stripMargin)),
    // trailing-7-day per-user features: RANGE frame over integer day
    // numbers, exact integer cents end-to-end
    "q_rolling_user_revenue" -> Entry(ev(WindowedQueries.rollingUserRevenue),
      // RANGE frame over integer day numbers — a calendar week even when
      // the user skips days; all values exact integer cents
      Mirror(
      s"""WITH d AS (
         |  SELECT user_id, CAST(ts AS DATE) AS event_date,
         |    CAST(floor($MoneySumValue * 100 + 0.5) AS BIGINT) AS day_cents
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         |SELECT user_id, event_date, day_cents,
         |  CAST(sum(day_cents) OVER w AS BIGINT) AS r7_cents,
         |  CAST(count(*) OVER w AS BIGINT) AS r7_days
         |FROM d
         |WINDOW w AS (PARTITION BY user_id
         |  ORDER BY event_date - DATE '1970-01-01'
         |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, event_date""".stripMargin)),
    // deterministic Poisson bootstrap (md5-hash weights, never rand()):
    // replicate means divide exact longs, CI bounds are rank selections
    "q_bootstrap_ci" -> Entry(ev(EventQueries.bootstrapCi(_)),
      // hash-seeded Poisson weights via the SHARED hex thresholds (the
      // CASE chain renders from the same Scala list as the when-chain);
      // replicate means divide exact longs; CI bounds are rank selections
      // over the 4dp-rounded means
      Mirror(
      s"""WITH d AS MATERIALIZED (
         |  SELECT CAST(ts AS DATE) AS event_date,
         |    CAST(floor($MoneySumValue * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |pt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_days,
         |    floor((CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / count(*))
         |      * 10000 + 0.5) / 10000 AS mean_daily_cents
         |  FROM d),
         |e AS (
         |  SELECT r.rep, d.cents,
         |    ${EventQueries.poissonWeightSql(
              "substring(md5(concat(CAST(d.event_date AS VARCHAR), ':', " +
                "CAST(r.rep AS VARCHAR))), 1, 8)")} AS w
         |  FROM d CROSS JOIN
         |    generate_series(1, ${EventQueries.BootstrapReps}) AS r(rep)),
         |rm AS MATERIALIZED (
         |  SELECT rep,
         |    floor((CAST(CAST(sum(w * cents) AS BIGINT) AS DOUBLE) /
         |      CAST(sum(w) AS BIGINT)) * 10000 + 0.5) / 10000 AS m
         |  FROM e GROUP BY rep HAVING sum(w) > 0),
         |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_reps FROM rm),
         |rk AS (
         |  SELECT m, CAST(row_number() OVER (ORDER BY m, rep) AS BIGINT)
         |    AS rk
         |  FROM rm)
         |SELECT pt.n_days, pt.mean_daily_cents, nr.n_reps,
         |  max(CASE WHEN rk.rk = greatest(1, (nr.n_reps * 25) // 1000)
         |    THEN m END) AS ci_lo,
         |  max(CASE WHEN rk.rk = nr.n_reps -
         |      greatest(1, (nr.n_reps * 25) // 1000) + 1
         |    THEN m END) AS ci_hi
         |FROM rk CROSS JOIN nr CROSS JOIN pt
         |GROUP BY pt.n_days, pt.mean_daily_cents, nr.n_reps
         |ORDER BY n_days""".stripMargin)),
    // next-fit-decreasing bin packing of per-day partition sizes — the
    // third sequential recurrence on the gate (backlogQueue's shape)
    "q_compaction_plan" -> Entry(ev(EventQueries.compactionPlan(_)),
      // the identical next-fit CASE stepped by a recursive CTE over the
      // same (bytes DESC, day) order; day > cap opens its own bin
      Mirror(
      s"""WITH RECURSIVE s AS MATERIALIZED (
         |  SELECT CAST(ts AS DATE) AS event_date,
         |    CAST(sum(coalesce(length(props), 0) + 64) AS BIGINT) AS bytes
         |  FROM events GROUP BY 1),
         |r AS MATERIALIZED (
         |  SELECT event_date, bytes,
         |    row_number() OVER (ORDER BY bytes DESC, event_date) AS i
         |  FROM s),
         |b AS (
         |  SELECT i, event_date, bytes, 1 AS bin, bytes AS fill
         |  FROM r WHERE i = 1
         |  UNION ALL
         |  SELECT r.i, r.event_date, r.bytes,
         |    CASE WHEN b.fill + r.bytes <= ${EventQueries.CompactionCapBytes}
         |      THEN b.bin ELSE b.bin + 1 END,
         |    CASE WHEN b.fill + r.bytes <= ${EventQueries.CompactionCapBytes}
         |      THEN b.fill + r.bytes ELSE r.bytes END
         |  FROM b JOIN r ON r.i = b.i + 1)
         |SELECT event_date, bytes, CAST(bin AS BIGINT) AS bin
         |FROM b ORDER BY event_date""".stripMargin)),
    // blocked entity resolution on the part-name vocabulary: equi-join
    // on the block key, Levenshtein only within blocks
    "q_part_matching" -> Entry(table("part")(RelationalQueries.nameMatching(_)),
      // same block + threshold in both engines — the gate certifies pair
      // parity given the blocking; Levenshtein is the classic unit-cost
      // edit distance in both
      Mirror(
      s"""WITH n AS (
         |  SELECT DISTINCT p_name AS name,
         |    string_split(p_name, ' ')[-1] AS block
         |  FROM part)
         |SELECT a.block AS block, a.name AS name1, b.name AS name2,
         |  CAST(levenshtein(a.name, b.name) AS INTEGER) AS edit_dist
         |FROM n a JOIN n b ON a.block = b.block AND a.name < b.name
         |WHERE levenshtein(a.name, b.name) <=
         |  ${RelationalQueries.NameMatchMaxDist}
         |ORDER BY block, name1, name2""".stripMargin)),
    // Benford first-digit screen: exact counts, per-digit χ² contribs,
    // the total added left-associatively in digit order (generated chain)
    "q_benford" -> Entry(ev(EventQueries.benford),
      // generated chain-sum χ² mirror — see benfordSql
      Mirror(benfordSql())),
    // Z-order layout report: Morton interleave generated from ONE Scala
    // loop for both engines; 64 blocks with min/max zone-map envelopes
    "q_zorder_layout" -> Entry(ev(EventQueries.zorderLayout),
      // the same generated Morton interleave (one Scala loop renders both
      // engines' bit arithmetic); integer ops are bit-exact
      Mirror(
      s"""WITH c AS (
         |  SELECT ((user_id % ${1L << graft.ops.EventQueries.ZOrderBits}) +
         |      ${1L << graft.ops.EventQueries.ZOrderBits}) %
         |      ${1L << graft.ops.EventQueries.ZOrderBits} AS x,
         |    CAST((CAST(ts AS DATE) - DATE '1970-01-01') %
         |      ${1 << graft.ops.EventQueries.ZOrderBits} AS BIGINT) AS y
         |  FROM events),
         |m AS (
         |  SELECT x, y,
         |    (${graft.ops.EventQueries.mortonSql("x", "y")})
         |      >> ${graft.ops.EventQueries.ZOrderBlockShift} AS block
         |  FROM c)
         |SELECT block, CAST(count(*) AS BIGINT) AS n_events,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max
         |FROM m GROUP BY block ORDER BY block""".stripMargin)),
    // trailing-hour per-user velocity rule (RANGE frame over epoch
    // seconds): exact counts, integer threshold — the fraud flag
    "q_velocity_flags" -> Entry(ev(EventQueries.velocityFlags),
      // RANGE frame over epoch seconds, inclusive trailing window; the
      // non-negative epoch makes `div` ≡ `//`
      Mirror(VelocityFlagsSql)),
    // stateful streaming twin: per-user trailing buffer of event seconds
    // (flatMapGroupsWithState), shared velocityRollup finisher
    "q_stream_velocity" -> Entry((s, dir) => {
      import s.implicits._
      EventQueries.velocityRollup(
        StreamingQueries.runStream(s, dir, "stream_velocity", "append")(e =>
          streaming.VelocityState.flags(s,
            e.select(col("event_id"), col("ts"), col("user_id"))
              .as[streaming.VelocityState.In]).toDF))
    },
      // the stateful trailing-buffer twin shares the batch oracle VERBATIM
      // — the gate certifies stateful-buffer ≡ RANGE-window
      Mirror(VelocityFlagsSql)),
    // watermark-aligned-TTL twin: horizon = the velocity window, so
    // eviction is lossless for on-time traffic (an evicted user's buffer
    // would have aged empty anyway) — shares VelocityFlagsSql verbatim;
    // the late-return miss is spec-pinned (StreamingSpec)
    "q_stream_velocity_ttl" -> Entry((s, dir) => {
      import s.implicits._
      EventQueries.velocityRollup(
        StreamingQueries.runStream(s, dir, "stream_velocity_ttl",
          "append")(e =>
          streaming.VelocityState.flagsTtl(s,
            e.select(col("event_id"), col("ts"), col("user_id"))
              .as[streaming.VelocityState.In]).toDF))
    },
      // TTL twin: horizon = velocity window makes eviction lossless for
      // on-time traffic — the same oracle verbatim
      Mirror(VelocityFlagsSql)),
    // STL-lite: centered-7 trend (NULL edges), additive weekday
    // seasonal, residual from the RAW components
    "q_seasonal_decomposition" -> Entry(ev(EventQueries.seasonalDecomposition),
      // trend/seasonal/residual all from exact-derived inputs; the
      // residual subtracts RAW components, display 4dp-rounds — identical
      // structure both engines; NULL trend at the centered-window edges
      Mirror(SeasonalDecompSql)),
    // median/MAD screen on the DESEASONALIZED residuals — expected
    // weekday peaks no longer trip the detector
    "q_residual_anomalies" -> Entry(ev(EventQueries.residualAnomalies(_)),
      // the decomposition as a MATERIALIZED prologue + the q_mad_anomalies
      // median/MAD machinery on its residuals; edge days excluded by the
      // same stated filter
      Mirror(
      s"""WITH sd AS MATERIALIZED ($SeasonalDecompSql),
         |r AS MATERIALIZED (
         |  SELECT event_date, residual FROM sd
         |  WHERE residual IS NOT NULL),
         |n1 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
         |r1 AS MATERIALIZED (
         |  SELECT residual,
         |    row_number() OVER (ORDER BY residual, event_date) AS rk
         |  FROM r),
         |m1 AS MATERIALIZED (
         |  SELECT floor(avg(residual) * 10000 + 0.5) / 10000 AS med
         |  FROM r1 CROSS JOIN n1
         |  WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2),
         |dv AS MATERIALIZED (
         |  SELECT event_date, residual,
         |    floor(abs(residual - med) * 10000 + 0.5) / 10000 AS dev
         |  FROM r CROSS JOIN m1),
         |r2 AS MATERIALIZED (
         |  SELECT dev, row_number() OVER (ORDER BY dev, event_date) AS rk
         |  FROM dv),
         |m2 AS MATERIALIZED (
         |  SELECT floor(avg(dev) * 10000 + 0.5) / 10000 AS mad
         |  FROM r2 CROSS JOIN n1
         |  WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2)
         |SELECT event_date, residual, dev, mad,
         |  dev > ${EventQueries.MadSigma} * mad AS is_anomaly
         |FROM dv CROSS JOIN m2 ORDER BY event_date""".stripMargin)),
    // gaps-and-islands longest consecutive-day streak per user
    "q_user_streaks" -> Entry(ev(EventQueries.userStreaks),
      // gaps-and-islands: island key = day_num − row_number, constant
      // within a consecutive run; all integer arithmetic
      Mirror(UserStreaksSql)),
    // streaming twin: first-seen stateful dedup in-stream, the shared
    // gaps-and-islands finisher on the materialized pairs
    "q_stream_user_streaks" -> Entry((s, dir) =>
      EventQueries.streaksFromDays(
        StreamingQueries.runStream(s, dir, "stream_streaks", "append")(
          StreamingQueries.dedupDailyUsers)
          .select(col("user_id"), col("event_date"))),
      // the streaming stateful-dedup twin shares the batch oracle VERBATIM
      // (streaksFromDays finisher over the streamed first-seen pairs)
      Mirror(UserStreaksSql)),
    // watermark-aligned-TTL twin: the bounded dedup can RE-EMIT a
    // duplicate whose state was evicted, but streaksFromDays' distinct
    // absorbs re-emissions — eventual dedup is lossless for this
    // consumer, so the entry shares UserStreaksSql verbatim (the
    // re-emission absorption is additionally spec-pinned)
    "q_stream_user_streaks_ttl" -> Entry((s, dir) =>
      EventQueries.streaksFromDays(
        StreamingQueries.runStream(s, dir, "stream_streaks_ttl", "append")(
          StreamingQueries.dedupDailyUsersBounded(_))
          .select(col("user_id"), col("event_date"))),
      // TTL twin: the finisher's distinct absorbs eviction re-emissions,
      // so the bounded dedup shares the oracle verbatim
      Mirror(UserStreaksSql)),
    // streaming complete-mode digit counts + shared benfordRollup —
    // batch ≡ streamed Benford screen on the gate
    "q_stream_benford" -> Entry((s, dir) =>
      EventQueries.benfordRollup(
        StreamingQueries.runCompleteMode(s, dir, "stream_benford")(
          EventQueries.benfordDigitCounts)),
      // streaming complete-mode digit counts + the shared benfordRollup
      // finisher — the batch oracle verbatim
      Mirror(benfordSql())),
    // gains table: engagement deciles via the global ordinal, conversion
    // lift over the overall rate (fourth Ordinals certification)
    "q_decile_lift" -> Entry(ev(EventQueries.decileLift),
      // naive global-window mirror of the decomposed ordinal + the same
      // raw-then-round rate/lift op order
      Mirror(
      """WITH u AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS score,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY 1),
        |r AS MATERIALIZED (
        |  SELECT user_id, score, CAST(converted AS BIGINT) AS converted,
        |    CAST(row_number() OVER (ORDER BY score DESC, user_id)
        |      AS BIGINT) AS rn
        |  FROM u),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
        |        CAST(sum(converted) AS BIGINT) AS c_total FROM r),
        |d AS (
        |  SELECT (rn - 1) * 10 // t.n_total + 1 AS decile,
        |    converted, t.n_total AS nt, t.c_total AS ct
        |  FROM r CROSS JOIN t)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(converted) AS BIGINT) AS n_converters,
        |  floor((CAST(sum(converted) AS BIGINT) / CAST(count(*) AS DOUBLE))
        |    * 10000 + 0.5) / 10000 AS conv_rate,
        |  floor(((CAST(sum(converted) AS BIGINT) /
        |      CAST(count(*) AS DOUBLE)) /
        |    (CAST(max(ct) AS DOUBLE) / max(nt))) * 10000 + 0.5) / 10000
        |    AS lift
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin)),
    // systematic PPS sampling in pure integer arithmetic (weighted
    // sibling of the md5 split); bucketed prefix-sum decomposition
    // positional inverted-index build + exact phrase probe: adjacency
    // joins over 1-based postings, generated-mirror join chain from the
    // shared phrase constant
    "q_phrase_search" -> Entry(docs(TextOps.phraseSearch(_)),
      // generated adjacency-join chain over 1-based postings
      Mirror(phraseSearchSql)),
    // Okapi BM25 ranked retrieval for constant probe queries: driver-
    // quantized idf micro-units (ln never runs at query time), per-term
    // contributions floor-quantized to longs so the per-doc sum is
    // order-free exact; broadcast query terms, bounded-heap top-k —
    // nothing corpus-quadratic. Mirror: bm25SearchSql (generated VALUES)
    "q_bm25_search" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
      Retrieval.bm25Search(d, bm25Terms(dir, d))
    },
      // generated BM25 mirror: driver-trained idf VALUES + identical IEEE
      // per-term contribution + exact micro-long sums + row_number top-k
      Mirror(bm25SearchSql)),
    // the max-score/WAND-family dense-regime escape hatch (r15 verdict
    // #2): EXACT top-k BM25 from impact-ordered posting prefixes + a
    // Fagin-TA termination bound — |Q|-proportional work is bounded by
    // |Q|·terms·B, never |Q|·N. Shares q_bm25_search's oracle VERBATIM:
    // the hash gate IS the pruning-losslessness certificate (the
    // q_zorder_prune discipline). The corpus side is the persisted impact
    // index, so a warm call reads `documents` on neither an idf nor an
    // index hit.
    "q_bm25_maxscore" -> Entry((s, dir) => {
      lazy val d = Sources.table(s, dir, "documents")
      val qt = bm25Terms(dir, d)
      Retrieval.bm25SearchPruned(
        Retrieval.bm25Index(s, dir, qt.map(_._2).distinct)(d), qt)
    },
      // SHARED ORACLE (verbatim): the max-score/TA-pruned route must equal
      // the exact top-k row-for-row — the hash gate certifies pruning
      // losslessness (the shared-oracle equivalence discipline)
      Mirror(bm25SearchSql)),
    // reciprocal-rank-fusion hybrid search: the query DOCS' BM25 ranking
    // fused with their exact embedding-cosine ranking (vec_id ≡ doc_id),
    // 1/(60+r) contributions in pinned order; both lists depth-20,
    // missing list contributes 0. Mirror replays the trained query-term
    // table + both rankings + the fusion (hybridSearchSql)
    "q_hybrid_search" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
      val qt = hybridTerms.serve(dir)(
        Retrieval.trainHybridQueryTerms(d).toSeq)
      Retrieval.hybridSearch(d, Sources.table(s, dir, "embeddings"), qt)
    },
      // generated RRF hybrid mirror: shared BM25 core + exact cosine
      // ranking + pinned-order 1/(60+r) fusion
      Mirror(hybridSearchSql)),
    // RM1 pseudo-relevance feedback on the BM25 stack: top-F feedback
    // docs per probe query → expansion terms ranked by Σ tf/dl relevance
    // mass (micro-longs), original query terms excluded; shares the
    // trained idf table with q_bm25_search. Mirror: prfExpansionSql
    "q_prf_expansion" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
      Retrieval.prfExpansion(d, bm25Terms(dir, d))
    },
      // generated RM1 feedback mirror: shared BM25 core + top-F feedback
      // docs + identical tf/dl micro quantization + NOT EXISTS exclusion
      Mirror(prfExpansionSql)),
    // corpus-level TextRank keywords: top-V token co-occurrence graph
    // (window 2), 10 fixed rounds of damped weighted PageRank in
    // fixed-point micro longs (85/100 rational, truncating div); the
    // V-vertex iteration is a constants-bounded driver fold, the mirror
    // unrolls the SAME rounds over an identical in-SQL graph build
    "q_textrank_keywords" -> Entry(docs(Retrieval.textRankKeywords(_)),
      // self-contained TextRank mirror: in-SQL capped co-occurrence graph
      // + the fixed-point rounds unrolled (pagerank-mirror discipline)
      Mirror(textRankKeywordsSql())),
    "q_pps_sample" -> Entry(docs(TextOps.ppsSample(_)),
      // the same integer crossing rule over a naive global cumsum
      Mirror({
      val k = graft.ext.TextOps.PpsSampleK
      s"""WITH w AS (
         |  SELECT doc_id, CAST(n_chars AS BIGINT) AS wt
         |  FROM documents WHERE n_chars > 0),
         |c AS MATERIALIZED (
         |  SELECT doc_id, wt,
         |    CAST(sum(wt) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_incl
         |  FROM w),
         |t AS (SELECT CAST(sum(wt) AS BIGINT) AS w_total FROM w)
         |SELECT doc_id, wt,
         |  CAST(cum_incl - wt AS BIGINT) AS cum_before, cum_incl
         |FROM c CROSS JOIN t
         |WHERE (cum_incl * $k) // w_total >
         |  ((cum_incl - wt) * $k) // w_total
         |ORDER BY doc_id""".stripMargin
    })),
    // partition-layout advisor: candidate keys scored on cardinality,
    // skew and small-files risk; verdicts on 4dp-rounded metrics
    "q_partition_advice" -> Entry(ev(ops.Checks.partitionAdvice),
      // one value-counts aggregate per candidate; identical CASE ladder on
      // the rounded metrics (date/user rendered as strings in both engines)
      Mirror({
      import ops.Checks._
      def candSql(name: String, v: String) =
        s"""SELECT '$name' AS part_col,
           |  CAST(count(*) AS BIGINT) AS n_partitions,
           |  CAST(max(cnt) AS BIGINT) AS top_cnt,
           |  CAST(sum(cnt) AS BIGINT) AS total
           |FROM (SELECT $v AS v, count(*) AS cnt FROM events GROUP BY 1)
           |  f_$name""".stripMargin
      s"""WITH u AS (
         |${candSql("event_type", "event_type")}
         |UNION ALL
         |${candSql("event_date", "CAST(CAST(ts AS DATE) AS VARCHAR)")}
         |UNION ALL
         |${candSql("user_id", "CAST(user_id AS VARCHAR)")}),
         |m AS (
         |  SELECT part_col, n_partitions,
         |    floor((CAST(top_cnt AS DOUBLE) / total) * 10000 + 0.5) / 10000
         |      AS top_share,
         |    floor((CAST(total AS DOUBLE) / n_partitions) * 10000 + 0.5)
         |      / 10000 AS avg_rows
         |  FROM u)
         |SELECT part_col, n_partitions, top_share, avg_rows,
         |  CASE WHEN n_partitions < $AdviceMinPartitions THEN 'too_coarse'
         |    WHEN top_share > $AdviceSkewShare THEN 'skewed'
         |    WHEN avg_rows < $AdviceMinRowsPerPartition THEN 'too_fine'
         |    ELSE 'ok' END AS advice
         |FROM m ORDER BY part_col""".stripMargin
    })),
    // k-anonymity re-identification audit: users collapse to
    // quasi-identifier profiles (first date, activity bucket, dominant
    // type), profiles below the k threshold flag at_risk — exact
    // counts + CASE buckets, the pre-release privacy check
    "q_k_anonymity" -> Entry(ev(ops.Checks.kAnonymity),
      // k-anonymity audit: exact counts, CASE buckets from the shared
      // edges, dominant-type row_number with the pinned null ordering,
      // null users dropped by the equi-join in both engines
      Mirror({
      import ops.Checks._
      val Seq(e1, e2, e3) = KAnonBucketEdges
      s"""WITH bu AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |    min(CAST(ts AS DATE)) AS first_date
         |  FROM events GROUP BY 1),
         |dm AS (
         |  SELECT user_id, event_type AS dominant_type FROM (
         |    SELECT user_id, event_type,
         |      row_number() OVER (PARTITION BY user_id
         |        ORDER BY count(*) DESC, event_type ASC NULLS LAST) AS rn
         |    FROM events GROUP BY user_id, event_type)
         |  WHERE rn = 1),
         |pf AS (
         |  SELECT b.first_date, d.dominant_type,
         |    CASE WHEN b.n < $e1 THEN '1'
         |      WHEN b.n < $e2 THEN '$e1-${e2 - 1}'
         |      WHEN b.n < $e3 THEN '$e2-${e3 - 1}'
         |      ELSE '$e3+' END AS activity_bucket
         |  FROM bu b JOIN dm d USING (user_id))
         |SELECT first_date, activity_bucket, dominant_type,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  count(*) < $KAnonK AS at_risk
         |FROM pf GROUP BY 1, 2, 3
         |ORDER BY first_date ASC NULLS LAST, activity_bucket,
         |  dominant_type ASC NULLS LAST""".stripMargin
    })),
    // deterministic export shard manifest (fifth Ordinals certification)
    "q_export_shards" -> Entry(docs(TextOps.exportShards(_)),
      // naive global row_number mirror of the decomposed ordinal
      Mirror(
      s"""WITH r AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rn
         |  FROM documents)
         |SELECT (rn - 1) // ${graft.ext.TextOps.ExportShardSize} AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM r GROUP BY 1 ORDER BY shard""".stripMargin)),
    // training/serving drift monitor: equi-width buckets in integer
    // arithmetic, L1 distance via the generated left-assoc chain
    "q_revenue_drift" -> Entry(ev(EventQueries.revenueDrift),
      // generated chain-sum L1 mirror — see revenueDriftSql
      Mirror(revenueDriftSql())),
    // inverse-frequency class weights over the labeled embedding table
    "q_label_balance" -> Entry(emb(TextOps.labelBalance),
      // counts exact; share and weight single double divisions
      Mirror(
      """WITH c AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n
        |  FROM embeddings GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
        |        CAST(count(*) AS BIGINT) AS n_labels FROM c)
        |SELECT label, n,
        |  floor((CAST(n AS DOUBLE) / n_total) * 10000 + 0.5) / 10000
        |    AS share,
        |  floor((CAST(n_total AS DOUBLE) /
        |    CAST(n_labels * n AS DOUBLE)) * 10000 + 0.5) / 10000
        |    AS class_weight
        |FROM c CROSS JOIN t ORDER BY label""".stripMargin)),
    // OLS normal equations over exact DECIMAL(38,0) ≡ HUGEINT moments
    "q_revenue_trend" -> Entry(ev(EventQueries.revenueTrend),
      // five HUGEINT moment sums → one double division each; x anchors to
      // the first purchase day
      Mirror(
      s"""WITH d AS (
         |  SELECT CAST(ts AS DATE) AS event_date,
         |    CAST(floor($MoneySumValue * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |f AS (SELECT min(event_date) AS d0 FROM d),
         |xy AS (
         |  SELECT CAST(event_date - f.d0 + 1 AS HUGEINT) AS x,
         |    CAST(cents AS HUGEINT) AS y
         |  FROM d CROSS JOIN f),
         |s AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         |    sum(x * x) AS sxx, sum(y * y) AS syy
         |  FROM xy),
         |m AS (
         |  SELECT n, sx, sy,
         |    n * sxy - sx * sy AS d1,
         |    n * sxx - sx * sx AS d2,
         |    n * syy - sy * sy AS d3
         |  FROM s),
         |r AS (
         |  SELECT n, sx, sy, d1, d2, d3,
         |    CAST(d1 AS DOUBLE) / CAST(d2 AS DOUBLE) AS slope_raw
         |  FROM m)
         |SELECT CAST(n AS BIGINT) AS n_days,
         |  floor(slope_raw * 10000 + 0.5) / 10000 AS slope_cents_per_day,
         |  floor(((CAST(sy AS DOUBLE) - slope_raw * CAST(sx AS DOUBLE)) /
         |    CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000 AS intercept_cents,
         |  floor(((CAST(d1 AS DOUBLE) * CAST(d1 AS DOUBLE)) /
         |    (CAST(d2 AS DOUBLE) * CAST(d3 AS DOUBLE))) * 10000 + 0.5)
         |    / 10000 AS r2
         |FROM r ORDER BY n_days""".stripMargin)),
    // per-group exact medians: two-middle-ranks generalized per brand
    "q_brand_median_price" -> Entry(
      table("part")(RelationalQueries.brandMedianPrice),
      // per-brand two-middle-ranks median over exact cents
      Mirror(
      """WITH b AS (
        |  SELECT p_brand,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents,
        |    p_partkey
        |  FROM part),
        |r AS (
        |  SELECT p_brand, cents,
        |    CAST(row_number() OVER (PARTITION BY p_brand
        |      ORDER BY cents, p_partkey) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY p_brand) AS BIGINT) AS nb
        |  FROM b)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |  min(cents) AS min_cents, max(cents) AS max_cents,
        |  CAST(sum(CASE WHEN rk = (nb + 1) // 2 OR rk = (nb + 2) // 2
        |      THEN cents END) AS DOUBLE) /
        |    sum(CASE WHEN rk = (nb + 1) // 2 OR rk = (nb + 2) // 2
        |      THEN 1 END) AS median_cents
        |FROM r GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    // ER survivorship: match pairs → min-label CC clusters → golden
    // records; certifies connectedComponents on STRING vertex ids
    "q_name_survivorship" -> Entry(
      table("part")(RelationalQueries.nameSurvivorship),
      // naive recursive reachability over the same match-pair edges; the
      // left join keeps unmatched names as their own canonical
      Mirror(
      s"""WITH RECURSIVE n AS MATERIALIZED (
         |  SELECT DISTINCT p_name AS name,
         |    string_split(p_name, ' ')[-1] AS block
         |  FROM part),
         |p AS MATERIALIZED (
         |  SELECT a.name AS name1, b.name AS name2
         |  FROM n a JOIN n b ON a.block = b.block AND a.name < b.name
         |  WHERE levenshtein(a.name, b.name) <=
         |    ${RelationalQueries.NameMatchMaxDist}),
         |e AS MATERIALIZED (SELECT name1 AS src, name2 AS dst FROM p
         |      UNION SELECT name2, name1 FROM p),
         |reach(src, node) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN e ON r.node = e.src),
         |lab AS (SELECT src AS name, min(node) AS canonical
         |        FROM reach GROUP BY 1),
         |m AS (
         |  SELECT part.p_name,
         |    coalesce(lab.canonical, part.p_name) AS canonical_name
         |  FROM part LEFT JOIN lab ON lab.name = part.p_name)
         |SELECT canonical_name,
         |  CAST(count(DISTINCT p_name) AS BIGINT) AS n_names,
         |  CAST(count(*) AS BIGINT) AS n_parts
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)),
    // zone-map pruning over a Z-ordered partitioned layout: the gate
    // certifies candidate selection lossless; PartitionFilters spec-pinned
    "q_zorder_prune" -> Entry(ev(EventQueries.zorderPrune),
      // the same Morton arithmetic reconstructs the layout, the zone-map
      // candidate set and the probe count — pruning is lossless by the gate
      Mirror({
      val b = 1L << graft.ops.EventQueries.ZOrderBits
      s"""WITH c AS (
         |  SELECT ((user_id % $b) + $b) % $b AS x,
         |    CAST((CAST(ts AS DATE) - DATE '1970-01-01') % $b AS BIGINT)
         |      AS y
         |  FROM events),
         |m AS MATERIALIZED (
         |  SELECT x, y,
         |    (${graft.ops.EventQueries.mortonSql("x", "y")})
         |      >> ${graft.ops.EventQueries.ZOrderBlockShift} AS block
         |  FROM c),
         |l AS MATERIALIZED (
         |  SELECT block, min(x) AS x_min, max(x) AS x_max
         |  FROM m GROUP BY 1)
         |SELECT
         |  CAST(${graft.ops.EventQueries.ZOrderProbeX} AS BIGINT)
         |    AS x_target,
         |  (SELECT CAST(count(*) AS BIGINT) FROM l) AS n_blocks,
         |  (SELECT CAST(count(*) AS BIGINT) FROM l
         |   WHERE x_min <= ${graft.ops.EventQueries.ZOrderProbeX}
         |     AND x_max >= ${graft.ops.EventQueries.ZOrderProbeX})
         |    AS n_candidate_blocks,
         |  (SELECT CAST(count(*) AS BIGINT) FROM m
         |   WHERE x = ${graft.ops.EventQueries.ZOrderProbeX})
         |    AS n_rows_matched
         |ORDER BY x_target""".stripMargin
    })),
    // Flesch–Kincaid grade + band per document; band decided on the
    // 4dp-rounded score
    "q_readability" -> Entry(docs(TextOps.readability),
      // identical regex/split semantics in both engines; empty and null
      // docs drop on stated filters (null-text parity)
      Mirror(
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS BIGINT) AS n_words,
        |    greatest(1, CAST(len(list_filter(
        |      string_split_regex(text, '[.!?]+'), x -> trim(x) <> ''))
        |      AS BIGINT)) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents WHERE text IS NOT NULL),
        |y AS (
        |  SELECT doc_id, n_words, n_sentences, n_syllables,
        |    floor((0.39 * (CAST(n_words AS DOUBLE) / n_sentences) +
        |      11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59)
        |      * 10000 + 0.5) / 10000 AS fk_grade
        |  FROM b WHERE n_words > 0)
        |SELECT doc_id, n_words, n_sentences, n_syllables, fk_grade,
        |  CASE WHEN fk_grade < 8.0 THEN 'easy'
        |    WHEN fk_grade < 12.0 THEN 'medium'
        |    ELSE 'hard' END AS band
        |FROM y ORDER BY doc_id""".stripMargin)),
    // single-source BFS over the co-purchase graph: fixed idempotent
    // relaxation rounds, generated unrolled mirror (the kCore shape)
    "q_bfs_hops" -> Entry(ev(e =>
      Graph.bfsHops(EventQueries.basketPairs(e, minSupport = 1,
        sorted = false).select(col("item1"), col("item2")))),
      // six unrolled BFS relaxation rounds — see bfsHopsSql
      Mirror(bfsHopsSql())),
    // streaming complete-mode twin of q_weekday_seasonality: in-stream
    // exact-decimal daily aggregate + the shared weekdayRollup finisher
    "q_stream_weekday" -> Entry((s, dir) =>
      EventQueries.weekdayRollup(
        StreamingQueries.runCompleteMode(s, dir, "stream_weekday")(e =>
          e.filter(col("event_type") === "purchase")
            .groupBy(to_date(col("ts")).as("event_date"))
            .agg(Exprs.exactSum(col("value")).as("rev")))),
      // the streaming complete-mode twin shares the batch oracle VERBATIM —
      // the gate certifies only the daily-frame production differs
      Mirror(WeekdaySeasonalitySql)),
    // q_pagerank (float power iteration) RETIRED from the query surface
    // in r13: with q_pagerank_exact and q_ppr_exact both on the hash
    // gate, a no-oracle entry costing ~2 bench seconds per round carried
    // no information the exact twins don't. GraphSpec replays the
    // fixed-point loop against a driver-side double iteration instead.
    // the fixed-point power iteration in longs — every operation an
    // order-independent integer add/multiply/floor-div, so the iterative
    // graph loop rides the HASH GATE (impossible for the double version:
    // shuffle-order-dependent summation); the mirror unrolls the
    // identical 10 rounds in DuckDB with `//` floor division
    "q_pagerank_exact" -> Entry(ev(e => {
      val pairs = EventQueries.basketPairs(e, minSupport = 2, sorted = false)
        .select(col("item1"), col("item2"))
      val edges = pairs
        .select(col("item1").as("src"), col("item2").as("dst"))
        .union(pairs.select(col("item2").as("src"), col("item1").as("dst")))
      Graph.pageRankFixedPoint(edges)
    }),
      // ten unrolled fixed-point power-iteration rounds — see pageRankExactSql
      Mirror(pageRankExactSql())),
    // HITS hubs/authorities on the directed user→item purchase graph
    // (bipartite): L1-normalized fixed-point longs, so the whole
    // two-sided iterate-join-normalize loop rides the hash gate
    "q_hits_exact" -> Entry(ev(e => {
      val edges = e.filter(col("event_type") === "purchase")
        .select(col("user_id").cast("string").as("src"),
          get_json_object(col("props"), "$.k").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
      Graph.hitsFixedPoint(edges)
    }),
      // ten unrolled L1-normalized hub/authority rounds — see hitsExactSql
      Mirror(hitsExactSql())),
    // personalized PageRank (random walk with restart): teleport, start
    // mass AND dangling restarts all land on the seed set only — same
    // fixed-point long discipline, mirror unrolls the identical rounds
    "q_ppr_exact" -> Entry(ev(e => {
      val pairs = EventQueries.basketPairs(e, minSupport = 2, sorted = false)
        .select(col("item1"), col("item2"))
      val edges = pairs
        .select(col("item1").as("src"), col("item2").as("dst"))
        .union(pairs.select(col("item2").as("src"), col("item1").as("dst")))
      Graph.personalizedPageRankFixedPoint(edges)
    }),
      // the personalized variant: teleport/start/dangling on the seed set
      Mirror(pprExactSql())),
    // exact triangle counting via degree-ordered orientation (O(m^1.5)
    // wedge volume, no hub-keyed quadratic join); mirror is the naive
    // lexicographic 3-way join over the shared canonical pair list
    "q_triangle_count" -> Entry(ev(e =>
      Graph.triangleCounts(EventQueries.basketPairs(e, minSupport = 1, sorted = false)
        .select(col("item1"), col("item2")))),
      // naive lexicographic 3-way triangle join over the SAME canonical pair
      // list; the Spark side counts via degree-ordered orientation — the
      // gate certifies orientation ≡ naive (participation counts are
      // orientation-independent)
      Mirror(
      s"""WITH ${basketPairsCte(1)},
         |tri AS (
         |  SELECT e1.item1 AS x, e1.item2 AS y, e2.item2 AS z
         |  FROM pairs e1
         |  JOIN pairs e2 ON e2.item1 = e1.item2
         |  JOIN pairs e3 ON e3.item1 = e1.item1 AND e3.item2 = e2.item2)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM (SELECT x AS node FROM tri
         |      UNION ALL SELECT y FROM tri
         |      UNION ALL SELECT z FROM tri)
         |GROUP BY 1 ORDER BY n_triangles DESC, node""".stripMargin)),
    // k-core peeling: fixed idempotent rounds, generated unrolled mirror
    "q_kcore" -> Entry(ev(e =>
      Graph.kCore(EventQueries.basketPairs(e, minSupport = 1, sorted = false)
        .select(col("item1"), col("item2")))),
      // ten unrolled peeling rounds — see kCoreSql
      Mirror(kCoreSql())),
    // LTV matrix: first-purchase cohorts × whole weeks since acquisition
    "q_cohort_revenue" -> Entry(ev(EventQueries.cohortRevenue),
      // age in whole weeks via integer floor-div (DuckDB date-date is days)
      Mirror(
      s"""WITH p AS (
         |  SELECT user_id, CAST(ts AS DATE) AS d, value FROM events
         |  WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, min(d) AS cohort_day FROM p GROUP BY 1)
         |SELECT cohort_day,
         |  CAST((p.d - c.cohort_day) // 7 AS BIGINT) AS age_weeks,
         |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
         |  $MoneySumValue AS revenue
         |FROM p JOIN c USING (user_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // Deequ-shape constraint suite: one aggregate pass, per-constraint
    // report; the distinct count shuffles 8-byte keys only
    "q_data_checks" -> Entry(ev(ops.Checks.dataChecks),
      // metrics are ratios of exact longs — identical IEEE division both
      // engines — floor-rounded to 6dp so even the >= threshold predicate
      // rides the gate; the domain IN-list is generated from
      // Checks.EventTypeDomain
      Mirror(
      s"""WITH a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(user_id) AS BIGINT) AS nn_user,
         |    CAST(count(value) AS BIGINT) AS nn_value,
         |    CAST(count(DISTINCT event_id) AS BIGINT) AS d_eid,
         |    CAST(count(CASE WHEN event_type IN
         |      (${ops.Checks.eventTypeDomainSql}) THEN 1 END) AS BIGINT)
         |      AS in_dom,
         |    CAST(count(CASE WHEN value >= 0 THEN 1 END) AS BIGINT)
         |      AS nonneg,
         |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
         |      AS BIGINT) AS n_purch
         |  FROM events),
         |c AS (
         |  SELECT 'completeness_user_id' AS check_name,
         |    CASE WHEN n = 0 THEN CAST(1.0 AS DOUBLE) ELSE
         |      floor(CAST(nn_user AS DOUBLE) / n * 1000000 + 0.5) / 1000000
         |    END AS metric, CAST(1.0 AS DOUBLE) AS threshold FROM a
         |  UNION ALL SELECT 'completeness_value',
         |    CASE WHEN n = 0 THEN CAST(1.0 AS DOUBLE) ELSE
         |      floor(CAST(nn_value AS DOUBLE) / n * 1000000 + 0.5) / 1000000
         |    END, CAST(1.0 AS DOUBLE) FROM a
         |  UNION ALL SELECT 'uniqueness_event_id',
         |    CASE WHEN n = 0 THEN CAST(1.0 AS DOUBLE) ELSE
         |      floor(CAST(d_eid AS DOUBLE) / n * 1000000 + 0.5) / 1000000
         |    END, CAST(1.0 AS DOUBLE) FROM a
         |  UNION ALL SELECT 'domain_event_type',
         |    CASE WHEN n = 0 THEN CAST(1.0 AS DOUBLE) ELSE
         |      floor(CAST(in_dom AS DOUBLE) / n * 1000000 + 0.5) / 1000000
         |    END, CAST(1.0 AS DOUBLE) FROM a
         |  UNION ALL SELECT 'non_negative_value',
         |    CASE WHEN nn_value = 0 THEN CAST(1.0 AS DOUBLE) ELSE
         |      floor(CAST(nonneg AS DOUBLE) / nn_value * 1000000 + 0.5)
         |        / 1000000
         |    END, CAST(1.0 AS DOUBLE) FROM a
         |  UNION ALL SELECT 'purchase_share_min',
         |    CASE WHEN n = 0 THEN CAST(1.0 AS DOUBLE) ELSE
         |      floor(CAST(n_purch AS DOUBLE) / n * 1000000 + 0.5) / 1000000
         |    END, CAST(0.01 AS DOUBLE) FROM a)
         |SELECT check_name, metric, threshold, metric >= threshold AS passed
         |FROM c ORDER BY check_name""".stripMargin)),
    // referential-integrity profile of the orders→customer FK: distinct
    // key frames first, keys-sized full outer join — never row-sized
    "q_join_profile" -> Entry((s, dir) => ops.Checks.joinProfile(
      Sources.table(s, dir, "orders"), "o_custkey",
      Sources.table(s, dir, "customer"), "c_custkey"), Mirror(
      """WITH l AS (SELECT DISTINCT o_custkey AS k FROM orders
         |           WHERE o_custkey IS NOT NULL),
         |r AS (SELECT DISTINCT c_custkey AS k FROM customer
         |      WHERE c_custkey IS NOT NULL),
         |j AS (SELECT l.k AS lk, r.k AS rk
         |      FROM l FULL OUTER JOIN r ON l.k = r.k),
         |a AS (
         |  SELECT CAST(count(lk) AS BIGINT) AS n_left_keys,
         |    CAST(count(rk) AS BIGINT) AS n_right_keys,
         |    CAST(count(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL THEN 1
         |      END) AS BIGINT) AS n_shared,
         |    CAST(count(CASE WHEN rk IS NULL THEN 1 END) AS BIGINT)
         |      AS n_left_only,
         |    CAST(count(CASE WHEN lk IS NULL THEN 1 END) AS BIGINT)
         |      AS n_right_only
         |  FROM j)
         |SELECT n_left_keys, n_right_keys, n_shared, n_left_only,
         |  n_right_only,
         |  CASE WHEN n_left_keys = 0 THEN CAST(1.0 AS DOUBLE) ELSE
         |    floor(CAST(n_shared AS DOUBLE) / n_left_keys * 1000000 + 0.5)
         |      / 1000000
         |  END AS left_containment
         |FROM a""".stripMargin)),
    // dead-letter split: every quarantined row carries ALL failed rules
    "q_quarantine" -> Entry(ev(ev => {
      val (_, bad) = ingest.Cleaning.splitQuarantine(ev,
        ingest.Cleaning.standardEventRules)
      bad.select(col("event_id"), col("event_type"), col("value"),
        col("quarantine_reason")).orderBy("event_id")
    }),
      // same rule order as Cleaning.standardEventRules; concat_ws skips a
      // passing rule's NULL in both engines; SHARED by the batch and
      // streamed quarantine (the gate certifies their equivalence)
      Mirror(QuarantineSql)),
    // the STREAMING dead letter: the same stateless rule projection over
    // the event stream (append mode, rows emit per-batch, no state) —
    // shares q_quarantine's oracle verbatim, so the gate certifies
    // batch ≡ streamed quarantine
    "q_stream_quarantine" -> Entry((s, dir) =>
      StreamingQueries.runStream(s, dir, "stream_quar", "append")(ev =>
        ingest.Cleaning.splitQuarantine(ev,
          ingest.Cleaning.standardEventRules)._2
          .select(col("event_id"), col("event_type"), col("value"),
            col("quarantine_reason")))
        .orderBy("event_id"), Mirror(QuarantineSql)),
    "q_top_category_revenue" -> Entry(ev(EventQueries.topCategoryRevenue(_)),
      Mirror(TopCategorySql)),
    // approx_top_k heavy hitters — exact below sketch capacity (see
    // scaladoc), so it rides the hash gate against the plain group-by
    "q_category_heavyhitters" -> Entry(ev(EventQueries.categoryHeavyHitters(_)),
      // the sketch is below capacity on this data → zero-error → the exact
      // group-by mirrors it (see EventQueries.categoryHeavyHitters)
      Mirror(
      """SELECT json_extract_string(props, '$.k') AS category,
         |  count(*) AS est_count
         |FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
         |GROUP BY 1 ORDER BY est_count DESC, category""".stripMargin)),
    "q_conversion_funnel" -> Entry(ev(EventQueries.conversionFunnel),
      Mirror(FunnelCountsSql)),
    "q_abandoned_cart_users" -> Entry(ev(EventQueries.abandonedCartUsers),
      Mirror(
      """SELECT CAST(e.ts AS DATE) AS event_date, e.user_id, count(*) AS cart_events
         |FROM events e
         |WHERE e.event_type = 'click' AND NOT EXISTS (
         |  SELECT 1 FROM events p
         |  WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
         |    AND CAST(p.ts AS DATE) = CAST(e.ts AS DATE))
         |GROUP BY 1, 2 ORDER BY cart_events DESC, event_date, user_id""".stripMargin)),
    "q_avg_order_value_daily" -> Entry(ev(EventQueries.avgOrderValueDaily),
      Mirror(
      """SELECT CAST(ts AS DATE) AS event_date,
         |  floor((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
         |         / count(DISTINCT user_id)) * 100 + 0.5) / 100 AS average_order_value
         |FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_daily_active_users" -> Entry(ev(EventQueries.dailyActiveUsers),
      Mirror(DailyActiveUsersSql)),
    "q_dau_approx" -> Entry(ev(EventQueries.dailyActiveUsersApprox(_)),
      NoOracle("HyperLogLog++ estimate")),
    // stored-sketch rolling distinct: per-day HLL sketches unioned over a
    // calendar window frame; no oracle (HLL estimate) — spec-pinned
    "q_rolling_dau_sketch" -> Entry(ev(EventQueries.rollingDauSketch(_)),
      NoOracle("HyperLogLog sketch union estimate")),
    "q_conversion_latency" -> Entry(ev(EventQueries.conversionLatency),
      // same banded pair universe as q_view_purchase_30m, aggregated to
      // latency stats; integer µs until the final divisions (order of
      // operations mirrored exactly)
      Mirror(
      """SELECT CAST(p.ts AS DATE) AS event_date, count(*) AS n_pairs,
         |  floor(CAST(sum(epoch_us(p.ts) - epoch_us(v.ts)) AS DOUBLE)
         |    / count(*) / 1000000 * 100 + 0.5) / 100 AS avg_latency_s,
         |  floor(CAST(min(epoch_us(p.ts) - epoch_us(v.ts)) AS DOUBLE)
         |    / 1000000 * 100 + 0.5) / 100 AS min_latency_s,
         |  floor(CAST(max(epoch_us(p.ts) - epoch_us(v.ts)) AS DOUBLE)
         |    / 1000000 * 100 + 0.5) / 100 AS max_latency_s
         |FROM events v JOIN events p
         |  ON v.user_id = p.user_id
         | AND v.event_type = 'view' AND p.event_type = 'purchase'
         | AND p.ts >= v.ts
         | AND epoch_us(p.ts) - epoch_us(v.ts) <= 1800000000
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_user_retention" -> Entry(ev(EventQueries.userRetention(_)), Mirror(
      """SELECT 'retained' AS cohort, user_id FROM (
         |  SELECT user_id FROM events WHERE ts < TIMESTAMP '2024-01-15'
         |  INTERSECT
         |  SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-15')
         |UNION ALL
         |SELECT 'churned' AS cohort, user_id FROM (
         |  SELECT user_id FROM events WHERE ts < TIMESTAMP '2024-01-15'
         |  EXCEPT
         |  SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-15')
         |ORDER BY cohort, user_id""".stripMargin)),
    "q_price_quantiles" -> Entry(ev(EventQueries.priceQuantiles), Mirror(
      """SELECT event_type,
         |  floor(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS p50,
         |  floor(quantile_cont(value, 0.9) * 10000 + 0.5) / 10000 AS p90,
         |  floor(quantile_cont(value, 0.99) * 10000 + 0.5) / 10000 AS p99
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // robust statistics: clip into the exact [p01,p99] band; thresholds
    // 4dp-rounded on BOTH engines before comparing (quantile parity)
    "q_winsorized_revenue" -> Entry(ev(EventQueries.winsorizedRevenue(_)),
      // winsorization: same 4dp-rounded quantile thresholds, clip + exact
      // decimal sums of raw and clamped values
      Mirror(
      s"""WITH th AS (
         |  SELECT event_type,
         |    floor(quantile_cont(value, 0.01) * 10000 + 0.5) / 10000 AS lo,
         |    floor(quantile_cont(value, 0.99) * 10000 + 0.5) / 10000 AS hi
         |  FROM events GROUP BY 1)
         |SELECT e.event_type,
         |  CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clipped_low,
         |  CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clipped_high,
         |  $MoneySumValue AS raw_sum,
         |  CAST(round(sum(CAST(CASE WHEN value < lo THEN lo
         |    WHEN value > hi THEN hi ELSE value END AS DECIMAL(18,6))), 2)
         |    AS DOUBLE) AS winsorized_sum
         |FROM events e JOIN th USING (event_type)
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_price_quantiles_sketch" -> Entry(ev(EventQueries.priceQuantilesSketch(_)),
      NoOracle("approx_percentile sketch estimate")),
    "q_price_histogram" -> Entry(ev(EventQueries.priceHistogram(_)),
      // bucket arithmetic is per-row IEEE on exact inputs — identical in both
      // engines; max clamps to the last bucket, constant types to bucket 0
      Mirror(
      """WITH s AS (SELECT event_type, min(value) AS mn, max(value) AS mx
         |           FROM events GROUP BY 1)
         |SELECT e.event_type,
         |  CASE WHEN s.mx = s.mn THEN CAST(0 AS BIGINT)
         |       ELSE LEAST(CAST(9 AS BIGINT),
         |         CAST(floor((e.value - s.mn) / ((s.mx - s.mn) / 10)) AS BIGINT))
         |  END AS bucket,
         |  count(*) AS n_events
         |FROM events e JOIN s USING (event_type)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // equi-DEPTH twin: quantile-sliced buckets via arithmetic over the
    // distributed global ordinal (no single-task ntile sort)
    "q_equidepth_histogram" -> Entry(ev(EventQueries.equidepthHistogram(_)),
      // the window row_number twin of the distributed global-ordinal bucket
      // arithmetic; integer // matches Spark's div on the 1-based ordinals
      Mirror(
      s"""WITH v AS (
         |  SELECT value, event_id FROM events
         |  WHERE event_type = 'purchase' AND value IS NOT NULL),
         |r AS (
         |  SELECT value,
         |    row_number() OVER (ORDER BY value, event_id) AS rn,
         |    (SELECT count(*) FROM v) AS n
         |  FROM v)
         |SELECT CAST(((rn - 1) * ${EventQueries.EquidepthK}) // n AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  min(value) AS lo, max(value) AS hi,
         |  $MoneySumValue AS sum_value
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),
    // fixed-point EWMA: the sequential recurrence as integer cents on the
    // hash gate; mirror is a recursive CTE with identical // arithmetic
    "q_ewma_revenue" -> Entry(ev(EventQueries.ewmaDailyRevenue(_)),
      // the fixed-point EWMA recurrence as a recursive CTE — identical
      // integer ops per step; constants rendered from EventQueries.Ewma*
      Mirror(
      s"""WITH RECURSIVE d AS MATERIALIZED (
         |  SELECT CAST(ts AS DATE) AS event_date,
         |    CAST(floor($MoneySumValue * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |r AS MATERIALIZED (
         |  SELECT event_date, cents,
         |    row_number() OVER (ORDER BY event_date) AS i
         |  FROM d),
         |e AS (
         |  SELECT i, event_date, cents, cents AS ewma FROM r WHERE i = 1
         |  UNION ALL
         |  SELECT r.i, r.event_date, r.cents,
         |    ((${EventQueries.EwmaNum} * r.cents +
         |      ${EventQueries.EwmaDen - EventQueries.EwmaNum} * e.ewma) -
         |     (((${EventQueries.EwmaNum} * r.cents +
         |        ${EventQueries.EwmaDen - EventQueries.EwmaNum} * e.ewma)
         |       % ${EventQueries.EwmaDen}) + ${EventQueries.EwmaDen})
         |      % ${EventQueries.EwmaDen})
         |      // ${EventQueries.EwmaDen}
         |  FROM e JOIN r ON r.i = e.i + 1)
         |SELECT event_date, cents, CAST(ewma AS BIGINT) AS ewma_cents
         |FROM e ORDER BY event_date""".stripMargin)),
    // exact Hamilton credit split over the bucket-decomposed interval
    // join; total credited cents ≡ total purchase cents
    "q_multitouch_attribution" -> Entry(ev(EventQueries.multiTouchAttribution(_)),
      // naive interval join + the same integer Hamilton arithmetic; the
      // Spark side pairs via bucket decomposition keyed on (bucket, user)
      Mirror(
      s"""WITH p AS (
         |  SELECT event_id AS p_id, user_id, CAST(ts AS DATE) AS p_date,
         |    epoch_us(ts) AS p_us,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
         |t AS (
         |  SELECT event_id AS t_id, user_id, event_type AS touch_type,
         |    epoch_us(ts) AS t_us
         |  FROM events WHERE event_type IN ('view', 'click')),
         |j AS (
         |  SELECT p.p_id, p.p_date, p.cents, t.touch_type, t.t_us, t.t_id
         |  FROM p JOIN t ON p.user_id = t.user_id
         |    AND t.t_us >= p.p_us - ${EventQueries.AttributionWindowMinutes.toLong * 60L * 1000000L} AND t.t_us < p.p_us),
         |r AS (
         |  SELECT p_date, touch_type, cents,
         |    count(*) OVER (PARTITION BY p_id) AS n,
         |    row_number() OVER (PARTITION BY p_id ORDER BY t_us, t_id) AS rk
         |  FROM j),
         |c AS (
         |  SELECT p_date AS event_date, touch_type,
         |    (cents - ((cents % n) + n) % n) // n
         |      + CASE WHEN rk <= ((cents % n) + n) % n THEN 1 ELSE 0 END
         |      AS credit
         |  FROM r
         |  UNION ALL
         |  SELECT p_date, 'direct', cents FROM p
         |  WHERE p_id NOT IN (SELECT p_id FROM j))
         |SELECT event_date, touch_type,
         |  CAST(count(*) AS BIGINT) AS n_credits,
         |  CAST(sum(credit) AS BIGINT) AS credited_cents
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // lag over the calendar-bounded daily frame; exact-decimal-derived
    // deltas, floor-rounded pct change, zero-guarded division
    "q_revenue_dod" -> Entry(ev(EventQueries.revenueDayOverDay),
      // lag twin; both engines subtract/divide the SAME materialized 2dp
      // doubles, so delta and pct_change are bit-identical
      Mirror(
      s"""WITH d AS (
         |  SELECT CAST(ts AS DATE) AS event_date,
         |    $MoneySumValue AS revenue
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |l AS (
         |  SELECT event_date, revenue,
         |    lag(revenue) OVER (ORDER BY event_date) AS prev
         |  FROM d)
         |SELECT event_date, revenue,
         |  floor((revenue - prev) * 100 + 0.5) / 100 AS delta,
         |  CASE WHEN prev > 0
         |    THEN floor(((revenue - prev) / prev) * 10000 + 0.5) / 10000
         |  END AS pct_change
         |FROM l ORDER BY event_date""".stripMargin)),
    // per-category lag (partitioned day frames) + |delta| top-k heap
    "q_category_movers" -> Entry(ev(EventQueries.categoryMovers(_)),
      // partitioned lag twin; abs() of identical doubles orders identically
      Mirror(
      s"""WITH d AS (
         |  SELECT json_extract_string(props, '$$.k') AS category,
         |    CAST(ts AS DATE) AS event_date, $MoneySumValue AS revenue
         |  FROM events WHERE event_type = 'purchase'
         |    AND json_extract_string(props, '$$.k') IS NOT NULL
         |  GROUP BY 1, 2),
         |l AS (
         |  SELECT category, event_date, revenue,
         |    lag(revenue) OVER (PARTITION BY category
         |                       ORDER BY event_date) AS prev
         |  FROM d)
         |SELECT category, event_date, revenue,
         |  floor((revenue - prev) * 100 + 0.5) / 100 AS delta
         |FROM l WHERE prev IS NOT NULL
         |ORDER BY abs(floor((revenue - prev) * 100 + 0.5) / 100) DESC,
         |  category, event_date
         |LIMIT ${EventQueries.MoversTopK}""".stripMargin)),
    // cohort-retention triangle: dedup-then-count distinct users, share
    // of cohort size as a 4dp-rounded exact-long ratio
    "q_retention_matrix" -> Entry(ev(EventQueries.cohortRetention),
      // dedup-then-count retention cells; `//7` ≡ Spark floor(datediff/7)
      // on non-negative ages (the cohortRevenue-proven identity)
      Mirror(
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |           FROM events),
        |c AS (SELECT user_id, min(d) AS cohort_date FROM a GROUP BY 1),
        |s AS (SELECT cohort_date, CAST(count(*) AS BIGINT) AS cohort_users
        |      FROM c GROUP BY 1),
        |w AS (SELECT DISTINCT c.cohort_date,
        |        CAST((a.d - c.cohort_date) // 7 AS BIGINT) AS week, a.user_id
        |      FROM a JOIN c USING (user_id)),
        |m AS (SELECT cohort_date, week, CAST(count(*) AS BIGINT)
        |        AS active_users
        |      FROM w GROUP BY 1, 2)
        |SELECT m.cohort_date, m.week, m.active_users, s.cohort_users,
        |  floor((CAST(m.active_users AS DOUBLE) / s.cohort_users) * 10000
        |    + 0.5) / 10000 AS retention_pct
        |FROM m JOIN s USING (cohort_date)
        |ORDER BY cohort_date, week""".stripMargin)),
    // Markov transition matrix: per-user lag window (hot key bounded by
    // the busiest user), out-share over the ≤|types|² aggregate frame
    "q_event_transitions" -> Entry(ev(EventQueries.eventTransitions),
      // per-user lag twin; out-share divides exact longs as doubles
      Mirror(EventTransitionsSql)),
    // stationary distribution of the transition chain: fixed-point power
    // iteration in scale-1e9 longs (pagerank discipline on P's rationals)
    "q_markov_stationary" -> Entry(ev(EventQueries.markovStationary(_)),
      // unrolled fixed-point power-iteration rounds — see markovStationarySql
      Mirror(markovStationarySql)),
    // Kaplan-Meier product-limit estimator over user tenures: sequential
    // left-associative double fold ≡ the mirror's recursive CTE
    "q_survival_curve" -> Entry(ev(EventQueries.survivalCurve),
      // the product-limit recursion: identical left-associative factor
      // sequence; n/d exact longs from the reverse cumsum
      Mirror(SurvivalCurveSql)),
    // streaming twin: the per-user tenure aggregate runs IN-stream
    // (complete mode), the product-limit finisher on the materialized
    // frame — shares q_survival_curve's oracle verbatim
    "q_stream_survival" -> Entry((s, dir) =>
      EventQueries.survivalFromTenures(
        StreamingQueries.runCompleteMode(s, dir, "stream_survival")(
          EventQueries.userTenures)),
      // streaming twin shares the batch oracle VERBATIM (one val — the
      // shared-oracle discipline): the gate certifies
      // incremental-tenure-aggregate ≡ batch aggregate
      Mirror(SurvivalCurveSql)),
    // feature-store extraction: one hash aggregate per user, corpus
    // anchor date as a 1-row broadcast scalar
    "q_user_features" -> Entry(ev(EventQueries.userFeatures),
      // one-pass per-user aggregate + the corpus anchor as a scalar CTE
      Mirror(
      """WITH f AS (
        |  SELECT user_id,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      AS BIGINT) AS n_purchases,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS monetary_cents,
        |    min(CAST(ts AS DATE)) AS first_seen,
        |    max(CAST(ts AS DATE)) AS last_seen,
        |    CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
        |    CAST(count(DISTINCT json_extract_string(props, '$.k'))
        |      AS BIGINT) AS n_categories
        |  FROM events GROUP BY 1),
        |x AS (SELECT max(CAST(ts AS DATE)) AS anchor FROM events)
        |SELECT user_id, n_events, n_purchases, monetary_cents, first_seen,
        |  last_seen, active_days, n_categories,
        |  CAST(date_diff('day', last_seen, anchor) AS INT) AS recency_days,
        |  CAST(date_diff('day', first_seen, last_seen) + 1 AS INT)
        |    AS tenure_days,
        |  floor((CAST(n_purchases AS DOUBLE) / n_events) * 10000 + 0.5)
        |    / 10000 AS purchase_rate
        |FROM f CROSS JOIN x ORDER BY user_id""".stripMargin)),
    // smoothed target encoding (m=10 pseudo-count): exact cents sums,
    // identical double op sequence both engines
    "q_target_encoding" -> Entry(ev(EventQueries.targetEncoding(_)),
      // smoothing pseudo-count interpolated from TargetEncodingM; encoder
      // arithmetic is the identical double op sequence on exact longs
      Mirror(
      s"""WITH p AS (
         |  SELECT json_extract_string(props, '$$.k') AS category,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
         |    AND json_extract_string(props, '$$.k') IS NOT NULL),
         |c AS (SELECT category, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(cents) AS BIGINT) AS sum_cents
         |      FROM p GROUP BY 1),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS g_n,
         |        CAST(sum(cents) AS BIGINT) AS g_sum FROM p)
         |SELECT category, n, sum_cents,
         |  floor(((CAST(sum_cents AS DOUBLE) +
         |    ${EventQueries.TargetEncodingM} *
         |      (CAST(g_sum AS DOUBLE) / g_n)) /
         |    (n + ${EventQueries.TargetEncodingM})) * 10000 + 0.5) / 10000
         |    AS encoded_cents
         |FROM c CROSS JOIN g ORDER BY category""".stripMargin)),
    // schema-on-read JSON flatten (from_json with declared schema) +
    // per-type attribute profile
    "q_json_flatten" -> Entry(ev(EventQueries.propsFlatten),
      // typed JSON attribute extraction ≡ from_json(schema).k
      Mirror(
      """WITH k AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(k) AS BIGINT) AS n_with_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Holt level+trend smoothing in fixed-point longs: the two-state
    // sequential recurrence (incl. one-day-ahead forecast) on the gate
    "q_holt_trend" -> Entry(ev(EventQueries.holtDailyRevenue(_)),
      // Holt level+trend recurrence unrolled recursively: identical
      // fixed-point ops per step. The trend goes NEGATIVE on declines and
      // DuckDB's integer `//` TRUNCATES toward zero (observed: -2700//8 =
      // -337, not floor's -338) — so every mirror division first subtracts
      // the non-negative remainder (divisibility reduction): on an exactly
      // divisible numerator, truncate ≡ floor ≡ Spark's pmod floorDiv.
      Mirror({
      val (an, ad) = (EventQueries.HoltANum, EventQueries.HoltADen)
      val (bn, bd) = (EventQueries.HoltBNum, EventQueries.HoltBDen)
      def fdiv(num: String, den: Long) =
        s"(($num) - ((($num) % $den) + $den) % $den) // $den"
      val lvl = fdiv(s"$an * r.cents + ${ad - an} * (h.level + h.trend)", ad)
      val tr = fdiv(s"$bn * (level - prev_level) + ${bd - bn} * prev_trend",
        bd)
      s"""WITH RECURSIVE d AS MATERIALIZED (
         |  SELECT CAST(ts AS DATE) AS event_date,
         |    CAST(floor($MoneySumValue * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |r AS MATERIALIZED (
         |  SELECT event_date, cents,
         |    row_number() OVER (ORDER BY event_date) AS i
         |  FROM d),
         |h AS (
         |  SELECT i, event_date, cents, cents AS level,
         |    CAST(0 AS BIGINT) AS trend
         |  FROM r WHERE i = 1
         |  UNION ALL
         |  SELECT i, event_date, cents, level, $tr AS trend
         |  FROM (
         |    SELECT r.i, r.event_date, r.cents, $lvl AS level,
         |      h.level AS prev_level, h.trend AS prev_trend
         |    FROM h JOIN r ON r.i = h.i + 1))
         |SELECT event_date, cents, CAST(level AS BIGINT) AS level_cents,
         |  CAST(trend AS BIGINT) AS trend_cents,
         |  CAST(level + trend AS BIGINT) AS forecast_cents
         |FROM h ORDER BY event_date""".stripMargin
    })),
    // clamped running sum (max() destroys prefix-sum decomposability):
    // the first non-linear recurrence on the gate; conservation
    // invariant spec-pinned
    "q_backlog_queue" -> Entry(ev(EventQueries.backlogQueue), Mirror(
      """WITH RECURSIVE d AS MATERIALIZED (
        |  SELECT CAST(ts AS DATE) AS event_date,
        |    CAST(count(*) AS BIGINT) AS arrivals
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |c AS MATERIALIZED (
        |  SELECT CAST(sum(arrivals) AS BIGINT) //
        |    CAST(count(*) AS BIGINT) AS cap FROM d),
        |r AS MATERIALIZED (
        |  SELECT event_date, arrivals,
        |    row_number() OVER (ORDER BY event_date) AS i
        |  FROM d),
        |b AS (
        |  SELECT r.i, r.event_date, r.arrivals,
        |    greatest(r.arrivals - c.cap, 0) AS backlog,
        |    r.arrivals - greatest(r.arrivals - c.cap, 0) AS served
        |  FROM r CROSS JOIN c WHERE r.i = 1
        |  UNION ALL
        |  SELECT r.i, r.event_date, r.arrivals,
        |    greatest(b.backlog + r.arrivals - c.cap, 0),
        |    b.backlog + r.arrivals -
        |      greatest(b.backlog + r.arrivals - c.cap, 0)
        |  FROM b JOIN r ON r.i = b.i + 1 CROSS JOIN c)
        |SELECT event_date, arrivals, CAST(backlog AS BIGINT) AS backlog,
        |  CAST(served AS BIGINT) AS served
        |FROM b ORDER BY event_date""".stripMargin)),
    // lag-1..7 autocorrelation: exact long deviations around the
    // floor-cent mean; r_k divides two long→double conversions
    "q_revenue_acf" -> Entry(ev(EventQueries.revenueAcf(_)),
      // clamped running sum: greatest() in the recursive step ≡ the fold's
      // clamp; capacity CTE = the same floored-mean longs
      // exact-long deviation products over the calendar-bounded lag
      // self-join; t // n safe (non-negative); the final division is of
      // two correctly-rounded long→double conversions
      Mirror(
      s"""WITH d AS MATERIALIZED (
         |  SELECT CAST(ts AS DATE) AS event_date,
         |    CAST(floor($MoneySumValue * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |s AS MATERIALIZED (
         |  SELECT cents, row_number() OVER (ORDER BY event_date) AS rn
         |  FROM d),
         |st AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(cents) AS BIGINT) AS t FROM s),
         |v AS MATERIALIZED (
         |  SELECT rn, cents - (st.t // st.n) AS dev FROM s, st),
         |den AS (SELECT CAST(sum(dev * dev) AS BIGINT) AS den FROM v),
         |num AS (
         |  SELECT g.k AS k, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(a.dev * b.dev) AS BIGINT) AS num
         |  FROM generate_series(1, ${EventQueries.AcfMaxLag}) g(k), v a
         |  JOIN v b ON b.rn = a.rn + g.k
         |  GROUP BY 1)
         |SELECT CAST(num.k AS BIGINT) AS k, num.n_pairs,
         |  floor(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE) * 10000
         |    + 0.5) / 10000 AS acf
         |FROM num, den ORDER BY k""".stripMargin)),
    // one-sided CUSUM drift screen: the clamped backlog fold in integer
    // cents; slack/threshold = σ quantized via the shared floor trick
    "q_revenue_cusum" -> Entry(ev(EventQueries.revenueCusum),
      // the clamped fold in integer cents (backlog discipline); σ from
      // exact long moments, quantized by the shared floor trick before the
      // recursion so the recurrence never touches a double
      Mirror(
      s"""WITH RECURSIVE d AS MATERIALIZED (
         |  SELECT CAST(ts AS DATE) AS event_date,
         |    CAST(floor($MoneySumValue * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |st AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(cents) AS BIGINT) AS t,
         |    CAST(sum(cents * cents) AS BIGINT) AS q FROM d),
         |c AS MATERIALIZED (
         |  SELECT (t // n) AS mean_cents,
         |    CAST(floor(0.5e0 * sqrt(greatest(CAST(q AS DOUBLE) / n
         |      - (CAST(t AS DOUBLE) / n) * (CAST(t AS DOUBLE) / n),
         |      0e0)) + 0.5) AS BIGINT) AS slack,
         |    CAST(floor(4e0 * sqrt(greatest(CAST(q AS DOUBLE) / n
         |      - (CAST(t AS DOUBLE) / n) * (CAST(t AS DOUBLE) / n),
         |      0e0)) + 0.5) AS BIGINT) AS thr
         |  FROM st),
         |r AS MATERIALIZED (
         |  SELECT event_date, cents,
         |    row_number() OVER (ORDER BY event_date) AS i
         |  FROM d),
         |b AS (
         |  SELECT r.i, r.event_date, r.cents,
         |    greatest(r.cents - c.mean_cents - c.slack, 0) AS cusum,
         |    c.thr
         |  FROM r CROSS JOIN c WHERE r.i = 1
         |  UNION ALL
         |  SELECT r.i, r.event_date, r.cents,
         |    greatest(b.cusum + r.cents - c.mean_cents - c.slack, 0),
         |    c.thr
         |  FROM b JOIN r ON r.i = b.i + 1 CROSS JOIN c)
         |SELECT event_date, cents, CAST(cusum AS BIGINT) AS cusum,
         |  cusum > thr AS drift_flag
         |FROM b ORDER BY event_date""".stripMargin)),
    // robust MAD outlier flags: median/MAD 4dp-rounded in both engines
    // before any comparison (quantile-parity discipline)
    "q_mad_anomalies" -> Entry(ev(EventQueries.madAnomalies(_)),
      // median/MAD each 4dp-rounded BEFORE deviations/compare (quantile
      // parity); middle ranks via integer floor-div
      Mirror(
      s"""WITH d AS MATERIALIZED (
         |  SELECT CAST(ts AS DATE) AS event_date, $MoneySumValue AS revenue
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |n1 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
         |r1 AS MATERIALIZED (
         |  SELECT revenue,
         |    row_number() OVER (ORDER BY revenue, event_date) AS rk FROM d),
         |m1 AS MATERIALIZED (
         |  SELECT floor(avg(revenue) * 10000 + 0.5) / 10000 AS med
         |  FROM r1 CROSS JOIN n1
         |  WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2),
         |dv AS MATERIALIZED (
         |  SELECT event_date, revenue,
         |    floor(abs(revenue - med) * 10000 + 0.5) / 10000 AS dev
         |  FROM d CROSS JOIN m1),
         |r2 AS MATERIALIZED (
         |  SELECT dev, row_number() OVER (ORDER BY dev, event_date) AS rk
         |  FROM dv),
         |m2 AS MATERIALIZED (
         |  SELECT floor(avg(dev) * 10000 + 0.5) / 10000 AS mad
         |  FROM r2 CROSS JOIN n1
         |  WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2)
         |SELECT event_date, revenue, dev,
         |  dev > ${EventQueries.MadSigma} * mad AS is_anomaly
         |FROM dv CROSS JOIN m2 ORDER BY event_date""".stripMargin)),
    // join-key skew profile: heaviest keys + skew factor (freq ÷ mean),
    // cost ∝ keys; the pre-join straggler predictor
    "q_skew_report" -> Entry(ev(ops.Checks.keySkewReport(_, "user_id")),
      // keys-sized count frame + scalar totals; skew factor = freq ÷ mean
      Mirror(
      s"""WITH c AS (
         |  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS freq
         |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
         |t AS (SELECT CAST(sum(freq) AS BIGINT) AS total_rows,
         |        CAST(count(*) AS BIGINT) AS n_keys FROM c)
         |SELECT key, freq, n_keys,
         |  floor((CAST(freq AS DOUBLE) / total_rows) * 1000000 + 0.5)
         |    / 1000000 AS share,
         |  floor((CAST(freq AS DOUBLE) * n_keys / total_rows) * 10000 + 0.5)
         |    / 10000 AS skew_factor
         |FROM c CROSS JOIN t
         |ORDER BY freq DESC, key LIMIT ${ops.Checks.SkewTopK}""".stripMargin)),
    // two-proportion z-test between deterministic arms (user_id % 2):
    // exact counts, identical double op sequence, 4dp-rounded verdict
    "q_ab_test" -> Entry(ev(EventQueries.abTest),
      // two-proportion z-test: raw rates recomputed in the outer select
      // (identical op order), verdict on the 4dp-rounded z
      Mirror(
      s"""WITH per AS (
         |  SELECT user_id % 2 AS grp, user_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS conv
         |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
         |s AS (
         |  SELECT
         |    CAST(count(CASE WHEN grp = 0 THEN 1 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT)
         |      AS conv_a,
         |    CAST(count(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT)
         |      AS conv_b
         |  FROM per)
         |SELECT n_a, conv_a, n_b, conv_b,
         |  floor(CAST(conv_a AS DOUBLE) / n_a * 10000 + 0.5) / 10000 AS p_a,
         |  floor(CAST(conv_b AS DOUBLE) / n_b * 10000 + 0.5) / 10000 AS p_b,
         |  CASE WHEN sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) *
         |      (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
         |      (1.0 / n_a + 1.0 / n_b)) > 0
         |    THEN floor((CAST(conv_a AS DOUBLE) / n_a -
         |        CAST(conv_b AS DOUBLE) / n_b) /
         |      sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) *
         |        (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
         |        (1.0 / n_a + 1.0 / n_b)) * 10000 + 0.5) / 10000 END
         |    AS z_score,
         |  CASE WHEN sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) *
         |      (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
         |      (1.0 / n_a + 1.0 / n_b)) > 0
         |    THEN abs(floor((CAST(conv_a AS DOUBLE) / n_a -
         |        CAST(conv_b AS DOUBLE) / n_b) /
         |      sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) *
         |        (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
         |        (1.0 / n_a + 1.0 / n_b)) * 10000 + 0.5) / 10000)
         |      > ${EventQueries.AbZCrit} END AS significant
         |FROM s""".stripMargin)),
    // min-max + z-score + rank-percentile scaling of the per-user
    // monetary feature; third certification of the distributed ordinal
    "q_feature_scaling" -> Entry(ev(EventQueries.featureScaling),
      // three scalings off one stats row; naive global row_number mirror
      // certifies the distributed ordinal a third time
      Mirror(
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        |    AND user_id IS NOT NULL
        |  GROUP BY 1),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS DOUBLE) AS s,
        |    CAST(sum(cents * cents) AS DOUBLE) AS q,
        |    min(cents) AS mn, max(cents) AS mx
        |  FROM per),
        |r AS (
        |  SELECT user_id, cents,
        |    row_number() OVER (ORDER BY cents, user_id) AS rn
        |  FROM per)
        |SELECT user_id, cents,
        |  CASE WHEN mx > mn
        |    THEN floor(CAST(cents - mn AS DOUBLE) / (mx - mn) * 1000000
        |      + 0.5) / 1000000 END AS minmax,
        |  CASE WHEN q / n - (s / n) * (s / n) > 0
        |    THEN floor((CAST(cents AS DOUBLE) - s / n) /
        |      sqrt(q / n - (s / n) * (s / n)) * 10000 + 0.5) / 10000 END
        |    AS zscore,
        |  CASE WHEN n > 1
        |    THEN floor(CAST(rn - 1 AS DOUBLE) / (n - 1) * 1000000 + 0.5)
        |      / 1000000 END AS rank_pct
        |FROM r CROSS JOIN g ORDER BY user_id""".stripMargin)),
    // schema-evolution read: two parquet generations (v1 lacks value/
    // props) merged via mergeSchema with null back-fill — the migration
    // every long-lived lakehouse table goes through; split determinism
    // via event_id parity so the mirror reconstructs the merge
    "q_schema_evolution" -> Entry((s, dir) => {
      val ev = Sources.events(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-schemev")
      try {
        ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select(col("event_id"), col("user_id"))
          .write.parquet(s"$tmp/t/v1")
        ev.filter(pmod(col("event_id"), lit(2)) === 1)
          .select(col("event_id"), col("user_id"), col("value"),
            col("props"))
          .write.parquet(s"$tmp/t/v2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$tmp/t/v1", s"$tmp/t/v2")
          .orderBy("event_id").localCheckpoint(true)
      } finally Fs.deleteRecursively(tmp)
    },
      // the merged read reconstructed: v1-parity rows null their late
      // columns
      Mirror(
      """SELECT event_id, user_id,
        |  CASE WHEN event_id % 2 = 1 THEN value END AS value,
        |  CASE WHEN event_id % 2 = 1 THEN props END AS props
        |FROM events WHERE event_id IS NOT NULL
        |ORDER BY event_id""".stripMargin)),
    // funnel-path mining: first-20 event-type sequences per user-day,
    // capped BEFORE collect_list so aggregation state is bounded
    "q_user_paths" -> Entry(ev(EventQueries.userPaths(_)),
      // string_agg with ORDER BY rk mirrors the sorted-struct render
      Mirror(
      s"""WITH e AS (
         |  SELECT CAST(ts AS DATE) AS d, user_id, event_type,
         |    row_number() OVER (PARTITION BY CAST(ts AS DATE), user_id
         |                       ORDER BY ts, event_id) AS rk
         |  FROM events),
         |p AS (
         |  SELECT string_agg(event_type, '>' ORDER BY rk) AS path
         |  FROM e WHERE rk <= ${EventQueries.PathMaxLen} GROUP BY d, user_id)
         |SELECT path, CAST(count(*) AS BIGINT) AS n_userdays
         |FROM p GROUP BY 1 ORDER BY n_userdays DESC, path LIMIT ${EventQueries.PathTopK}""".stripMargin)),
    "q_new_users_daily" -> Entry(ev(EventQueries.newUsersDaily), Mirror(
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS event_date
        |           FROM events GROUP BY 1),
        |d AS (SELECT event_date, count(*) AS new_users FROM f GROUP BY 1)
        |SELECT event_date, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY event_date
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM d ORDER BY event_date""".stripMargin)),
    "q_dau_pivot" -> Entry(ev(EventQueries.dauPivot), Mirror(
      """SELECT CAST(ts AS DATE) AS event_date,
         |  count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS "view",
         |  count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS click,
         |  count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS purchase,
         |  count(DISTINCT CASE WHEN event_type = 'signup' THEN user_id END) AS signup,
         |  count(DISTINCT CASE WHEN event_type = 'error' THEN user_id END) AS error
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_dau_unpivot" -> Entry(ev(EventQueries.dauUnpivot), Mirror(
      """WITH w AS (
         |  SELECT CAST(ts AS DATE) AS event_date,
         |    count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS "view",
         |    count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS click,
         |    count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS purchase,
         |    count(DISTINCT CASE WHEN event_type = 'signup' THEN user_id END) AS signup,
         |    count(DISTINCT CASE WHEN event_type = 'error' THEN user_id END) AS error
         |  FROM events GROUP BY 1)
         |SELECT event_date, event_type, dau FROM w
         |UNPIVOT (dau FOR event_type IN ("view", click, purchase, signup, error))
         |ORDER BY event_date, event_type""".stripMargin)),
    "q_revenue_gapfill" -> Entry(ev(WindowedQueries.revenueGapfill), Mirror(
      s"""WITH b AS (SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx FROM events),
         |s AS (SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
         |        CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS event_date FROM b),
         |d AS (SELECT CAST(ts AS DATE) AS event_date, $MoneySumValue AS rev
         |      FROM events WHERE event_type = 'purchase' GROUP BY 1)
         |SELECT s.event_date, coalesce(d.rev, 0.0) AS total_revenue
         |FROM s LEFT JOIN d USING (event_date) ORDER BY 1""".stripMargin)),
    "q_daily_topn_sample" -> Entry(ev(EventQueries.dailyTopN(_)), Mirror(
      """SELECT * FROM (
         |  SELECT CAST(ts AS DATE) AS event_date, event_id,
         |    row_number() OVER (PARTITION BY CAST(ts AS DATE) ORDER BY ts, event_id) AS rn
         |  FROM events) t
         |WHERE rn <= 100 ORDER BY event_date, rn""".stripMargin)),
    // distributed global ordinals (no single-task window sort): the hash
    // gate proves offset+local ≡ the mirror's global row_number
    "q_global_rownum" -> Entry(ev(e =>
      ops.Ordinals.globalRowNumbers(e, Seq(col("ts"), col("event_id")))
        .select(col("event_id"), col("rn"))
        .orderBy("rn")), Mirror(
      """SELECT event_id,
         |  row_number() OVER (ORDER BY ts, event_id) AS rn
         |FROM events ORDER BY rn""".stripMargin)),
    "q_extract_stats" -> Entry(ev(EventQueries.extractStats), Mirror(
      """SELECT CAST(ts AS DATE) AS event_date, count(*) AS event_count
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_validate_nulls" -> Entry(ev(EventQueries.validateNulls), Mirror(
      """SELECT count(*) AS null_violations FROM events
         |WHERE event_id IS NULL OR ts IS NULL OR user_id IS NULL OR event_type IS NULL""".stripMargin)),
    "q_validate_count" -> Entry(ev(EventQueries.validateCount),
      Mirror("SELECT count(*) AS row_count FROM events")),
    "q_validate_max_date" -> Entry(ev(EventQueries.validateMaxDate), Mirror(
      "SELECT max(CAST(ts AS DATE)) AS max_event_date FROM events")),
    "q_kafka_envelope" -> Entry(ev(Sinks.kafkaEnvelope), Mirror(
      """SELECT event_id, CAST(user_id AS VARCHAR) AS kafka_key,
         |  '{"event_id":' || CAST(event_id AS VARCHAR)
         |  || ',"ts_us":' || CAST(epoch_us(ts) AS VARCHAR)
         |  || ',"event_type":"' || event_type
         |  || '","price":' || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR)
         |  || '}' AS kafka_value
         |FROM events ORDER BY event_id""".stripMargin)),
    "q_avro_envelope" -> Entry(ev(e =>
      Sources.fromAvroEnvelope(Sinks.avroEnvelope(e)).orderBy("event_id")),
      // encode∘decode = identity over the AVRO wire format; the oracle is the
      // plain projection, so any envelope corruption breaks the hash
      Mirror(
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
         |  value AS price
         |FROM events ORDER BY event_id""".stripMargin)),
    "q_revenue_rollup" -> Entry(ev(EventQueries.revenueRollup), Mirror(
      s"""SELECT event_type, CAST(ts AS DATE) AS event_date,
         |  $MoneySumValue AS revenue, count(*) AS n_events,
         |  GROUPING(event_type, CAST(ts AS DATE)) AS gid
         |FROM events WHERE event_type IN ('view', 'click', 'purchase')
         |GROUP BY ROLLUP (event_type, CAST(ts AS DATE))
         |ORDER BY gid DESC, event_type, event_date""".stripMargin)),
    "q_revenue_grouping_sets" -> Entry(ev(EventQueries.revenueGroupingSets),
      Mirror(
      s"""SELECT event_type, CAST(ts AS DATE) AS event_date,
         |  $MoneySumValue AS revenue, count(*) AS n_events,
         |  GROUPING(event_type, CAST(ts AS DATE)) AS gid
         |FROM events WHERE event_type IN ('view', 'click', 'purchase')
         |GROUP BY GROUPING SETS ((event_type, CAST(ts AS DATE)),
         |  (event_type), (CAST(ts AS DATE)))
         |ORDER BY gid, event_type, event_date""".stripMargin)),
    "q_revenue_cube" -> Entry(ev(EventQueries.revenueCube), Mirror(
      s"""SELECT event_type, CAST(ts AS DATE) AS event_date,
         |  $MoneySumValue AS revenue, count(*) AS n_events,
         |  GROUPING(event_type, CAST(ts AS DATE)) AS gid
         |FROM events WHERE event_type IN ('view', 'click', 'purchase')
         |GROUP BY CUBE (event_type, CAST(ts AS DATE))
         |ORDER BY gid, event_type, event_date""".stripMargin)),
    "q_sessionization" -> Entry(ev(WindowedQueries.sessionize(_)),
      Mirror(SessionizationSql)),
    "q_session_stats" -> Entry(ev(WindowedQueries.sessionStats(_)),
      // per-day rollup OVER the shared sessionization CTE (composition on
      // the hash gate: the stats inherit the session boundary semantics)
      Mirror(
      s"""SELECT CAST(session_start AS DATE) AS event_date,
         |  count(*) AS n_sessions,
         |  floor(CAST(sum(n_events) AS DOUBLE) / count(*) * 100 + 0.5) / 100
         |    AS avg_events,
         |  max(duration_us) AS max_duration_us
         |FROM ($SessionizationSql)
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // bucket-decomposed interval-overlap join (the range join Spark lacks
    // natively — a bare overlap predicate plans as quadratic BNLJ): the
    // mirror states the NAIVE overlap self-join, so the gate certifies
    // the decomposition (first-overlap-bucket dedup included)
    "q_session_concurrency" -> Entry(ev(ops.RangeJoin.sessionConcurrency(_)),
      // naive quadratic overlap self-join ≡ the bucket-decomposed range join
      Mirror(SessionConcurrencySql)),
    // daily peak live-session count off the SAME rank-sweep pass (the
    // naive point-in-interval mirror certifies the sweep's step maxima)
    "q_peak_concurrency" -> Entry(ev(ops.RangeJoin.peakConcurrency(_)),
      Mirror(PeakConcurrencySql)),
    "q_running_revenue" -> Entry(ev(WindowedQueries.runningRevenue), Mirror(
      """WITH d AS (
         |  SELECT CAST(ts AS DATE) AS event_date,
         |    sum(CAST(value AS DECIMAL(18,6))) AS rev
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
         |SELECT event_date,
         |  CAST(round(rev, 2) AS DOUBLE) AS total_revenue,
         |  CAST(round(sum(rev) OVER (ORDER BY event_date
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_total,
         |  floor((CAST(sum(rev) OVER w7 AS DOUBLE) / count(*) OVER w7) * 100 + 0.5) / 100 AS ma7_revenue,
         |  CAST(round(rev - lag(rev) OVER (ORDER BY event_date), 2) AS DOUBLE) AS delta_revenue
         |FROM d
         |WINDOW w7 AS (ORDER BY event_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY event_date""".stripMargin)),
    "q_sliding_revenue" -> Entry(ev(WindowedQueries.slidingRevenue),
      // hopping 2d/1d windows: every purchase lands in exactly the windows
      // starting on its day and the day before (epoch-aligned UTC days)
      Mirror(SlidingRevenueSql)),
    // ---- join/agg coverage on the star schema ----
    "q_pricing_summary" -> Entry(
      table("lineitem")(RelationalQueries.pricingSummary),
      Mirror(
      """SELECT l_returnflag, l_linestatus,
         |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
         |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
         |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
         |  floor((CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 100 + 0.5) / 100 AS avg_qty,
         |  floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 100 + 0.5) / 100 AS avg_price,
         |  count(*) AS count_order
         |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    "q_top_selling_brands" -> Entry((s, dir) => RelationalQueries.topBrandRevenue(
      Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "part")), Mirror(
      s"""SELECT p_brand, $Rev AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY revenue DESC, p_brand LIMIT 10""".stripMargin)),
    "q_revenue_by_nation" -> Entry((s, dir) => RelationalQueries.revenueByNation(
      Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "orders"),
      Sources.table(s, dir, "customer"), Sources.table(s, dir, "nation")),
      Mirror(RevenueByNationSql)),
    // salted-join twin: shares q_revenue_by_nation's oracle verbatim — the
    // hash gate proves Skew.saltedJoin ≡ the plain join on real data
    "q_revenue_by_nation_salted" -> Entry((s, dir) =>
      RelationalQueries.revenueByNationSalted(
        Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "orders"),
        Sources.table(s, dir, "customer"), Sources.table(s, dir, "nation")),
      Mirror(RevenueByNationSql)),
    "q_top_orders" -> Entry((s, dir) => RelationalQueries.topOrders(
      Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "orders"),
      Sources.table(s, dir, "customer")), Mirror(
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date, $Rev AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    // TPC-H Q17 shape: correlated scalar subquery decorrelated into an
    // aggregate + shuffle-hash self-join (never a per-row probe)
    "q_small_qty_revenue" -> Entry((s, dir) => RelationalQueries
      .smallQuantityRevenue(Sources.table(s, dir, "lineitem"),
        Sources.table(s, dir, "part")),
      // whole-number quantities → exact double sums → identical thresholds
      Mirror(
      s"""WITH t AS (
         |  SELECT l_partkey, CAST(0.2 AS DOUBLE) * avg(l_quantity) AS thr
         |  FROM lineitem GROUP BY 1)
         |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_small,
         |  $Rev AS small_revenue
         |FROM lineitem l
         |JOIN t USING (l_partkey)
         |JOIN part ON p_partkey = l_partkey
         |WHERE l_quantity < thr
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_order_priority" -> Entry((s, dir) => RelationalQueries.orderPriority(
      Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "orders")),
      Mirror(
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
         |WHERE EXISTS (SELECT 1 FROM lineitem
         |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // TPC-H Q15 shape: agg materialized once (localCheckpoint), max as a
    // broadcast scalar — never a global window sort
    "q_top_supplier" -> Entry((s, dir) => RelationalQueries.topSupplier(
      Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "supplier")),
      Mirror(
      s"""WITH rev AS (
         |  SELECT l_suppkey, $Rev AS total_revenue FROM lineitem
         |  WHERE l_shipdate >= DATE '${RelationalQueries.TopSupplierFrom}'
         |    AND l_shipdate < DATE '${RelationalQueries.TopSupplierUntil}'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin)),
    // TPC-H Q13 shape: orders pre-aggregated before the customer join;
    // coalesce(n, 0) keeps the zero-order customers
    "q_order_count_dist" -> Entry((s, dir) => RelationalQueries
      .orderCountDistribution(Sources.table(s, dir, "customer"),
        Sources.table(s, dir, "orders")), Mirror(
      """WITH per AS (
         |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
         |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         |  GROUP BY 1)
         |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
         |FROM per GROUP BY 1
         |ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    // TPC-H Q16 shape: distinct fact pairs first, anti-join the deficit
    // suppliers, count distinct per (brand, size)
    "q_supplier_variety" -> Entry((s, dir) => RelationalQueries.supplierVariety(
      Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "part"),
      Sources.table(s, dir, "supplier")), Mirror(
      """SELECT p_brand, p_size,
         |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE NOT EXISTS (SELECT 1 FROM supplier
         |  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
         |GROUP BY 1, 2
         |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin)),
    // TPC-H Q22 shape: cross-multiplied exact-decimal threshold (never a
    // divided average), anti-join on the distinct order custkeys
    "q_idle_rich_customers" -> Entry((s, dir) => RelationalQueries
      .idleRichCustomers(Sources.table(s, dir, "customer"),
        Sources.table(s, dir, "orders")),
      // cross-multiplied threshold: exact decimal on both sides, no division
      Mirror(
      s"""WITH stats AS (
         |  SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS s,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM customer WHERE c_acctbal > 0)
         |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
         |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
         |    AS totacctbal
         |FROM customer, stats
         |WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n > s
         |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |    AND o_orderdate >= DATE '${RelationalQueries.IdleRichSince}')
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // TPC-H Q7 flavour: supplier-nation vs customer-nation revenue share
    "q_local_supply_share" -> Entry((s, dir) => RelationalQueries.localSupplyShare(
      Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "orders"),
      Sources.table(s, dir, "customer"), Sources.table(s, dir, "supplier"),
      Sources.table(s, dir, "nation")), Mirror(
      s"""WITH base AS (
         |  SELECT n_name,
         |    COALESCE(CAST(round(sum(CAST(CASE WHEN s_nationkey = c_nationkey
         |        THEN l_extendedprice * (1 - l_discount) END
         |      AS DECIMAL(18,6))), 2) AS DOUBLE), 0.0) AS local_revenue,
         |    $Rev AS total_revenue
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  GROUP BY 1)
         |SELECT n_name, local_revenue, total_revenue,
         |  floor(local_revenue / total_revenue * 10000 + 0.5) / 10000
         |    AS local_share
         |FROM base ORDER BY n_name""".stripMargin)),
    // TPC-H Q14 shape: conditional promo/total sums in one aggregate pass
    "q_promo_revenue_share" -> Entry((s, dir) => RelationalQueries
      .promoRevenueShare(Sources.table(s, dir, "lineitem"),
        Sources.table(s, dir, "part")),
      // the share divides the ALREADY-materialized rounded doubles of the
      // subquery — the same op order as Spark's withColumn over the aggregate
      Mirror(
      s"""WITH base AS (
         |  SELECT CAST(year(l_shipdate) AS INT) AS yr,
         |    CAST(month(l_shipdate) AS INT) AS mo,
         |    COALESCE(CAST(round(sum(CAST(CASE WHEN p_type = 'PROMO'
         |        THEN l_extendedprice * (1 - l_discount) END
         |      AS DECIMAL(18,6))), 2) AS DOUBLE), 0.0) AS promo_revenue,
         |    $Rev AS total_revenue
         |  FROM lineitem JOIN part ON p_partkey = l_partkey
         |  GROUP BY 1, 2)
         |SELECT yr, mo, promo_revenue, total_revenue,
         |  floor(promo_revenue / total_revenue * 10000 + 0.5) / 10000
         |    AS promo_share
         |FROM base ORDER BY yr, mo""".stripMargin)),
    // TPC-H Q8 shape: yearly nation market share within a customer region
    "q_market_share" -> Entry((s, dir) => RelationalQueries.marketShare(
      Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "orders"),
      Sources.table(s, dir, "customer"), Sources.table(s, dir, "supplier"),
      Sources.table(s, dir, "nation"), Sources.table(s, dir, "region")), Mirror(
      s"""WITH base AS (
         |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
         |    COALESCE(CAST(round(sum(CAST(CASE WHEN
         |        n2.n_name = '${RelationalQueries.MarketShareNation}'
         |        THEN l_extendedprice * (1 - l_discount) END
         |      AS DECIMAL(18,6))), 2) AS DOUBLE), 0.0) AS nation_revenue,
         |    $Rev AS total_revenue
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |  JOIN region ON n1.n_regionkey = r_regionkey
         |    AND r_name = '${RelationalQueries.MarketShareRegion}'
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |  GROUP BY 1)
         |SELECT yr, nation_revenue, total_revenue,
         |  floor(nation_revenue / total_revenue * 10000 + 0.5) / 10000
         |    AS mkt_share
         |FROM base ORDER BY yr""".stripMargin)),
    // TPC-H Q5 shape: local-supplier revenue per nation within a region
    // (the local constraint rides the supplier join condition)
    "q_regional_revenue" -> Entry((s, dir) => RelationalQueries.regionalRevenue(
      Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "orders"),
      Sources.table(s, dir, "customer"), Sources.table(s, dir, "supplier"),
      Sources.table(s, dir, "nation"), Sources.table(s, dir, "region")),
      // Q5 mirror: the standard SQL statement of the 6-table chain with
      // the local-supplier equality; join order is Spark's concern
      Mirror(
      s"""SELECT n_name, $Rev AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |  AND s_nationkey = c_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = '${RelationalQueries.RegionalRegion}'
         |  AND o_orderdate >= DATE '${RelationalQueries.RegionalFrom}'
         |  AND o_orderdate < DATE '${RelationalQueries.RegionalUntil}'
         |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin)),
    // TPC-H Q6 shape: the no-join fully-pushed-down quantified aggregate
    "q_revenue_delta" -> Entry(
      table("lineitem")(RelationalQueries.revenueDelta(_)),
      // Q6 mirror: bare quantified aggregate; discount bounds compare the
      // stored doubles verbatim (DuckDB's decimal literals convert to the
      // identical doubles)
      Mirror(
      s"""SELECT
         |  CAST(round(sum(CAST(l_extendedprice * l_discount
         |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS forecast_delta,
         |  CAST(count(*) AS BIGINT) AS n_items
         |FROM lineitem
         |WHERE l_shipdate >= DATE '${RelationalQueries.DeltaFrom}'
         |  AND l_shipdate < DATE '${RelationalQueries.DeltaUntil}'
         |  AND l_discount >= ${RelationalQueries.DeltaDiscLo}
         |  AND l_discount <= ${RelationalQueries.DeltaDiscHi}
         |  AND l_quantity < ${RelationalQueries.DeltaQtyMax}""".stripMargin)),
    // TPC-H Q9 shape: profit rollup by supplier nation and order year
    "q_profit_by_nation_year" -> Entry((s, dir) => RelationalQueries
      .profitByNationYear(Sources.table(s, dir, "lineitem"),
        Sources.table(s, dir, "orders"), Sources.table(s, dir, "supplier"),
        Sources.table(s, dir, "part"), Sources.table(s, dir, "nation")), Mirror(
      """SELECT n_name AS supp_nation, CAST(year(o_orderdate) AS INT) AS yr,
         |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
         |    - p_retailprice * l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
         |    AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // TPC-H Q19 shape: OR-of-ANDs with derived single-side pushdowns
    "q_disjunctive_revenue" -> Entry((s, dir) => RelationalQueries
      .disjunctiveRevenue(Sources.table(s, dir, "lineitem"),
        Sources.table(s, dir, "part")),
      // the OR-of-ANDs is GENERATED from RelationalQueries.DisjunctWindows —
      // the mirror states only the disjunction; Spark additionally pushes the
      // derived single-side envelopes, and the hash gate certifies they are
      // implied (lossless)
      Mirror(
      s"""SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
         |  $Rev AS disc_revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE ${RelationalQueries.disjunctSql}
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // SCD2 as-of dimension join: equi-key + validity-window range filter,
    // per-key fan-out bounded by version count
    "q_scd2_join" -> Entry((s, dir) => RelationalQueries.scd2Revenue(
      Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "part")),
      // the dim CTE mirrors partPriceHistory's deterministic construction;
      // dates compare as DATE on both sides
      Mirror(
      s"""WITH dim AS (
         |  SELECT p_partkey, 'v1' AS version,
         |    p_retailprice * ${RelationalQueries.Scd2V1Factor} AS price,
         |    DATE '${RelationalQueries.Scd2From}' AS valid_from,
         |    DATE '${RelationalQueries.Scd2Split}' AS valid_to
         |  FROM part
         |  UNION ALL
         |  SELECT p_partkey, 'v2', p_retailprice,
         |    DATE '${RelationalQueries.Scd2Split}',
         |    DATE '${RelationalQueries.Scd2To}'
         |  FROM part)
         |SELECT version, CAST(year(l_shipdate) AS INT) AS yr,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(round(sum(CAST(price * l_quantity AS DECIMAL(18,6))), 2)
         |    AS DOUBLE) AS hist_revenue
         |FROM lineitem JOIN dim ON p_partkey = l_partkey
         |  AND CAST(l_shipdate AS DATE) >= valid_from
         |  AND CAST(l_shipdate AS DATE) < valid_to
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // TPC-H Q10 shape: returned-item revenue, quarter pushed below the
    // fact-fact join, top-k as TakeOrderedAndProject
    "q_returned_items" -> Entry((s, dir) => RelationalQueries.returnedItems(
      Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "orders"),
      Sources.table(s, dir, "customer"), Sources.table(s, dir, "nation")),
      // Q10 mirror: same quarter window + returnflag filter; the pushed-
      // predicate join order is Spark's concern — the SQL states semantics.
      Mirror(
      s"""SELECT c_custkey, c_name, c_acctbal, n_name, $Rev AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= DATE '${RelationalQueries.ReturnedFrom}'
         |  AND o_orderdate < DATE '${RelationalQueries.ReturnedUntil}'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),
    // TPC-H Q12 shape (latency-bucketed): both priority counts in one pass
    "q_ship_latency_priority" -> Entry((s, dir) => RelationalQueries
      .shipLatencyPriority(Sources.table(s, dir, "lineitem"),
        Sources.table(s, dir, "orders")),
      // Q12-shape mirror: both conditional counts in one aggregate; NULL
      // priorities fall to the ELSE 0 bucket exactly like Spark's
      // when(!critical,...).otherwise(0).
      Mirror(
      s"""SELECT CASE
         |    WHEN date_diff('day', CAST(o_orderdate AS DATE),
         |      CAST(l_shipdate AS DATE)) <= 30 THEN '0-30'
         |    WHEN date_diff('day', CAST(o_orderdate AS DATE),
         |      CAST(l_shipdate AS DATE)) <= 90 THEN '31-90'
         |    ELSE '90+' END AS latency_bucket,
         |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
         |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // TPC-H Q18 shape: HAVING pre-aggregation on the join key, exact-
    // decimal threshold
    "q_large_orders" -> Entry((s, dir) => RelationalQueries.largeOrders(
      Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "orders"),
      Sources.table(s, dir, "customer")),
      // Q18-shape mirror: HAVING threshold compares the EXACT decimal sum
      // (never the rounded display double), so boundary orders classify
      // identically; sum_qty rounds after via the shared floor trick.
      Mirror(
      s"""WITH t AS (
         |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,6))) AS q
         |  FROM lineitem GROUP BY 1)
         |SELECT c_name, c_custkey, o_orderkey,
         |  CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
         |  ${Exprs.round2Sql("CAST(q AS DOUBLE)")} AS sum_qty
         |FROM t
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE q > ${RelationalQueries.LargeOrderQty}
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),
    // TPC-H Q21 shape: EXISTS/NOT-EXISTS decomposed into one per-order
    // distinct-supplier aggregate (mirror keeps the correlated form — the
    // hash gate certifies the decomposition)
    "q_waiting_suppliers" -> Entry((s, dir) => RelationalQueries.waitingSuppliers(
      Sources.table(s, dir, "lineitem"), Sources.table(s, dir, "orders"),
      Sources.table(s, dir, "supplier")),
      // Q21-shape mirror: states the ORIGINAL correlated EXISTS/NOT-EXISTS
      // pair, so the hash gate certifies the Spark side's one-pass
      // distinct-supplier aggregation decomposition ≡ EXISTS semantics
      // (including the same-supplier-twice-late edge).
      Mirror(
      s"""SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
         |FROM lineitem l1
         |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
         |JOIN supplier ON s_suppkey = l1.l_suppkey
         |WHERE date_diff('day', CAST(o_orderdate AS DATE),
         |    CAST(l1.l_shipdate AS DATE)) > ${RelationalQueries.WaitingLateDays}
         |  AND EXISTS (SELECT 1 FROM lineitem l2
         |    WHERE l2.l_orderkey = l1.l_orderkey
         |      AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
         |    WHERE l3.l_orderkey = l1.l_orderkey
         |      AND l3.l_suppkey <> l1.l_suppkey
         |      AND date_diff('day', CAST(o_orderdate AS DATE),
         |        CAST(l3.l_shipdate AS DATE)) > ${RelationalQueries.WaitingLateDays})
         |GROUP BY 1
         |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)),
    // ---- lakehouse maintenance: MV refresh / upsert / erasure / CDC ----
    // incremental materialized view: three disjoint event slices folded
    // through MaterializedView.mergeSums must reproduce the batch
    // recompute BIT-IDENTICALLY — shares q_daily_revenue's oracle
    // verbatim (the shared-oracle equivalence certificate)
    "q_mv_incremental" -> Entry(ev(e => {
      val s = e.sparkSession
      val tmp = java.nio.file.Files.createTempDirectory("graft-mv")
      val mv = tmp.toString + "/daily_revenue_mv"
      try {
        (0 until 3).foreach { slice =>
          sink.MaterializedView.mergeSums(
            sink.MaterializedView.dailyRevenueDelta(
              e.filter(pmod(col("event_id"), lit(3L)) === slice)),
            mv, Seq("event_date"), Seq("partial"))
        }
        sink.MaterializedView.dailyRevenue(s, mv).localCheckpoint(true)
      } finally Fs.deleteRecursively(tmp)
    }),
      // incremental MV refresh shares the batch recompute's oracle VERBATIM:
      // the hash gate certifies three partial-aggregate merges fold to the
      // bit-identical daily totals (decimal addition is associative)
      Mirror(DailyRevenueSql)),
    // the STREAMING maintainer of the same view: a file stream delivers
    // the events in three micro-batches, foreachBatch folds each through
    // the EXACTLY-ONCE mergeSumsOnce (batch ledger rides the view's atomic
    // swap, so replays are no-ops) — third member of q_daily_revenue's
    // shared-oracle family: stream-maintained MV ≡ batch recompute
    "q_stream_mv_incremental" -> Entry((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-smv")
      val src = tmp.toString + "/src"
      val mv = tmp.toString + "/daily_revenue_mv"
      val ck = tmp.toString + "/ck"
      try {
        val e = Sources.events(s, dir)
        // three files -> three micro-batches (any row split works: the
        // fold is associative and the ledger de-duplicates replays)
        e.repartition(3).write.parquet(src)
        val schema = s.read.parquet(src).schema
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
        val q = stream.writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            sink.MaterializedView.mergeSumsOnce(
              sink.MaterializedView.dailyRevenueDelta(b), mv, id,
              Seq("event_date"), Seq("partial"))
            ()
          }
          .option("checkpointLocation", ck)
          .start()
        try q.processAllAvailable() finally q.stop()
        sink.MaterializedView.dailyRevenue(s, mv).localCheckpoint(true)
      } finally Fs.deleteRecursively(tmp)
    }, Mirror(DailyRevenueSql)),
    // MERGE-INTO semantics end-to-end: seed a year-partitioned order
    // snapshot, upsert a price-bumped update batch (only partitions
    // carrying updated keys rewrite), read the merged table back — the
    // mirror states the merge declaratively (CASE on the update rule)
    "q_merge_upsert" -> Entry((s, dir) => {
      val orders = Sources.table(s, dir, "orders")
      val tmp = java.nio.file.Files.createTempDirectory("graft-merge")
      val path = tmp.toString + "/orders_snap"
      try {
        val base = orders.select(col("o_orderkey"),
          year(col("o_orderdate")).as("o_year"),
          col("o_totalprice").as("price"))
        Sinks.upsertParquetPartitioned(base, path, Seq("o_orderkey"), "o_year")
        val updates = base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("price", Exprs.round2(col("price") * 1.05))
        Sinks.upsertParquetPartitioned(updates, path,
          Seq("o_orderkey"), "o_year")
        s.read.parquet(path).localCheckpoint(true)
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_orders"),
            Exprs.moneySum(col("price")).as("total_price"))
          .orderBy("o_year")
      } finally Fs.deleteRecursively(tmp)
    },
      // the merge stated declaratively: the upsert's update rule as a CASE
      Mirror(
      s"""WITH merged AS (
         |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         |    CASE WHEN o_orderkey % 7 = 0
         |      THEN ${Exprs.round2Sql("o_totalprice * CAST(1.05 AS DOUBLE)")}
         |      ELSE o_totalprice END AS price
         |  FROM orders)
         |SELECT o_year, count(*) AS n_orders,
         |  ${Exprs.moneySumSql("price")} AS total_price
         |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin)),
    // right-to-be-forgotten: erase the 3 smallest user ids from a
    // user-bucketed copy, rewriting ONLY their bucket directories
    // (partition-pruned; untouched buckets byte-identical, spec-pinned);
    // the mirror is the plain NOT IN over the source table
    "q_user_erasure" -> Entry(ev(e => {
      val s = e.sparkSession
      val tmp = java.nio.file.Files.createTempDirectory("graft-erase")
      val path = tmp.toString + "/events_by_user"
      try {
        e.withColumn("bucket", pmod(col("user_id"), lit(16L)))
          .write.partitionBy("bucket").parquet(path)
        val keys = e.select("user_id").where(col("user_id").isNotNull)
          .distinct().orderBy("user_id").limit(3)
          .collect().map(_.getLong(0)).toSeq
        Sinks.eraseKeysPartitioned(s, path, "user_id", keys, "bucket",
          k => java.lang.Math.floorMod(k, 16L))
        s.read.parquet(path).localCheckpoint(true)
          .groupBy(to_date(col("ts")).as("event_date"))
          .agg(count(lit(1)).as("n_events"),
            Exprs.moneySum(when(col("event_type") === "purchase",
              col("value"))).as("revenue"))
          .orderBy("event_date")
      } finally Fs.deleteRecursively(tmp)
    }),
      // the erasure stated declaratively (NOT IN over the source table);
      // equivalent to the partition-pruned rewrite because user_id is
      // null-free here — the op itself KEEPS null keys (spec-pinned)
      Mirror(
      s"""WITH erased AS (
         |  SELECT DISTINCT user_id FROM events
         |  WHERE user_id IS NOT NULL ORDER BY user_id LIMIT 3)
         |SELECT CAST(ts AS DATE) AS event_date,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  ${Exprs.moneySumSql(
               "CASE WHEN event_type = 'purchase' THEN value END")} AS revenue
         |FROM events WHERE user_id NOT IN (SELECT user_id FROM erased)
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // CDC backfill: diff two dimension snapshots into the change stream
    // they imply (full-outer sort-merge on the key, null-safe compares)
    "q_snapshot_diff" -> Entry((s, dir) => {
      val (cust, newSnap) = custSnapshots(s, dir)
      ops.Cdc.snapshotDiff(cust, newSnap, Seq("c_custkey"),
          Seq("c_acctbal", "c_mktsegment"))
        .filter(col("change_type") =!= "unchanged")
        .orderBy("c_custkey")
    },
      // key-presence via o/n.c_custkey IS NULL is sound here because the
      // join key is never null (the Scala op uses explicit presence markers
      // and stays correct for null keys)
      Mirror(
      """WITH newsnap AS (
         |  SELECT c_custkey,
         |    c_acctbal + CASE WHEN c_custkey % 13 = 0
         |      THEN CAST(10.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
         |      AS c_acctbal,
         |    c_mktsegment
         |  FROM customer WHERE c_custkey % 17 <> 0
         |  UNION ALL
         |  SELECT c_custkey + 10000000, CAST(0.0 AS DOUBLE), 'NEW'
         |  FROM customer WHERE c_custkey % 19 = 0),
         |d AS (
         |  SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
         |    CASE WHEN o.c_custkey IS NULL THEN 'insert'
         |         WHEN n.c_custkey IS NULL THEN 'delete'
         |         WHEN o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal
         |          AND o.c_mktsegment IS NOT DISTINCT FROM n.c_mktsegment
         |           THEN 'unchanged'
         |         ELSE 'update' END AS change_type
         |  FROM customer o FULL OUTER JOIN newsnap n
         |    ON o.c_custkey = n.c_custkey)
         |SELECT c_custkey, change_type FROM d
         |WHERE change_type <> 'unchanged' ORDER BY c_custkey""".stripMargin)),
    // the CDC round-trip law: applying the diff-derived change stream to
    // the OLD snapshot must reproduce the NEW snapshot row-for-row — the
    // mirror states the new snapshot's definition DIRECTLY, so the hash
    // gate certifies applyChanges ∘ snapshotChanges ≡ identity
    "q_cdc_apply" -> Entry((s, dir) => {
      val (cust, newSnap) = custSnapshots(s, dir)
      val changes = ops.Cdc.snapshotChanges(cust, newSnap,
        Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"))
      ops.Cdc.applyChanges(cust, changes,
          Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"))
        .orderBy("c_custkey")
    },
      // applyChanges ∘ snapshotChanges ≡ identity: the mirror states the NEW
      // snapshot's definition DIRECTLY, never mentioning the diff — a
      // reconstruction defect anywhere in the CDC pair breaks the hash
      Mirror(
      """SELECT c_custkey,
         |  c_acctbal + CASE WHEN c_custkey % 13 = 0
         |    THEN CAST(10.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
         |    AS c_acctbal,
         |  c_mktsegment
         |FROM customer WHERE c_custkey % 17 <> 0
         |UNION ALL
         |SELECT c_custkey + 10000000, CAST(0.0 AS DOUBLE), 'NEW'
         |FROM customer WHERE c_custkey % 19 = 0
         |ORDER BY c_custkey""".stripMargin)),
    // ---- training-data pipeline: dedup / text / similarity / multimodal ----
    "q_dedup_exact" -> Entry(docs(Dedup.exactDedup), Mirror(
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
         |FROM documents GROUP BY 1 ORDER BY keeper_id""".stripMargin)),
    "q_ngram_jaccard" -> Entry(docs(Dedup.ngramJaccardTopPairs(_)),
      // `kept` mirrors Spark's maxShingleDf document-frequency cap
      // (Dedup.MaxShingleDf, interpolated): both engines drop shingles above
      // the cap BEFORE sizes/intersections, so the hash gate holds even when
      // a corpus actually hits it; shingle width likewise interpolates from
      // Dedup.JaccardShingleWidth (5 — the measured linear-scale width)
      Mirror(
      s"""$JaccardPairsCte
         |SELECT doc1, doc2,
         |  floor((CAST(common AS DOUBLE) / (s1.sz + s2.sz - common)) * 1000000 + 0.5) / 1000000 AS jaccard
         |FROM inter JOIN sz s1 ON doc1 = s1.doc_id JOIN sz s2 ON doc2 = s2.doc_id
         |ORDER BY jaccard DESC, doc1, doc2 LIMIT 20""".stripMargin)),
    // directed containment C(src→dst) = |∩|/|sh(src)| — the excerpt/quote
    // signal symmetric Jaccard misses; same DF-capped candidate machinery
    "q_containment_pairs" -> Entry(docs(Dedup.containmentTopPairs(_)),
      // directed containment from the SAME undirected intersection CTE —
      // each unordered pair mirrors as two directed rows, divided by the
      // SOURCE's kept-shingle count (int/int IEEE division, engine-exact)
      Mirror(
      s"""$JaccardPairsCte,
         |dinter AS (
         |  SELECT doc1 AS src_doc, doc2 AS dst_doc, common FROM inter
         |  UNION ALL
         |  SELECT doc2, doc1, common FROM inter)
         |SELECT src_doc, dst_doc, CAST(s.sz AS BIGINT) AS src_sz,
         |  CAST(d.sz AS BIGINT) AS dst_sz, CAST(common AS BIGINT) AS common,
         |  floor(CAST(common AS DOUBLE) / s.sz * 1000000 + 0.5) / 1000000
         |    AS containment,
         |  floor(CAST(common AS DOUBLE) / d.sz * 1000000 + 0.5) / 1000000
         |    AS reverse_containment
         |FROM dinter JOIN sz s ON src_doc = s.doc_id
         |JOIN sz d ON dst_doc = d.doc_id
         |ORDER BY containment DESC, src_doc, dst_doc LIMIT 20""".stripMargin)),
    // PPJoin-style prefix-filtered exact Jaccard at t=1/2: candidates
    // only from each doc's RAREST shingles, certified lossless by the
    // NAIVE all-shared-shingles mirror (shared-oracle equivalence) —
    // the corpus-scale exact-verify candidate scheme
    "q_jaccard_prefix" -> Entry(docs(Dedup.prefixJaccardPairs(_)),
      // the NAIVE all-shared-shingles join filtered at the INTEGER
      // threshold — certifying the prefix-filtered candidate scheme finds
      // exactly the ≥-t pair set (shared-oracle equivalence)
      Mirror(
      s"""$JaccardPairsCte
         |SELECT doc1, doc2, CAST(s1.sz AS BIGINT) AS sz1,
         |  CAST(s2.sz AS BIGINT) AS sz2, CAST(common AS BIGINT) AS common,
         |  floor((CAST(common AS DOUBLE) / (s1.sz + s2.sz - common))
         |    * 1000000 + 0.5) / 1000000 AS jaccard
         |FROM inter JOIN sz s1 ON doc1 = s1.doc_id
         |JOIN sz s2 ON doc2 = s2.doc_id
         |WHERE ${ext.Dedup.PrefixTDen + ext.Dedup.PrefixTNum} * common
         |  >= ${ext.Dedup.PrefixTNum} * (s1.sz + s2.sz)
         |ORDER BY doc1, doc2""".stripMargin)),
    // TF-IDF-weighted cosine pairs: the weighted lexical near-dup signal
    // (rare shared vocabulary scores high); idf is a driver-computed
    // milli-nat table over the ONE corpus-size scalar, replayed VALUES
    "q_tfidf_pairs" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
      val n = tfidfN.serve(dir)(d.filter(col("text").isNotNull).count())
      Dedup.tfidfTopPairs(d, Dedup.idfTable(n))
    },
      // driver-computed idf VALUES over the cached corpus-size scalar
      Mirror(tfidfPairsSql)),
    // threshold-sweep curve: pairs per 0.1 jaccard bucket + cumulative
    // from above — the report that picks the dedup threshold
    "q_jaccard_curve" -> Entry(docs(Dedup.jaccardThresholdCurve(_)),
      // buckets floor the same 6dp-rounded jaccard; the cumulative window
      // runs on the <=11 bucket rows in both engines
      Mirror(
      s"""$JaccardPairsCte,
         |p AS (
         |  SELECT floor((CAST(common AS DOUBLE) / (s1.sz + s2.sz - common))
         |           * 1000000 + 0.5) / 1000000 AS jaccard
         |  FROM inter JOIN sz s1 ON doc1 = s1.doc_id
         |  JOIN sz s2 ON doc2 = s2.doc_id),
         |b AS (
         |  SELECT floor(jaccard * 10) / 10 AS j_bucket,
         |    CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM p GROUP BY 1)
         |SELECT j_bucket, n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY j_bucket DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS pairs_at_or_above
         |FROM b ORDER BY j_bucket""".stripMargin)),
    "q_dup_ngram_spans" -> Entry(docs(Dedup.dupNgramSpans(_)),
      // span-level duplicate detection: string 5-grams mirror Spark's hashed
      // positional windows (collision-free at these sizes, same argument as
      // q_ngram_jaccard); covered tokens via gaps-and-islands over duplicated
      // window starts — min(gap, width) newly covered per start
      Mirror(
      """WITH w AS (
         |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+4], ' ') AS sh
         |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
         |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |              WHERE len(string_split(text, ' ')) >= 5))),
         |dup AS (SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM w)
         |        GROUP BY sh HAVING count(*) >= 2),
         |gaps AS (SELECT doc_id,
         |           pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
         |         FROM w WHERE sh IN (SELECT sh FROM dup)),
         |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
         |          CAST(sum(CASE WHEN gap IS NULL THEN 5
         |                        ELSE LEAST(gap, 5) END) AS BIGINT) AS n_dup_tokens
         |        FROM gaps GROUP BY 1)
         |SELECT t.doc_id, t.n_tokens, t.n_tokens - 4 AS n_windows,
         |  COALESCE(c.n_dup_windows, 0) AS n_dup_windows,
         |  COALESCE(c.n_dup_tokens, 0) AS n_dup_tokens,
         |  floor(CAST(COALESCE(c.n_dup_tokens, 0) AS DOUBLE) / t.n_tokens * 100 + 0.5) / 100
         |    AS dup_token_share
         |FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |      FROM documents WHERE len(string_split(text, ' ')) >= 5) t
         |LEFT JOIN cov c ON t.doc_id = c.doc_id
         |ORDER BY t.doc_id""".stripMargin)),
    // substring-LEVEL exact dedup (Lee et al. 2021's suffix-array family
    // re-expressed as a distributable width-gram cover): one row per
    // MAXIMAL duplicated token range — exact 1-based extents + the
    // duplicated text. Mirror: gaps-and-islands over duplicated string
    // 5-grams, constants interpolated from Dedup
    "q_dup_substring_spans" -> Entry(docs(Dedup.dupSubstringSpans(_)),
      // substring-level span INVENTORY: gaps-and-islands over duplicated
      // window starts (merge when the start gap <= width — equal widths make
      // the previous start bound the running end), exact 1-based extents,
      // span text re-sliced from the token array (non-empty by construction,
      // so array_to_string ≡ concat_ws needs no null scoping). Width and the
      // df floor interpolate from Dedup (the shared-constant rule).
      Mirror({
      val w = ext.Dedup.DupSpanWidth
      val mdf = ext.Dedup.DupSpanMinDocFreq
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |w AS (
         |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+${w - 1}], ' ') AS sh
         |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${w - 1})) AS i
         |        FROM t WHERE len(toks) >= $w)),
         |dup AS (SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM w)
         |        GROUP BY sh HAVING count(*) >= $mdf),
         |g AS (SELECT doc_id, pos,
         |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |               <= $w THEN 0 ELSE 1 END AS new_span
         |      FROM w WHERE sh IN (SELECT sh FROM dup)),
         |s AS (SELECT doc_id, pos,
         |        sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
         |      FROM g),
         |sp AS (SELECT doc_id, min(pos) AS a, max(pos) + ${w - 1} AS e,
         |         CAST(count(*) AS BIGINT) AS n_windows
         |       FROM s GROUP BY doc_id, span_id)
         |SELECT sp.doc_id, CAST(a AS BIGINT) AS span_start,
         |  CAST(e AS BIGINT) AS span_end,
         |  CAST(e - a + 1 AS BIGINT) AS span_len, n_windows,
         |  array_to_string(t.toks[a:e], ' ') AS span_text
         |FROM sp JOIN t USING (doc_id)
         |ORDER BY doc_id, span_start""".stripMargin
    })),
    "q_dup_span_removal" -> Entry(docs(Dedup.removeDupSpans(_)),
      // span REMOVAL under the same window universe: the min-doc_id owner of
      // a duplicated 5-gram keeps all its occurrences, every other doc drops
      // every covered token; the cleaned text itself rides the hash gate.
      // 1-based positions throughout the mirror (Spark is 0-based throughout
      // its own pipeline; output carries no positions)
      Mirror(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |w AS (
         |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+4], ' ') AS sh
         |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
         |        FROM t WHERE len(toks) >= 5)),
         |own AS (SELECT sh, min(doc_id) AS owner FROM w GROUP BY sh
         |        HAVING count(DISTINCT doc_id) >= 2),
         |rem AS (SELECT DISTINCT doc_id, rpos FROM (
         |          SELECT w.doc_id, unnest(generate_series(w.pos, w.pos + 4)) AS rpos
         |          FROM w JOIN own ON w.sh = own.sh AND w.doc_id <> own.owner)),
         |tokpos AS (SELECT doc_id, i AS pos, toks[i] AS tok
         |           FROM (SELECT doc_id, toks,
         |                   unnest(generate_series(1, len(toks))) AS i FROM t)),
         |ct AS (SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.pos) AS clean_text
         |       FROM tokpos tp LEFT JOIN rem r
         |         ON tp.doc_id = r.doc_id AND tp.pos = r.rpos
         |       WHERE r.rpos IS NULL GROUP BY 1),
         |nr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM rem GROUP BY 1)
         |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |  COALESCE(nr.n_removed, 0) AS n_removed,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE COALESCE(ct.clean_text, '') END AS clean_text
         |FROM documents d LEFT JOIN ct ON d.doc_id = ct.doc_id
         |LEFT JOIN nr ON d.doc_id = nr.doc_id
         |ORDER BY d.doc_id""".stripMargin)),
    "q_dup_clusters" -> Entry(docs(Dedup.dupClusters(_)),
      // connected components over the jaccard >= 0.5 pair graph (same
      // DF-capped pairs as q_ngram_jaccard, same 6dp rounding before the
      // threshold so both engines draw the identical edge set); min reachable
      // doc_id labels the cluster, reach cardinality is the component size.
      // The star variant must produce the IDENTICAL labeling (both engines
      // label with the component min), so it shares the oracle verbatim —
      // a hash-matched equivalence proof of the two CC algorithms.
      Mirror(DupClustersSql)),
    "q_cluster_keepers" -> Entry(docs(Dedup.clusterKeepers(_)),
      // keeper policy over the same reachability clusters: longest member
      // wins, doc_id tiebreak
      Mirror(
      s"""SELECT cluster_id, doc_id AS keeper_id, cluster_size FROM (
         |  SELECT c.cluster_id, c.doc_id, c.cluster_size,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY len(string_split(d.text, ' ')) DESC, c.doc_id) AS rk
         |  FROM ($DupClustersSql) c JOIN documents d USING (doc_id))
         |WHERE rk = 1 ORDER BY cluster_id""".stripMargin)),
    "q_dup_clusters_star" -> Entry(docs(Dedup.dupClustersStar(_)),
      Mirror(DupClustersSql)),
    "q_minhash_neardups" -> Entry(docs(Dedup.minhashNearDups(_)),
      NoOracle("minhash banding recall is hash-dependent")),
    // the 100 TB clustering path: LSH candidate edges (exact-verified) →
    // connected components; no oracle (banding recall is hash-dependent)
    // — spec-pinned against the exact clustering on planted dups
    "q_dup_clusters_lsh" -> Entry(docs(Dedup.dupClustersLsh(_)),
      NoOracle("LSH banding recall is hash-dependent")),
    // incremental dedup against a persisted signature index: two
    // half-corpus increments into a FRESH per-invocation index (repeat
    // invocations must not accumulate state); no oracle (minhash-estimated
    // jaccard is hash-dependent) — ground truth via the DedupSpec
    // two-batch ≡ one-shot equivalence
    "q_minhash_incremental" -> Entry(docs(d => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-mhidx")
      val idx = tmp.toString + "/idx"
      try {
        // both increments are eagerly materialized (localCheckpoint) inside
        // minhashNearDupsIncremental, so the index is dead once `second`
        // returns — delete it here rather than leaking a copy per
        // invocation (Bench runs every entry twice, Verify once more)
        val first = Dedup.minhashNearDupsIncremental(
          d.filter(col("doc_id") % 2 === 0), idx)
        val second = Dedup.minhashNearDupsIncremental(
          d.filter(col("doc_id") % 2 =!= 0), idx)
        first.unionByName(second).orderBy("doc1", "doc2")
      } finally Fs.deleteRecursively(tmp)
    }), NoOracle("minhash-estimated jaccard is hash-dependent")),
    "q_simhash_neardups" -> Entry(docs(Dedup.simhashNearDups(_)),
      NoOracle("simhash bands are hash-dependent")),
    "q_token_stats" -> Entry(docs(TextOps.tokenStats), Mirror(
      """SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         |  floor((CAST(sum(n_chars) AS DOUBLE) / count(*)) * 100 + 0.5) / 100 AS avg_chars
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),
    // the dataset card: per-(source, lang) docs/tokens/diversity/dup rollup
    "q_corpus_card" -> Entry(docs(TextOps.corpusCard),
      // diversity is a RATIO OF INTEGER SUMS (one final division): a mean of
      // per-doc rounded doubles flipped a 4dp boundary between engines
      Mirror(
      """WITH s AS (SELECT source, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
         |      AS n_distinct,
         |    md5(text) AS digest
         |  FROM documents)
         |SELECT source, lang, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  floor((CAST(sum(n_distinct) AS DOUBLE) / sum(n_toks)) * 10000 + 0.5)
         |    / 10000 AS diversity,
         |  count(*) - count(DISTINCT digest) AS n_exact_dups
         |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    "q_doc_quality" -> Entry(docs(TextOps.qualityScores), Mirror(
      s"$DocQualitySelect ORDER BY doc_id")),
    // 2-D Pareto frontier (length × diversity) via the bounded
    // group-max + cummax decomposition; mirror is the naive NOT EXISTS
    "q_skyline_docs" -> Entry(docs(TextOps.skylineDocs),
      // the naive quadratic dominance query the skyline DECOMPOSITION
      // replaces — the gate certifies group-max + cummax ≡ NOT EXISTS,
      // ties included (scores from the shared DocQualitySelect rendering)
      // null-text docs excluded on BOTH sides: NULL metrics would make the
      // NOT EXISTS dominance vacuously true here while Spark's equi-join
      // drops them (null-text parity — the fuzzer's sweep found it)
      Mirror(
      s"""WITH q0 AS ($DocQualitySelect),
         |q AS (SELECT doc_id, n_tokens, lexical_diversity FROM q0
         |      WHERE n_tokens IS NOT NULL)
         |SELECT doc_id, n_tokens, lexical_diversity FROM q s
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM q o WHERE o.n_tokens >= s.n_tokens
         |    AND o.lexical_diversity >= s.lexical_diversity
         |    AND (o.n_tokens > s.n_tokens
         |         OR o.lexical_diversity > s.lexical_diversity))
         |ORDER BY n_tokens DESC, doc_id""".stripMargin)),
    // PMI-ranked collocations: exact-long-derived doubles (identical IEEE
    // bits both engines), so a statistical ranking rides the hash gate
    "q_collocations" -> Entry(docs(TextOps.collocations(_)),
      // identical double operation sequence as the Spark plan — every input
      // an exact long, so the lift (and its ordering) is bit-deterministic
      Mirror(
      s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
         |        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
         |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy FROM (
         |         SELECT toks[i] AS w1, toks[i + 1] AS w2
         |         FROM (SELECT toks,
         |                 unnest(generate_series(1, len(toks) - 1)) AS i
         |               FROM t WHERE len(toks) >= 2))
         |       GROUP BY 1, 2 HAVING count(*) >= ${TextOps.CollocMinCount}),
         |tot AS (SELECT (SELECT sum(c) FROM uni) AS n_tok,
         |               (SELECT sum(c_xy) FROM bi) AS n_bi)
         |SELECT b.w1, b.w2, b.c_xy,
         |  CAST(b.c_xy AS DOUBLE) * CAST(tt.n_tok AS DOUBLE)
         |    * CAST(tt.n_tok AS DOUBLE)
         |  / (CAST(tt.n_bi AS DOUBLE) * CAST(x.c AS DOUBLE)
         |     * CAST(y.c AS DOUBLE)) AS lift
         |FROM bi b
         |JOIN uni x ON x.w = b.w1
         |JOIN uni y ON y.w = b.w2
         |CROSS JOIN tot tt
         |ORDER BY lift DESC, w1, w2 LIMIT ${TextOps.CollocTopK}""".stripMargin)),
    // Heaps-law curve at 100 checkpoints: first-doc min aggregate +
    // ordinal equi-join + bounded bucket-frame cumsum
    "q_vocab_growth" -> Entry(docs(TextOps.vocabGrowth(_)),
      // row_number twin of the distributed doc ordinals; cumsum over the
      // 100-row checkpoint frame only
      Mirror(
      s"""WITH r AS (SELECT doc_id,
         |             row_number() OVER (ORDER BY doc_id) AS rn
         |           FROM documents),
         |n AS (SELECT count(*) AS n FROM documents),
         |db AS (SELECT doc_id, ((rn - 1) * ${TextOps.GrowthBuckets}) // n.n AS bucket
         |       FROM r CROSS JOIN n),
         |fd AS (SELECT w, min(doc_id) AS first_doc FROM (
         |         SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |         FROM documents)
         |       GROUP BY 1),
         |np AS (SELECT db.bucket, CAST(count(*) AS BIGINT) AS n_new_tokens
         |       FROM fd JOIN db ON fd.first_doc = db.doc_id GROUP BY 1),
         |be AS (SELECT bucket, max(doc_id) AS last_doc_id,
         |              CAST(count(*) AS BIGINT) AS n_docs
         |       FROM db GROUP BY 1)
         |SELECT be.bucket, be.last_doc_id, be.n_docs,
         |  CAST(COALESCE(np.n_new_tokens, 0) AS BIGINT) AS n_new_tokens,
         |  CAST(sum(COALESCE(np.n_new_tokens, 0)) OVER (ORDER BY be.bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_vocab
         |FROM be LEFT JOIN np USING (bucket) ORDER BY bucket""".stripMargin)),
    // MOSS winnowing fingerprint selection: md5-hex-string hashes, HOF
    // window minima over materialized arrays — zero shuffle to the report
    "q_winnowing" -> Entry(docs(TextOps.winnowingFingerprints),
      // winnowing selection: md5-hex-STRING hashes compare identically in
      // both engines ([0-9a-f] ASCII, binary collation); the window frame
      // CURRENT ROW..W-1 FOLLOWING truncates at doc end exactly like
      // Spark's slice clamp; width/window render from the shared constants
      Mirror(
      s"""WITH $WinnowFpCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints,
         |  min(fp) AS min_fp
         |FROM w GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    // the MOSS cross-document step: pairs sharing >= 2 distinct selected
    // fingerprints — pair detection on the winnowed SAMPLE (density
    // 2/(w+1)), DF-capped; shares the winnowing CTE prologue
    "q_winnowing_pairs" -> Entry(docs(TextOps.winnowingPairs),
      // the MOSS pair step over the SAME winnowing prologue (the shared-CTE
      // discipline): distinct selected fingerprints per doc, DF cap,
      // self-join, exact shared counts; thresholds render from the shared
      // constants
      Mirror(
      s"""WITH $WinnowFpCte,
         |f AS (SELECT DISTINCT doc_id, fp FROM w),
         |d AS (SELECT fp FROM f GROUP BY 1
         |      HAVING count(*) <= ${TextOps.WinnowPairMaxDf}),
         |kept AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp))
         |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM kept a JOIN kept b
         |  ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= ${TextOps.WinnowPairMinShared}
         |ORDER BY 1, 2""".stripMargin)),
    // α=0.5 multilingual temperature sampling: sqrt weights quantized to
    // 6dp fixed-point longs so the cross-lang total is order-independent
    "q_lang_temperature_mix" -> Entry(docs(TextOps.langTemperatureMix),
      // sqrt is correctly-rounded IEEE on exact long inputs; the 6dp
      // fixed-point quantization makes the cross-lang weight total an exact
      // long sum; alloc is pure integer arithmetic (// ≡ Spark div on the
      // non-negative numerator); budget renders from the shared constant
      Mirror(
      s"""WITH c AS (SELECT lang,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |w AS (SELECT lang, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
         |      AS BIGINT) AS w6 FROM c),
         |t AS (SELECT CAST(sum(w6) AS BIGINT) AS tot FROM w)
         |SELECT w.lang, w.n_tokens,
         |  CAST(w.w6 AS DOUBLE) / CAST(1000000 AS DOUBLE) AS weight,
         |  floor((CAST(w.w6 AS DOUBLE) / CAST(t.tot AS DOUBLE)) * 1000000
         |    + 0.5) / 1000000 AS share,
         |  (w.w6 * ${TextOps.MixBudgetTokens}) // t.tot AS alloc_tokens
         |FROM w CROSS JOIN t
         |ORDER BY lang NULLS LAST""".stripMargin)),
    // Gopher character/word-shape rules, round-then-compare thresholds
    "q_gopher_rules" -> Entry(docs(TextOps.gopherRules), Mirror(
      s"""SELECT doc_id,
         |  $GopherAlphaSql AS alpha_ratio,
         |  $GopherMwlSql AS mean_word_len,
         |  $GopherKeepSql AS keep
         |FROM documents ORDER BY doc_id""".stripMargin)),
    // per-source quality pass rates from the SAME shared verdict — the
    // "where does filtering budget go" report
    "q_gopher_by_source" -> Entry(docs(TextOps.gopherBySource),
      // thresholds render with the e0-suffix DOUBLE literal discipline (a
      // bare decimal literal converts DECIMAL→DOUBLE one ulp off); metrics
      // 4dp-rounded BEFORE comparison; null text → NULL metrics and a NULL
      // verdict in both engines; DuckDB 0/0 is NULL ≡ the Spark-side guard
      // the shared GopherKeepSql verdict aggregated per source: exact long
      // counts, one exact double division, 6dp floor-rounded
      Mirror(
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN $GopherKeepSql THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_keep,
         |  floor((CAST(sum(CASE WHEN $GopherKeepSql THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5)
         |    / 1000000 AS keep_rate
         |FROM documents WHERE text IS NOT NULL
         |GROUP BY 1 ORDER BY source NULLS LAST""".stripMargin)),
    // Kneser-Ney continuation counts over distinct bigram types
    "q_kn_continuations" -> Entry(docs(TextOps.knContinuations),
      // distinct bigram TYPES first, then the two continuation aggregates
      // full-outer-joined with 0 back-fill; (nl, nr, w) is a total order
      // (w unique per row) so the LIMIT boundary is deterministic
      Mirror(
      s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
         |bi AS (SELECT DISTINCT toks[i] AS w1, toks[i + 1] AS w2
         |       FROM (SELECT toks,
         |               unnest(generate_series(1, len(toks) - 1)) AS i
         |             FROM t WHERE len(toks) >= 2)),
         |l AS (SELECT w2 AS w, CAST(count(*) AS BIGINT) AS n_left_contexts
         |      FROM bi GROUP BY 1),
         |r AS (SELECT w1 AS w,
         |        CAST(count(*) AS BIGINT) AS n_right_continuations
         |      FROM bi GROUP BY 1)
         |SELECT COALESCE(l.w, r.w) AS w,
         |  CAST(COALESCE(l.n_left_contexts, 0) AS BIGINT) AS n_left_contexts,
         |  CAST(COALESCE(r.n_right_continuations, 0) AS BIGINT)
         |    AS n_right_continuations
         |FROM l FULL OUTER JOIN r ON l.w = r.w
         |ORDER BY n_left_contexts DESC, n_right_continuations DESC, w
         |LIMIT ${TextOps.KnTopK}""".stripMargin)),
    "q_quality_filter" -> Entry(docs(TextOps.qualityFilter(_)),
      // same rounded scores as q_doc_quality, compared against the
      // qualityFilter thresholds (15 tokens / 0.3 diversity / 0.02 stopword)
      Mirror(
      s"""WITH q AS ($DocQualitySelect)
         |SELECT doc_id,
         |  n_tokens < 15 AS too_short,
         |  lexical_diversity < 0.3 AS low_diversity,
         |  stopword_ratio < 0.02 AS low_stopword,
         |  NOT (n_tokens < 15 OR lexical_diversity < 0.3
         |       OR stopword_ratio < 0.02) AS kept
         |FROM q ORDER BY doc_id""".stripMargin)),
    // C4-style badwords gate; the blocked set is shared with the generated
    // mirror via TextOps.Blocklist/blocklistSql
    "q_blocklist_filter" -> Entry(docs(TextOps.blocklistFilter(_)),
      // blocked IN-set generated from TextOps.Blocklist (shared-constant
      // discipline); hits re-joined LEFT so block-free docs stay with 0/''
      Mirror(
      s"""WITH hit AS (
         |  SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |    FROM documents)
         |  WHERE tok IN (${TextOps.blocklistSql})),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocked,
         |    string_agg(DISTINCT tok, ',' ORDER BY tok) AS blocked_terms
         |  FROM hit GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(a.n_blocked, 0) AS BIGINT) AS n_blocked,
         |  COALESCE(a.blocked_terms, '') AS blocked_terms,
         |  a.doc_id IS NULL AS kept
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin)),
    // benchmark split by id residue: docs with doc_id % 25 == 0 play the
    // eval set, the rest the training corpus
    "q_contamination" -> Entry(docs(d => Decontaminate.contaminationReport(
      d.filter(col("doc_id") % 25 =!= 0), d.filter(col("doc_id") % 25 === 0))),
      // string shingles mirror Spark's hashed shingles (collision-free at
      // these set sizes, same argument as q_ngram_jaccard); bench = docs with
      // doc_id % 25 == 0, corpus = the rest, contamination = set containment
      // of the doc's distinct trigrams in the benchmark trigram union.
      // Shared verbatim with q_contamination_bloom: the bloom prefilter must
      // be output-lossless.
      Mirror(ContaminationSql)),
    // bloom-prefilter twin sharing q_contamination's oracle verbatim: the
    // sketch path is provably lossless (no false negatives; false
    // positives die in the exact confirm join)
    "q_contamination_bloom" -> Entry(docs(d => Decontaminate.contaminationReportBloom(
      d.filter(col("doc_id") % 25 =!= 0), d.filter(col("doc_id") % 25 === 0))),
      Mirror(ContaminationSql)),
    // span-level variant: scrub the overlapping trigram spans, keep the doc
    "q_contamination_scrub" -> Entry(docs(d => Decontaminate.scrubContaminatedSpans(
      d.filter(col("doc_id") % 25 =!= 0), d.filter(col("doc_id") % 25 === 0))),
      // span scrub: same doc_id%25 bench/corpus split and string-trigram
      // mirror as ContaminationSql; removal positions = union of benchmark-
      // hit trigram windows, text re-assembled minus those positions
      // (1-based positions throughout the mirror, outputs carry none)
      Mirror(
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |bw AS (SELECT DISTINCT array_to_string(toks[i:i+${ContW - 1}], ' ') AS sh
         |       FROM (SELECT toks, unnest(generate_series(1, len(toks) - ${ContW - 1})) AS i
         |             FROM t WHERE doc_id % 25 = 0 AND len(toks) >= $ContW)),
         |w AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+${ContW - 1}], ' ') AS sh
         |      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${ContW - 1})) AS i
         |            FROM t WHERE doc_id % 25 <> 0 AND len(toks) >= $ContW)),
         |rem AS (SELECT DISTINCT doc_id, rpos FROM (
         |          SELECT doc_id, unnest(generate_series(pos, pos + ${ContW - 1})) AS rpos
         |          FROM w WHERE sh IN (SELECT sh FROM bw))),
         |tokpos AS (SELECT doc_id, i AS pos, toks[i] AS tok
         |           FROM (SELECT doc_id, toks,
         |                   unnest(generate_series(1, len(toks))) AS i
         |                 FROM t WHERE doc_id % 25 <> 0)),
         |ct AS (SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.pos) AS clean_text
         |       FROM tokpos tp LEFT JOIN rem r
         |         ON tp.doc_id = r.doc_id AND tp.pos = r.rpos
         |       WHERE r.rpos IS NULL GROUP BY 1),
         |nr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM rem GROUP BY 1)
         |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |  COALESCE(nr.n_removed, 0) AS n_removed,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE COALESCE(ct.clean_text, '') END AS clean_text
         |FROM documents d LEFT JOIN ct ON d.doc_id = ct.doc_id
         |LEFT JOIN nr ON d.doc_id = nr.doc_id
         |WHERE d.doc_id % 25 <> 0
         |ORDER BY d.doc_id""".stripMargin)),
    "q_lang_id" -> Entry(docs(TextOps.langIdEval), Mirror(
      """WITH scored AS (SELECT lang,
         |  len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is','it','that','you'))) AS en,
         |  len(list_filter(string_split(text, ' '), w -> w IN ('der','die','das','und','ist','ich','nicht','ein','eine','zu'))) AS de,
         |  len(list_filter(string_split(text, ' '), w -> w IN ('el','los','que','y','en','un','una','se','por','como'))) AS es,
         |  len(list_filter(string_split(text, ' '), w -> w IN ('le','les','et','est','je','ne','pas','vous','dans','ce'))) AS fr,
         |  regexp_matches(text, '[\x{4e00}-\x{9fff}]') AS zh
         |  FROM documents)
         |SELECT lang,
         |  CASE WHEN zh THEN 'zh'
         |       WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
         |       WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
         |       WHEN es >= fr AND es > 0 THEN 'es'
         |       WHEN fr > 0 THEN 'fr'
         |       ELSE 'und' END AS predicted_lang,
         |  count(*) AS n_docs
         |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // one-plan curation pipeline: quality gate → exact dedup →
    // decontamination, per-doc first-failing-stage label
    "q_curation_report" -> Entry(docs(TextOps.curationReport(_)),
      // one-plan curation pipeline: quality thresholds, md5 keeper rule and
      // contamination fraction all mirror their standalone oracles
      // (q_quality_filter, q_dedup_exact, q_contamination); CASE order = the
      // pipeline's first-failing-stage label, which also makes it immaterial
      // that the mirror computes contamination for all corpus docs while
      // Spark computes it only for quality+dedup survivors (identical
      // per-doc fraction, unreachable branch for earlier-stage drops)
      Mirror(
      s"""WITH q AS (SELECT doc_id,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |        floor((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |               / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS lexical_diversity,
         |        floor((CAST(len(list_filter(string_split(text, ' '),
         |                 w -> w IN ('the','a','of','and','to','in','is','it','that','you'))) AS DOUBLE)
         |               / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS stopword_ratio
         |      FROM documents WHERE doc_id % 25 <> 0),
         |qf AS (SELECT doc_id, n_tokens,
         |         (n_tokens < 15 OR lexical_diversity < 0.3
         |          OR stopword_ratio < 0.02) AS q_fail FROM q),
         |surv1 AS (SELECT d.doc_id, d.text FROM documents d
         |          JOIN qf ON d.doc_id = qf.doc_id WHERE NOT qf.q_fail),
         |dup AS (SELECT doc_id FROM (
         |          SELECT doc_id, row_number() OVER (PARTITION BY md5(text)
         |            ORDER BY doc_id) AS rk FROM surv1) WHERE rk > 1),
         |sh AS (
         |${shinglesCte("shingle", ext.Decontaminate.ShingleWidth)}),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 25 = 0),
         |cont AS (SELECT s.doc_id FROM (SELECT * FROM sh WHERE doc_id % 25 != 0) s
         |         LEFT JOIN bench b USING (shingle) GROUP BY 1
         |         HAVING floor((CAST(count(b.shingle) AS DOUBLE) / count(*))
         |                  * 1000000 + 0.5) / 1000000 >= 0.5)
         |SELECT qf.doc_id, qf.n_tokens,
         |  CASE WHEN qf.q_fail THEN 'quality'
         |       WHEN qf.doc_id IN (SELECT doc_id FROM dup) THEN 'exact_dup'
         |       WHEN qf.doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
         |  END AS drop_reason
         |FROM qf ORDER BY qf.doc_id""".stripMargin)),
    // learned BPE tokenizer: merges trained once per dataset on the capped
    // word-frequency vocab, then one map-side counting pass
    "q_bpe_tokens" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
      TextOps.bpeStats(d, bpeArtifact(s, dir, d))
    },
      // learned tokenizer on the hash gate: the mirror below is GENERATED
      // from the merges trained while the queries ran (Verify order:
      // queries first, oracle dump second)
      Mirror(bpeOracleSql)),
    // per-lang tokenizer fertility under the SAME trained merges (the
    // multilingual fairness diagnostic); shares the generated
    // merge-chain oracle machinery
    "q_tokenizer_fertility" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
      TextOps.bpeFertility(d, bpeArtifact(s, dir, d))
    }, Mirror(bpeFertilitySql)),
    // duplicate-cluster size distribution incl. the subtraction-derived
    // singleton row — the pre-dedup sizing report on the shared
    // reachability oracle
    "q_cluster_size_dist" -> Entry(docs(Dedup.clusterSizeDist),
      // the reachability CTE evaluated ONCE, distribution + singleton row
      // derived from it (cluster members always have a partner, so size-1
      // can only be the subtraction row — no collision in the union)
      Mirror(
      s"""WITH c AS MATERIALIZED ($DupClustersSql),
         |per AS (SELECT cluster_id, CAST(count(*) AS BIGINT)
         |          AS cluster_size
         |        FROM c GROUP BY 1),
         |dist AS (SELECT cluster_size,
         |           CAST(count(*) AS BIGINT) AS n_clusters,
         |           CAST(sum(cluster_size) AS BIGINT) AS n_docs
         |         FROM per GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |cl AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM c)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS cluster_size, (n - n2) AS n_clusters,
         |    (n - n2) AS n_docs
         |  FROM tot CROSS JOIN cl
         |  UNION ALL
         |  SELECT cluster_size, n_clusters, n_docs FROM dist)
         |ORDER BY cluster_size""".stripMargin)),
    "q_fingerprint_dedup" -> Entry(docs(TextOps.fingerprintDedup), Mirror(
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
         |  min(doc_id) AS keeper_id, count(*) AS n_docs
         |FROM documents GROUP BY 1 ORDER BY keeper_id""".stripMargin)),
    // cross-source duplication provenance on the normalized fingerprint:
    // digest-only shuffle, sources²-bounded self-join fan-out
    "q_dedup_cross_source" -> Entry(docs(Dedup.crossSourceDups),
      // same normalized digest, keyed per (digest, source) pair; null-text
      // docs excluded on BOTH sides (a NULL digest would pair them)
      Mirror(
      """WITH ds AS (SELECT DISTINCT
         |    md5(array_to_string(list_sort(list_distinct(
         |      string_split(text, ' '))), ' ')) AS digest,
         |    source
         |  FROM documents WHERE text IS NOT NULL),
         |t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_distinct
         |      FROM ds GROUP BY 1),
         |p AS (SELECT a.source AS source1, b.source AS source2,
         |        CAST(count(*) AS BIGINT) AS n_shared
         |      FROM ds a JOIN ds b
         |        ON a.digest = b.digest AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT p.source1, p.source2, p.n_shared,
         |  t1.n_distinct AS n_distinct1, t2.n_distinct AS n_distinct2
         |FROM p JOIN t t1 ON t1.source = p.source1
         |JOIN t t2 ON t2.source = p.source2
         |ORDER BY n_shared DESC, source1, source2""".stripMargin)),
    // JSONL interchange round-trip: write the corpus as JSON-lines, read
    // it back, and hash-gate the full text content — decode∘encode =
    // identity incl. escaping (the q_avro_envelope pattern for the
    // LLM-corpus interchange format)
    "q_jsonl_roundtrip" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl")
      try {
        Sinks.writeJsonl(d, s"$tmp/docs")
        Sources.jsonl(s, s"$tmp/docs", d.schema)
          .orderBy("doc_id").localCheckpoint(true)
      } finally Fs.deleteRecursively(tmp)
    },
      // write∘read through JSONL = identity: the oracle is the plain
      // projection, so any escaping defect breaks the text hash
      Mirror(
      "SELECT doc_id, lang, text FROM documents ORDER BY doc_id")),
    // write∘read identity through the OTHER columnar format (full schema)
    "q_orc_roundtrip" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft-orc")
      try {
        Sinks.writeOrc(d, s"$tmp/docs")
        Sources.orc(s, s"$tmp/docs").orderBy("doc_id").localCheckpoint(true)
      } finally Fs.deleteRecursively(tmp)
    },
      // identity oracles over the full schema: any encode/escape defect in
      // the ORC or CSV path breaks the hash
      Mirror(
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id")),
    // write∘read identity through the pinned CSV dialect — the
    // reference's own ingest format, escaping included
    "q_csv_roundtrip" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft-csv")
      try {
        Sinks.writeCsvTyped(d, s"$tmp/docs")
        Sources.csvTyped(s, s"$tmp/docs", d.schema)
          .orderBy("doc_id").localCheckpoint(true)
      } finally Fs.deleteRecursively(tmp)
    }, Mirror(
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id")),
    // TIMESTAMP-bearing round-trip through the typed-CSV dialect: the µs
    // event times must survive write∘read exactly (the pinned
    // Sinks.TsFormat carries 6 fraction digits — Spark's default renders
    // only millis and silently truncates). Output renders ts engine-stably
    // as epoch-µs longs; the oracle is the plain projection of the source
    // table, so ANY precision loss or tz shift in the dialect breaks the
    // hash.
    "q_events_roundtrip" -> Entry((s, dir) => {
      val e = Sources.events(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-evcsv")
      try {
        Sinks.writeCsvTyped(e, s"$tmp/events")
        Sources.csvTyped(s, s"$tmp/events", e.schema)
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .orderBy("event_id").localCheckpoint(true)
      } finally Fs.deleteRecursively(tmp)
    },
      // timestamp-bearing CSV round-trip: µs-exact through the pinned dialect
      Mirror(
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
         |  value, props FROM events ORDER BY event_id""".stripMargin)),
    // train-once/serve-many unigram LM familiarity: the vocabulary is a
    // per-dataset trained artifact (the Trained memo discipline)
    "q_unigram_familiarity" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
      val (vt, vc) = unigramVocab.cached(dir)(
        ArtifactStore.unigramVocab(s, dir, "univocab-m2-v65536")(
          TextOps.trainUnigramVocab(d)))
      TextOps.unigramFamiliarity(d, vt, vc)
    },
      // trained unigram vocab (count >= 2, top 65536 by count desc / token
      // asc) scored per doc; exact integers until the single final division
      Mirror(
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |             FROM documents),
         |vocab AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
         |          HAVING count(*) >= ${TextOps.VocabMinCount}
         |          ORDER BY cnt DESC, tok LIMIT ${TextOps.VocabMaxSize}),
         |sc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
         |         CAST(COALESCE(sum(v.cnt), 0) AS BIGINT) AS vocab_sum
         |       FROM tok t LEFT JOIN vocab v USING (tok) GROUP BY 1)
         |SELECT doc_id, n_tokens, n_oov, vocab_sum,
         |  floor(CAST(vocab_sum AS DOUBLE) / n_tokens * 100 + 0.5) / 100 AS familiarity
         |FROM sc ORDER BY doc_id""".stripMargin)),
    // DSIR importance weights: log p̂/q̂ ratios trained once per dataset
    // (driver-side ln, quantized to micro-nats), served as an exact long
    // sum through the same map-side expression as the familiarity filter
    "q_dsir_weights" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
      val (vt, qw) = dsirRatios.serve(dir)(
        ArtifactStore.unigramVocab(s, dir, "dsir-m25-v65536")(
          TextOps.trainDsirRatios(d)))
      TextOps.dsirWeights(d, vt, qw)
    },
      // trained micro-nat ratios replayed as a VALUES CTE — see dsirSql
      Mirror(dsirSql)),
    // NB quality classifier distilled from the gopher rule verdict:
    // driver-trained micro-nat log-likelihood ratios, map-side margin,
    // teacher-vs-student agreement report (the distillation fidelity gate)
    "q_nb_quality_score" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
      val (vt, w) = nbArtifact(s, dir, d)
      TextOps.nbQualityScores(d, vt, w)
    },
      // trained NB log-likelihood ratios + the regenerated teacher verdict
      Mirror(nbQualitySql)),
    // the distilled classifier's reliability curve: per clamped margin
    // bin, teacher-keep and agreement shares — same trained artifact,
    // same generated VALUES mirror prologue
    "q_nb_calibration" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
      val (vt, w) = nbArtifact(s, dir, d)
      TextOps.nbCalibration(d, vt, w)
    }, Mirror(nbCalibrationSql)),
    // per-source cross-entropy under the driver-trained corpus unigram
    // LM (micro-nat costs + one OOV constant — the DSIR discipline):
    // which sources the LM finds most surprising, the data-mixing signal
    "q_source_crossentropy" -> Entry((s, dir) => {
      val (vt, cs, oov) = ceArtifact(s, dir)
      TextOps.sourceCrossEntropy(Sources.table(s, dir, "documents"),
        vt, cs, oov)
    },
      // trained corpus-LM costs as a VALUES CTE + the OOV constant
      Mirror(crossEntropySql)),
    // per-doc LM-surprise outliers under the SAME trained corpus LM:
    // 4dp-quantized mean nats, exact moments, round-then-compared |z|
    "q_lm_outliers" -> Entry((s, dir) => {
      val (vt, cs, oov) = ceArtifact(s, dir)
      TextOps.lmOutlierScores(Sources.table(s, dir, "documents"),
        vt, cs, oov)
    },
      // same vocab replayed per doc; quantize-then-moments z verdict
      Mirror(lmOutliersSql)),
    // the sequence-level complement: familiar words in an unfamiliar
    // ORDER score low; same train-once/serve-map-side artifact shape
    "q_bigram_familiarity" -> Entry((s, dir) => {
      val d = Sources.table(s, dir, "documents")
      val (vk, vc) = bigramVocab.cached(dir)(
        ArtifactStore.unigramVocab(s, dir, "bivocab-m2-v65536")(
          TextOps.trainBigramVocab(d)))
      TextOps.bigramFamiliarity(d, vk, vc)
    },
      // self-contained retrain: the deterministic cap (cnt desc, key asc,
      // limit) makes the SQL recomputation identical to the Scala trainer;
      // LEFT JOIN from documents keeps <2-token docs with zero bigrams
      Mirror(
      s"""WITH bg AS (
         |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
         |  FROM (SELECT doc_id, toks,
         |          unnest(generate_series(1, len(toks) - 1)) AS i
         |        FROM (SELECT doc_id, string_split(text, ' ') AS toks
         |              FROM documents)
         |        WHERE len(toks) >= 2)),
         |vocab AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg
         |          HAVING count(*) >= ${TextOps.VocabMinCount}
         |          ORDER BY cnt DESC, bg LIMIT ${TextOps.VocabMaxSize}),
         |sc AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |         CAST(count(*) FILTER (WHERE v.bg IS NULL) AS BIGINT) AS n_oov,
         |         CAST(COALESCE(sum(v.cnt), 0) AS BIGINT) AS vocab_sum
         |       FROM bg b LEFT JOIN vocab v USING (bg) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(COALESCE(sc.n_oov, 0) AS BIGINT) AS n_oov,
         |  CAST(COALESCE(sc.vocab_sum, 0) AS BIGINT) AS vocab_sum,
         |  CASE WHEN COALESCE(sc.n_bigrams, 0) > 0
         |    THEN floor(CAST(sc.vocab_sum AS DOUBLE) / sc.n_bigrams
         |               * 100 + 0.5) / 100
         |  END AS familiarity
         |FROM documents d LEFT JOIN sc USING (doc_id)
         |ORDER BY doc_id""".stripMargin)),
    "q_tfidf_top_terms" -> Entry(docs(TextOps.topTermsPerDoc(_)), Mirror(
      """WITH tf AS (
        |  SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf AS DOUBLE) * (n.n + 1) / (dfreq.df + 1) AS w
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term, n),
        |ranked AS (
        |  SELECT doc_id, term, w,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, term, floor(w * 10000 + 0.5) / 10000 AS weight
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),
    // pairwise source fingerprints: cosine between unigram count vectors
    // over the capped corpus vocabulary — exact long dots/norms, IEEE sqrt
    "q_source_similarity" -> Entry(docs(TextOps.sourceSimilarity(_)),
      // exact long count-vector dots and norms over the capped vocabulary;
      // cosine 6dp floor-rounded in the identical op order; null-source and
      // null-text docs excluded on both sides
      Mirror(
      s"""WITH tk AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
         |vocab AS (
         |  SELECT tok FROM (
         |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok)
         |      AS rk
         |    FROM tk GROUP BY tok)
         |  WHERE rk <= ${TextOps.SourceSimVocab}),
         |sv AS (
         |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM tk JOIN vocab USING (tok) GROUP BY 1, 2),
         |n2 AS (SELECT source, CAST(sum(c * c) AS BIGINT) AS n2
         |       FROM sv GROUP BY 1),
         |d AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(sum(a.c * b.c) AS BIGINT) AS dot
         |  FROM sv a JOIN sv b ON a.tok = b.tok AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, dot,
         |  floor(CAST(dot AS DOUBLE)
         |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |    * 1000000 + 0.5) / 1000000 AS cosine
         |FROM d JOIN n2 na ON source_a = na.source
         |JOIN n2 nb ON source_b = nb.source
         |ORDER BY source_a, source_b""".stripMargin)),
    // Church-Gale burstiness: Fano factor of per-doc counts for the top
    // corpus tokens — the content-vs-function-word topicality signal
    "q_token_burstiness" -> Entry(docs(TextOps.tokenBurstiness(_)),
      // exact-moment Fano factor (the dimStats double-op-sequence
      // discipline); mean >= 1 so the division needs no zero guard
      Mirror(
      s"""WITH pd AS (
         |  SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |    FROM documents WHERE text IS NOT NULL)
         |  GROUP BY 1, 2),
         |st AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(c) AS BIGINT) AS total,
         |    CAST(sum(c * c) AS BIGINT) AS ss
         |  FROM pd GROUP BY 1)
         |SELECT tok, n_docs, total,
         |  floor((CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE))
         |    * 1000000 + 0.5) / 1000000 AS mean_per_doc,
         |  floor((greatest(CAST(ss AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |      - (CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE))
         |        * (CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE)),
         |      CAST(0 AS DOUBLE))
         |    / (CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE)))
         |    * 1000000 + 0.5) / 1000000 AS fano
         |FROM st ORDER BY total DESC, tok
         |LIMIT ${TextOps.BurstinessTopK}""".stripMargin)),
    // token-budget curation: best-quality docs until the budget is spent;
    // decomposed prefix sum (bounded score buckets + boundary-only window)
    "q_token_budget" -> Entry(docs(TextOps.tokenBudgetSelect(_)), Mirror(
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    floor((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |           / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS quality
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens, quality,
        |    sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM s)
        |SELECT doc_id, n_tokens, quality FROM c WHERE cum <= 20000
        |ORDER BY quality DESC, doc_id""".stripMargin)),
    // the threshold-picking report: per-score doc/token counts with the
    // running kept-share were the cut set just below that score
    "q_quality_yield" -> Entry(docs(TextOps.qualityYieldCurve),
      // token-budget selection: the mirror is the NAIVE single-window prefix
      // sum the Spark side decomposes (bounded buckets + boundary window) —
      // the hash gate proves the decomposition ≡ the global running total
      // bounded-frame cumsum over ≤10001 score buckets; cum_share is a
      // ratio of exact integer sums with one final division
      Mirror(
      """WITH s AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    floor((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |           / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS quality
        |  FROM documents),
        |b AS (
        |  SELECT quality, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens
        |  FROM s GROUP BY 1),
        |c AS (
        |  SELECT quality, n_docs, bucket_tokens,
        |    CAST(sum(bucket_tokens) OVER (ORDER BY quality DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens,
        |    CAST(sum(bucket_tokens) OVER () AS BIGINT) AS total_tokens
        |  FROM b)
        |SELECT quality, n_docs, bucket_tokens, cum_tokens,
        |  floor(cum_tokens * 1.0 / total_tokens * 10000 + 0.5) / 10000
        |    AS cum_share
        |FROM c ORDER BY quality DESC""".stripMargin)),
    // multilingual balancing: an independent budget per language
    "q_token_budget_by_lang" -> Entry(docs(TextOps.tokenBudgetByLang(_)),
      // the per-language variant: the running total restarts per lang
      Mirror(
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    floor((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |           / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS quality
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens, quality,
        |    sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM s)
        |SELECT doc_id, lang, n_tokens, quality FROM c WHERE cum <= 5000
        |ORDER BY lang, quality DESC, doc_id""".stripMargin)),
    "q_train_test_split" -> Entry(docs(TextOps.trainTestSplit), Mirror(
      """SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
         |            THEN 'train' ELSE 'test' END AS split,
         |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin)),
    // near-dup-aware split: cluster members inherit the representative's
    // md5 split so no near-duplicate straddles train/test (the
    // evaluation-leakage guard); the shared reachability oracle + the
    // same md5 rule certify atomicity per doc
    "q_leakage_safe_split" -> Entry(docs(Dedup.leakageSafeSplit(_)),
      // leakage-safe split: the shared reachability oracle's component-min
      // label drives the same md5 split rule as q_train_test_split —
      // atomic cluster assignment certified per doc
      Mirror(
      s"""WITH c AS MATERIALIZED ($DupClustersSql)
         |SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep_doc,
         |  CASE WHEN substring(md5(CAST(COALESCE(c.cluster_id, d.doc_id)
         |      AS VARCHAR)), 1, 1) < 'c' THEN 'train' ELSE 'test' END
         |    AS split
         |FROM documents d LEFT JOIN c USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin)),
    // seeded per-epoch training-order reshuffle: md5(seed:doc_id) rank via
    // the distributed-ordinal machinery; the mirror's naive global
    // row_number certifies the range-partition decomposition on a HASH
    // sort key (q_global_rownum's proof, adversarially unordered input)
    "q_corpus_shuffle" -> Entry(docs(TextOps.epochShuffle(_, TextOps.EpochSeed)),
      // epoch shuffle: the naive global row_number over the seeded hash
      Mirror(
      s"""SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY md5('${TextOps.EpochSeed}:' || CAST(doc_id AS VARCHAR)), doc_id)
         |  AS BIGINT) AS shuffle_pos
         |FROM documents ORDER BY shuffle_pos""".stripMargin)),
    // temperature-scaled (α=0.5) Hamilton apportionment of a sampling
    // budget across sources — quotas sum EXACTLY to the budget; sqrt +
    // 9dp-decimal weights keep every double bit-identical cross-engine
    "q_mixture_allocation" -> Entry(docs(TextOps.mixtureAllocation(_)),
      // Hamilton apportionment, identical arithmetic: quantized-decimal
      // weights (exact order-independent sum), one double division per
      // share, largest-remainder ranking; budget rendered from the shared
      // constant so query and mirror can never desync
      Mirror(
      s"""WITH counts AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1),
         |w AS (
         |  SELECT source, n_docs,
         |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000000 + 0.5)
         |      / 1000000000 AS DECIMAL(18,9)) AS wq
         |  FROM counts),
         |tot AS (SELECT sum(wq) AS w_total FROM w),
         |sh AS (
         |  SELECT source, n_docs,
         |    CAST(${TextOps.MixtureBudget} * wq AS DOUBLE)
         |      / CAST(w_total AS DOUBLE) AS share
         |  FROM w CROSS JOIN tot),
         |b AS (
         |  SELECT source, n_docs, CAST(floor(share) AS BIGINT) AS base,
         |    share - floor(share) AS rem
         |  FROM sh),
         |l AS (SELECT CAST(${TextOps.MixtureBudget} - sum(base) AS BIGINT)
         |      AS leftover FROM b),
         |r AS (
         |  SELECT b.*, CAST(row_number() OVER (ORDER BY rem DESC, source)
         |    AS BIGINT) AS rk
         |  FROM b)
         |SELECT source, n_docs,
         |  base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
         |FROM r CROSS JOIN l ORDER BY source""".stripMargin)),
    // DEFLATE-ratio quality signal (Gopher/C4 family): JVM-deterministic
    // but not portable SQL — rows-only entry, ground truth in TextOpsSpec
    "q_compression_quality" -> Entry(docs(TextOps.compressionQuality(_)),
      NoOracle("DEFLATE ratios are JVM-deterministic but not portable SQL")),
    // the derived HALF of the compression signal on the hash gate: the
    // corpus pass buckets the non-portable ratio (bounded ≤ ~25 counts,
    // cached for the generated mirror), and the distribution report —
    // cum docs / 4dp share / integer-compare verdict — is cross-engine
    // arithmetic certified against the planted-counts VALUES CTE
    "q_compression_dist" -> Entry((s, dir) => {
      val counts = TextOps.compressionBuckets(
          Sources.table(s, dir, "documents"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.sortBy(_._1)
      compressionBuckets.record(dir, counts)
      TextOps.compressionDistFromCounts(s, counts)
    },
      // planted-counts VALUES CTE + cross-engine distribution arithmetic
      Mirror(compressionDistSql)),
    "q_domain_mix" -> Entry(docs(TextOps.domainMixSample(_,
      Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5), defaultRate = 0.25)),
      // rate → 4-hex md5-quantile threshold: 1.0→'g' (above all hex),
      // 0.75→'c000', 0.5→'8000', default 0.25→'4000'
      Mirror(
      """SELECT doc_id, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN 'c000'
        |              WHEN 'src2' THEN '8000' ELSE '4000' END
        |ORDER BY doc_id""".stripMargin)),
    // one-pass per-column profiling (count/null/distinct/length stats)
    "q_profile_docs" -> Entry(docs(ops.Profile.columnProfile),
      // generated from the shared Profile.DocumentCols inventory; distinct
      // counted over md5 digests IN BOTH ENGINES (equal values ≡ equal
      // digests → the gate stays exact)
      Mirror(
      ops.Profile.profileSql("documents", ops.Profile.DocumentCols))),
    // the mixed-type table profiled through ENGINE-STABLE renderings
    // (documented contract: µs longs for timestamps, fixed-scale decimal
    // for doubles — raw double/timestamp strings are not engine-stable)
    // the scale path: HLL distincts, ONE pass, no Expand — no oracle
    // (approximate by construction); spec-bound to the exact profile
    "q_profile_docs_approx" -> Entry(docs(ops.Profile.columnProfileApprox(_)),
      NoOracle("HyperLogLog distinct counts")),
    "q_profile_events" -> Entry(ev(ev => ops.Profile.columnProfile(ev.select(
      col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"),
      col("value").cast("decimal(18,6)").as("value_dec"), col("props")))),
      // same generated mirror over the stable-rendered projection
      Mirror(
      ("""WITH t AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id,
         |  event_type, CAST(value AS DECIMAL(18,6)) AS value_dec, props
         |FROM events)
         |""".stripMargin +
        ops.Profile.profileSql("t", Seq("event_id", "ts_us", "user_id",
          "event_type", "value_dec", "props"))))),
    // rebalance to TARGET mixture weights (exact per-source quotas by
    // md5 order; bucketed decomposition vs the mirror's naive rank)
    "q_domain_rebalance" -> Entry(docs(TextOps.domainRebalance(_, RebalanceWeights)),
      // the NAIVE per-source global rank — the gate proves the bucketed
      // decomposition equal to it (see TextOps.domainRebalance)
      Mirror(TextOps.rebalanceSql(RebalanceWeights))),
    "q_pii_scrub" -> Entry(docs(TextOps.scrubPii),
      // generated from the SAME TextOps.PiiPatterns constants the Spark side
      // compiles, so the two engines can't drift
      Mirror({
      val scrub = TextOps.PiiPatterns.foldLeft("text") {
        case (acc, (tag, p)) => s"regexp_replace($acc, '$p', '<$tag>', 'g')"
      }
      val counts = TextOps.PiiPatterns
        .map { case (_, p) => s"len(regexp_extract_all(text, '$p'))" }
        .mkString(" + ")
      s"""SELECT doc_id, $scrub AS clean_text,
         |  CAST($counts AS BIGINT) AS n_pii
         |FROM documents ORDER BY doc_id""".stripMargin
    })),
    "q_text_normalize" -> Entry(docs(TextOps.normalizeDocs),
      // generated from the SAME TextOps.NormSteps constants (PiiPatterns
      // discipline): lower → regex chain ('g') → trim, identical in both
      Mirror(
      s"""SELECT doc_id, $NormSqlExpr AS norm_text,
         |  CAST(len(string_split($NormSqlExpr, ' ')) AS BIGINT) AS n_tokens_norm
         |FROM documents ORDER BY doc_id""".stripMargin)),
    "q_normalized_dedup" -> Entry(docs(TextOps.normalizedDedup), Mirror(
      s"""SELECT md5($NormSqlExpr) AS norm_hash, min(doc_id) AS keeper_id,
         |  count(*) AS n_docs
         |FROM documents GROUP BY 1 ORDER BY keeper_id""".stripMargin)),
    "q_repetition" -> Entry(docs(TextOps.repetitionScores),
      // repeats counted over ALL trigram positions (no DISTINCT in tri);
      // double division + shared 6dp floor rounding
      Mirror(
      """WITH tri AS (
        |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |              WHERE len(string_split(text, ' ')) >= 3))),
        |c AS (SELECT doc_id, shingle, count(*) AS cnt FROM tri GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_shingles,
        |  floor((1.0 - CAST(count(*) AS DOUBLE) / sum(cnt)) * 1000000 + 0.5)
        |    / 1000000 AS dup_ratio,
        |  floor((CAST(max(cnt) AS DOUBLE) / sum(cnt)) * 1000000 + 0.5)
        |    / 1000000 AS top_ratio
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_intradoc_dedup" -> Entry(docs(TextOps.dedupWithin(_, " ")),
      // order-preserving first-occurrence dedup: list_position returns the
      // FIRST index of x, so keeping positions where it equals the element's
      // own index is exactly keep-first — mirrors DedupUnits' hash-set pass
      Mirror(
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    list_filter(string_split(text, ' '),
        |      (x, i) -> list_position(string_split(text, ' '), x) = i) AS kept
        |  FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_units,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  array_to_string(kept, ' ') AS dedup_text
        |FROM d ORDER BY doc_id""".stripMargin)),
    "q_unit_filter" -> Entry(docs(TextOps.filterUnits(_)),
      // DuckDB array_to_string([]) is NULL (verified), Spark concat_ws of
      // an empty array is '' — scope the COALESCE so a fully-dropped doc
      // renders '' and only NULL text stays NULL (null-text parity)
      Mirror(
      """WITH u AS (SELECT doc_id, string_split(text, ' ') AS units
        |           FROM documents)
        |SELECT doc_id, CAST(len(units) AS BIGINT) AS n_units,
        |  CAST(len(list_filter(units, x -> length(x) >= 2)) AS BIGINT) AS n_kept,
        |  CASE WHEN units IS NULL THEN NULL
        |       ELSE COALESCE(array_to_string(
        |         list_filter(units, x -> length(x) >= 2), ' '), '') END
        |    AS clean_text
        |FROM u ORDER BY doc_id""".stripMargin)),
    "q_sequence_packing" -> Entry(docs(TextOps.packSequences(_)),
      // per-shard (doc_id % 32) prefix sums over id-ordered token counts,
      // cut into 512-token context windows
      Mirror(
      """WITH t AS (
        |  SELECT doc_id, doc_id % 32 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - n_tokens AS start_tok
        |  FROM t)
        |SELECT doc_id, shard, n_tokens,
        |  start_tok // 512 AS start_bin, start_tok % 512 AS start_offset
        |FROM c ORDER BY doc_id""".stripMargin)),
    "q_doc_chunks" -> Entry(docs(TextOps.chunkDocs(_)),
      // integer chunk-start math in both engines (no float ceil); DuckDB
      // list slice is 1-based inclusive, Spark slice(start, length) — the
      // bounds below address identical windows
      Mirror(
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 1),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, greatest(0, (len(toks) - 64 + 47) // 48)))
        |      AS chunk_id
        |  FROM d)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(len(toks[chunk_id*48+1 : chunk_id*48+64]) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[chunk_id*48+1 : chunk_id*48+64], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),
    "q_stratified_sample" -> Entry(docs(TextOps.stratifiedSample(_)), Mirror(
      """SELECT lang, doc_id, rn FROM (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin)),
    "q_media_meta" -> Entry(docs(Multimodal.mediaByteStats), Mirror(
      """SELECT doc_id, 'image' AS kind, CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // GATED mixed-payload decode (r12: the former stub-only entry
    // re-pointed at the real path): PNG rows decode via javax.imageio,
    // text-bytes rows take the documented fallback — the mirror splits on
    // the same doc_id % 3 routing, so the hash certifies the sniff
    "q_media_decode" -> Entry((s, dir) => Multimodal.decodeMixed(s,
      Sources.table(s, dir, "documents")),
      // mixed-payload decode: doc_id % 3 == 0 rows are real PNGs, % 3 == 1
      // rows real JPEGs (SECOND real codec, its own dimension moduli — the
      // arithmetic distinguishes the routes; JPEG dims/bands survive the
      // lossy round trip exactly), the rest take the fallback (dims from
      // the UTF-8 byte length; null text → null payload → all-zero stub
      // row, the fuzzer-found null-payload class) — the same pmod routing
      // split cross-engine certifies the magic-byte sniff row-by-row
      Mirror(
      s"""SELECT doc_id,
        |  CASE WHEN ((doc_id % 3) + 3) % 3 = 0
        |       THEN CAST(1 + ((doc_id % 16) + 16) % 16 AS BIGINT)
        |       WHEN ((doc_id % 3) + 3) % 3 = 1
        |       THEN CAST(1 + ((doc_id % ${Multimodal.JpegWMod})
        |         + ${Multimodal.JpegWMod}) % ${Multimodal.JpegWMod} AS BIGINT)
        |       ELSE CAST(COALESCE(strlen(text), 0) % 640 AS BIGINT)
        |  END AS width,
        |  CASE WHEN ((doc_id % 3) + 3) % 3 = 0
        |       THEN CAST(1 + ((doc_id % 8) + 8) % 8 AS BIGINT)
        |       WHEN ((doc_id % 3) + 3) % 3 = 1
        |       THEN CAST(1 + ((doc_id % ${Multimodal.JpegHMod})
        |         + ${Multimodal.JpegHMod}) % ${Multimodal.JpegHMod} AS BIGINT)
        |       ELSE CAST(COALESCE(strlen(text), 0) % 480 AS BIGINT)
        |  END AS height,
        |  CASE WHEN ((doc_id % 3) + 3) % 3 <= 1 THEN CAST(3 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS channels
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // REAL codec round trip on the hash gate: synthesize a PNG per doc
    // (dims derived from doc_id), decode back via javax.imageio, report
    // width/height/bands — the mirror recomputes the dimension
    // arithmetic, so the hash match certifies encode → decode identity
    "q_media_decode_real" -> Entry((s, dir) => Multimodal.decodeRealRoundTrip(s,
      Sources.table(s, dir, "documents")),
      // the real-codec round trip: the mirror recomputes the doc_id-derived
      // dimensions synthesizePng encodes, so the hash match certifies the
      // javax.imageio encode → decode identity (channels: the PNGs are
      // written from TYPE_INT_RGB, so the decoded raster has 3 bands)
      Mirror(
      """SELECT doc_id,
        |  CAST(1 + ((doc_id % 16) + 16) % 16 AS BIGINT) AS width,
        |  CAST(1 + ((doc_id % 8) + 8) % 8 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // perceptual aHash over the DECODED raster: the mirror recomputes
    // every luma from the id arithmetic, so the hash match certifies the
    // PNG round trip PIXEL-FOR-PIXEL (stronger than dims-only)
    "q_media_ahash" -> Entry((s, dir) => Multimodal.averageHash(s,
      Sources.table(s, dir, "documents")),
      // pixel-exact mirror: every decoded luma recomputes from the id
      // arithmetic synthesizePng painted ((seed*2654435761 + 31x + y)
      // masked to 24 bits, seed = floorMod(doc_id, 2^24) — the masked seed
      // keeps the multiply inside int64 in BOTH engines for ANY doc_id),
      // the mean is truncating // on non-negative longs, and the aHash
      // packs as a sum of distinct powers of two ≡ bitwise OR
      Mirror(
      s"""WITH dims AS (
         |  SELECT doc_id, 1 + ((doc_id % 16) + 16) % 16 AS w,
         |    1 + ((doc_id % 8) + 8) % 8 AS h,
         |    ((doc_id % 16777216) + 16777216) % 16777216 AS seed
         |  FROM documents),
         |xs AS (
         |  SELECT doc_id, w, h, seed, unnest(generate_series(0, w - 1)) AS x
         |  FROM dims),
         |px AS (
         |  SELECT doc_id, y * w + x AS i,
         |    (seed * 2654435761 + x * 31 + y) & 16777215 AS v
         |  FROM (SELECT doc_id, w, x, seed,
         |          unnest(generate_series(0, h - 1)) AS y
         |        FROM xs)),
         |lum AS (
         |  SELECT doc_id, i,
         |    299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
         |      + 114 * (v & 255) AS l
         |  FROM px),
         |mn AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
         |    CAST(sum(l) AS BIGINT) // CAST(count(*) AS BIGINT)
         |      AS mean_luma
         |  FROM lum GROUP BY 1)
         |SELECT m.doc_id, m.n_px, m.mean_luma,
         |  CAST(count(*) FILTER (WHERE l.l > m.mean_luma) AS BIGINT)
         |    AS n_above,
         |  CAST(COALESCE(sum(CASE WHEN l.l > m.mean_luma
         |      AND l.i < ${Multimodal.AHashBits}
         |    THEN (CAST(1 AS BIGINT) << l.i) ELSE 0 END), 0) AS BIGINT)
         |    AS ahash
         |FROM mn m JOIN lum l USING (doc_id)
         |GROUP BY 1, 2, 3
         |ORDER BY m.doc_id""".stripMargin)),
    // image near-dup dedup (r17): Hamming-banded perceptual-hash
    // candidates over the REAL-codec aHash of a planted-near-dup PNG
    // corpus, exact popcount verify — pigeonhole makes the banding
    // lossless at radius bands-1, so the naive quadratic mirror
    // certifies the pruning (the q_zorder_prune discipline on images)
    "q_media_neardups" -> Entry((s, dir) => Multimodal.mediaNearDups(s,
      Sources.table(s, dir, "documents")),
      // naive quadratic popcount mirror for the banded near-dup route:
      // every aHash recomputes from the id arithmetic (the q_media_ahash
      // luma machinery) with the planted-predecessor override, pairs are
      // ALL same-dim combinations (no banding — the hash match certifies
      // the banded candidate generation lossless at the radius), popcount
      // via DuckDB's two's-complement bit_count(xor()) ≡ Spark's
      // bit_count(^) on BIGINT
      Mirror(
      (nearDupAhCte + "\n" +
        s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
           |FROM ah a JOIN ah b
           |  ON a.w = b.w AND a.h = b.h AND a.doc_id < b.doc_id
           |WHERE a.n_px >= ${Multimodal.AHashBits}
           |  AND b.n_px >= ${Multimodal.AHashBits}
           |  AND bit_count(xor(a.ahash, b.ahash)) <= ${Multimodal.NearDupRadius}
           |ORDER BY doc_a, doc_b""".stripMargin))),
    // class-level image-dedup report (r17): one row per identical-hash
    // class with its keeper and radius-bounded neighborhood — the
    // deliverable that stays distinct-hash-sized where the pair
    // inventory above is semantically quadratic in duplicate density
    "q_media_dup_classes" -> Entry((s, dir) => Multimodal.mediaDupClasses(s,
      Sources.table(s, dir, "documents")),
      // class-level mirror: identical-hash classes from the same ah
      // prologue, neighborhood from a naive distinct-hash popcount
      // self-join (no banding — the hash match certifies the banded
      // neighborhood counts exact)
      Mirror(
      (nearDupAhCte + ",\n" +
        s"""cls AS MATERIALIZED (
           |  SELECT w, h, ahash, CAST(count(*) AS BIGINT) AS class_size,
           |    min(doc_id) AS keeper
           |  FROM ah WHERE n_px >= ${Multimodal.AHashBits}
           |  GROUP BY 1, 2, 3),
           |nb AS (
           |  SELECT a.w, a.h, a.ahash,
           |    CAST(count(*) AS BIGINT) AS n_near_classes,
           |    CAST(sum(b.class_size) AS BIGINT) AS n_near_docs
           |  FROM cls a JOIN cls b
           |    ON a.w = b.w AND a.h = b.h AND a.ahash <> b.ahash
           |  WHERE bit_count(xor(a.ahash, b.ahash)) <= ${Multimodal.NearDupRadius}
           |  GROUP BY 1, 2, 3)
           |SELECT CAST(c.w AS BIGINT) AS w, CAST(c.h AS BIGINT) AS h,
           |  c.ahash, c.class_size, c.keeper,
           |  CAST(COALESCE(n.n_near_classes, 0) AS BIGINT)
           |    AS n_near_classes,
           |  CAST(COALESCE(n.n_near_docs, 0) AS BIGINT) AS n_near_docs
           |FROM cls c LEFT JOIN nb n
           |  ON c.w = n.w AND c.h = n.h AND c.ahash = n.ahash
           |ORDER BY 1, 2, 3""".stripMargin))),
    // video-to-training-examples fan-out: 4 evenly-spaced frames per
    // payload via the mapPartitions/flatMap batch shape; the frame
    // BOUNDARIES are pure integer arithmetic on the byte length, so the
    // fan-out itself is hash-gated (the mirror recomputes the same floor
    // divisions over generate_series) — only the codec is a stub
    "q_media_frames" -> Entry((s, dir) =>
      Multimodal.sampleFrames(s,
          Multimodal.attachMedia(Sources.table(s, dir, "documents")),
          Multimodal.DefaultFrames)
        .toDF()
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          octet_length(col("frame")).cast("long").as("n_bytes"))
        .orderBy("doc_id", "frame_idx"),
      // same floor-division frame boundaries over the byte length; empty
      // payloads emit no frames on either side; frame count rendered from
      // the shared constant
      Mirror(
      s"""SELECT d.doc_id, CAST(g.i AS BIGINT) AS frame_idx,
         |  (strlen(d.text) * (g.i + 1)) // ${Multimodal.DefaultFrames}
         |    - (strlen(d.text) * g.i) // ${Multimodal.DefaultFrames} AS n_bytes
         |FROM documents d, generate_series(0, ${Multimodal.DefaultFrames - 1}) AS g(i)
         |WHERE strlen(d.text) > 0
         |ORDER BY doc_id, frame_idx""".stripMargin)),
    "q_knn_cosine" -> Entry(emb(Similarity.cosineTopK(_)), Mirror(
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |p AS (SELECT e.vec_id,
        |    sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(q.qe[t.i] AS DOUBLE)) AS dot,
        |    sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(e.embedding[t.i] AS DOUBLE)) AS na,
        |    sum(CAST(q.qe[t.i] AS DOUBLE) * CAST(q.qe[t.i] AS DOUBLE)) AS nb
        |  FROM embeddings e, q, generate_series(1, 64) t(i)
        |  WHERE e.vec_id <> 0 GROUP BY 1)
        |SELECT vec_id,
        |  floor((dot / (sqrt(na) * sqrt(nb))) * 10000 + 0.5) / 10000 AS cosine_sim
        |FROM p ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, vec_id LIMIT 10""".stripMargin)),
    // int8-quantized serving path; no oracle (quantization rounding is
    // engine-specific) — recall vs the float path is spec-pinned
    "q_knn_int8" -> Entry(emb(Similarity.cosineTopKInt8(_)),
      NoOracle("int8 quantization rounding is engine-specific")),
    "q_label_centroids" -> Entry(emb(Similarity.labelCentroids), Mirror(
      """SELECT label, t.i AS pos,
        |  floor((sum(CAST(embedding[t.i] AS DOUBLE)) / count(*)) * 1000000 + 0.5)
        |    / 1000000 AS m
        |FROM embeddings, generate_series(1, 64) t(i)
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin)),
    // one exact fixed-point Lloyd iteration (components quantized to
    // longs BEFORE any aggregation — zero float-sum-order exposure)
    "q_kmeans_step" -> Entry(emb(Similarity.kmeansStep),
      // both engines score against the ROUNDED 6dp centroids (the
      // q_label_centroids values), so the centroid aggregation's float-sum
      // order is already pinned; the remaining exposure is the per-vector
      // 64-term sums — the same accepted class as every KNN mirror
      // one Lloyd step, INTEGER-exact end to end: components quantized to
      // fixed-point longs before any aggregation, centroid means via
      // truncating // (≡ Spark div — both truncate toward zero, so the
      // possibly-negative component sums need no divisibility reduction),
      // argmin tiebreak to the smallest centroid id (the row_number mirror
      // of Spark's min-over-(d2,cid)-struct)
      Mirror(
      s"""WITH $KmeansAssignCte
         |SELECT new_cid AS cid, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(CASE WHEN seed <> new_cid THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_moved,
         |  CAST(sum(d2) AS BIGINT) AS inertia
         |FROM kw GROUP BY 1 ORDER BY cid NULLS LAST""".stripMargin)),
    // SemDeDup-style cluster-balanced curation sample: nearest-to-
    // centroid top-k per cluster via WindowGroupLimit
    "q_cluster_balanced_sample" -> Entry(
      emb(Similarity.clusterBalancedSample(_)),
      // same assignment prologue (shared-CTE discipline); the per-cluster
      // top-k is rank-filtered exactly like Spark's WindowGroupLimit plan
      Mirror(
      s"""WITH $KmeansAssignCte,
         |ks AS (SELECT new_cid AS cid, vec_id, d2,
         |         row_number() OVER (PARTITION BY new_cid
         |           ORDER BY d2, vec_id) AS rk
         |       FROM kw)
         |SELECT cid, CAST(rk AS BIGINT) AS rk, vec_id, d2 FROM ks
         |WHERE rk <= ${Similarity.BalancedSamplePerCluster}
         |ORDER BY cid NULLS LAST, rk""".stripMargin)),
    // simplified (centroid-based) silhouette per cluster — clustering
    // quality next to q_kmeans_step's inertia; per-point s quantizes to
    // fixed-point longs BEFORE the per-cluster mean (zero float-sum-order
    // exposure; sqrt is correctly-rounded IEEE from exact long d2)
    "q_cluster_silhouette" -> Entry(emb(Similarity.clusterSilhouette),
      // same assignment prologue again: per-point simplified silhouette
      // from the two smallest (d2, cid)-ordered distances (ka's row_number
      // ≡ Spark's sort_array tiebreak), quantized to fixed-point longs
      // BEFORE the per-cluster mean; the b-IS-NULL single-centroid
      // degenerate drops explicitly in both engines, and the 0/0 point
      // scores 0 explicitly (Spark ANSI would throw, DuckDB would NULL)
      Mirror(
      s"""WITH $KmeansAssignCte,
         |two AS (SELECT vec_id,
         |          max(CASE WHEN rk = 1 THEN cid END) AS cid,
         |          sqrt(CAST(max(CASE WHEN rk = 1 THEN d2 END)
         |            AS DOUBLE)) AS a,
         |          sqrt(CAST(max(CASE WHEN rk = 2 THEN d2 END)
         |            AS DOUBLE)) AS b
         |        FROM ka WHERE rk <= 2 GROUP BY 1),
         |sq AS (SELECT cid,
         |         CAST(floor((CASE WHEN greatest(a, b) = 0 THEN 0.0
         |             ELSE (b - a) / greatest(a, b) END)
         |           * ${Similarity.SilhouetteScale} + 0.5) AS BIGINT)
         |           AS sq
         |       FROM two WHERE b IS NOT NULL)
         |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
         |  floor(((CAST(sum(sq) AS DOUBLE) / CAST(count(*) AS DOUBLE))
         |      / CAST(${Similarity.SilhouetteScale} AS DOUBLE))
         |    * 1000000 + 0.5) / 1000000 AS mean_silhouette
         |FROM sq GROUP BY 1 ORDER BY cid NULLS LAST""".stripMargin)),
    // per-label drift between parity halves: exact fixed-point centroids,
    // null-safe label joins, round-then-compared cosine verdict
    "q_embedding_drift" -> Entry(emb(Similarity.embeddingDrift),
      // exact fixed-point per-half centroids (truncating // ≡ Spark div on
      // BOTH engines — negative component sums need no reduction when both
      // sides truncate), IS NOT DISTINCT FROM label joins, 4dp
      // round-then-compared drift verdict
      Mirror(
      s"""WITH ce AS (
         |  SELECT label, ((vec_id % 2) + 2) % 2 AS half, i AS pos,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE)
         |      * ${Similarity.KmQuantScale} + 0.5) AS BIGINT) AS q
         |  FROM (SELECT vec_id, label, embedding,
         |          unnest(generate_series(1, len(embedding))) AS i
         |        FROM embeddings)),
         |ms AS (SELECT label, half, pos,
         |         CAST(sum(q) AS BIGINT) // CAST(count(*) AS BIGINT) AS m
         |       FROM ce GROUP BY 1, 2, 3),
         |d AS (SELECT a.label, CAST(sum(a.m * b.m) AS BIGINT) AS dot,
         |        CAST(sum(a.m * a.m) AS BIGINT) AS na,
         |        CAST(sum(b.m * b.m) AS BIGINT) AS nb
         |      FROM (SELECT * FROM ms WHERE half = 0) a
         |      JOIN (SELECT * FROM ms WHERE half = 1) b
         |        ON a.label IS NOT DISTINCT FROM b.label
         |          AND a.pos = b.pos
         |      GROUP BY 1),
         |c AS (SELECT label,
         |        CAST(sum(CASE WHEN ((vec_id % 2) + 2) % 2 = 0
         |          THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         |        CAST(sum(CASE WHEN ((vec_id % 2) + 2) % 2 = 1
         |          THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
         |      FROM embeddings GROUP BY 1),
         |z AS (SELECT d.label, c.n_ref, c.n_cur,
         |        CASE WHEN d.na = 0 OR d.nb = 0 THEN NULL
         |          ELSE floor(CAST(d.dot AS DOUBLE)
         |            / (sqrt(CAST(d.na AS DOUBLE))
         |              * sqrt(CAST(d.nb AS DOUBLE)))
         |            * 10000 + 0.5) / 10000 END AS centroid_cosine
         |      FROM d JOIN c ON d.label IS NOT DISTINCT FROM c.label)
         |SELECT label, n_ref, n_cur, centroid_cosine,
         |  COALESCE(centroid_cosine
         |    < CAST(${Similarity.DriftCosine}e0 AS DOUBLE), false)
         |    AS is_drift
         |FROM z ORDER BY label NULLS LAST""".stripMargin)),
    // MMR diverse re-rank: greedy λ·rel − (1−λ)·max-sim-to-selected over
    // a constants-bounded candidate pool, all in exact long arithmetic;
    // the mirror unrolls the identical greedy as MmrK CTE rounds
    "q_mmr_rerank" -> Entry(emb(Similarity.mmrRerank),
      // the greedy unrolled as MmrK generated CTE rounds, exact longs
      Mirror(mmrSql)),
    // per-label distribution of exact long projections onto the trained
    // top principal direction (driver power iteration over exact long
    // moments — bit-deterministic, weights replay into the mirror)
    "q_pca_projection" -> Entry((s, dir) => {
      val e = Sources.table(s, dir, "embeddings")
      val w = pcaDir.serve(dir)(Similarity.trainPcaDirection(e))
      Similarity.pcaProjections(e, w)
    },
      // trained principal direction as a VALUES CTE; exact long projections
      Mirror(pcaSql)),
    // per-dimension embedding health (dead/saturated dims, 3σ outlier
    // cells) on the exact-moment discipline over quantized longs
    "q_embedding_dim_stats" -> Entry(emb(Similarity.dimStats),
      // exact-moment discipline on quantized longs: n/Σq/Σq² exact, the
      // IDENTICAL double op sequence both sides (incl. the greatest(…, 0)
      // variance clamp), 3σ outlier predicate round-then-compared at 6dp
      Mirror(
      s"""WITH ce AS (
         |  SELECT i AS pos,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE)
         |      * ${Similarity.DimStatsScale} + 0.5) AS BIGINT) AS q
         |  FROM (SELECT embedding,
         |          unnest(generate_series(1, len(embedding))) AS i
         |        FROM embeddings)),
         |st AS (
         |  SELECT pos, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(q) AS BIGINT) AS s,
         |    CAST(sum(q * q) AS BIGINT) AS ss
         |  FROM ce GROUP BY 1),
         |m AS (
         |  SELECT pos, n,
         |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
         |    sqrt(greatest(
         |      CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
         |        - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
         |          * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)),
         |      CAST(0 AS DOUBLE))) AS std_q
         |  FROM st),
         |o AS (
         |  SELECT ce.pos, CAST(count(*) AS BIGINT) AS n_out
         |  FROM ce JOIN m ON ce.pos = m.pos
         |  WHERE floor(abs(CAST(ce.q AS DOUBLE) - m.mean_q) * 1000000
         |          + 0.5) / 1000000
         |      > floor(3 * m.std_q * 1000000 + 0.5) / 1000000
         |  GROUP BY 1)
         |SELECT m.pos, m.n,
         |  floor((m.mean_q / CAST(${Similarity.DimStatsScale} AS DOUBLE))
         |    * 1000000 + 0.5) / 1000000 AS mean,
         |  floor((m.std_q / CAST(${Similarity.DimStatsScale} AS DOUBLE))
         |    * 1000000 + 0.5) / 1000000 AS std,
         |  CAST(COALESCE(o.n_out, 0) AS BIGINT) AS n_outliers
         |FROM m LEFT JOIN o ON m.pos = o.pos
         |ORDER BY m.pos""".stripMargin)),
    // Matryoshka truncation quality: mean cos(v, v[:d]) per prefix
    // length — the retained-mass curve that sizes a truncated serving
    // index; per-vector 4dp quantization before the corpus mean
    "q_matryoshka_quality" -> Entry(emb(Similarity.matryoshkaQuality(_)),
      // Matryoshka truncation quality: cos(v, v[:d]) = sqrt(prefix mass) /
      // sqrt(total mass) — index-order sums (the accepted KNN sum class),
      // IEEE sqrt/divide, per-vector 4dp quantization BEFORE the corpus
      // mean; zero-norm vectors drop in both engines; dims interpolate
      // from the shared constant
      Mirror(
      s"""WITH dims(d) AS (VALUES ${Similarity.MatryoshkaDims
            .map(d => s"($d)").mkString(", ")}),
         |s AS (
         |  SELECT e.vec_id, d.d,
         |    sum(CASE WHEN t.i <= d.d
         |      THEN CAST(e.embedding[t.i] AS DOUBLE)
         |        * CAST(e.embedding[t.i] AS DOUBLE) END) AS sd,
         |    sum(CAST(e.embedding[t.i] AS DOUBLE)
         |      * CAST(e.embedding[t.i] AS DOUBLE)) AS sall
         |  FROM embeddings e, dims d, generate_series(1, 64) t(i)
         |  GROUP BY 1, 2),
         |q AS (
         |  SELECT d, CAST(floor(sqrt(sd) / sqrt(sall) * 10000 + 0.5)
         |    AS BIGINT) AS q
         |  FROM s WHERE sall > 0)
         |SELECT CAST(d AS BIGINT) AS dim_prefix,
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  floor(((CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE))
         |    / CAST(10000 AS DOUBLE)) * 1000000 + 0.5) / 1000000
         |    AS mean_prefix_cosine
         |FROM q GROUP BY 1 ORDER BY 1""".stripMargin)),
    // embedding-space outlier scores: similarity to the own-label centroid
    "q_centroid_sim" -> Entry(emb(Similarity.centroidSimilarity), Mirror(
      """WITH cent AS (
        |  SELECT label, t.i AS pos,
        |    floor((sum(CAST(embedding[t.i] AS DOUBLE)) / count(*)) * 1000000 + 0.5)
        |      / 1000000 AS m
        |  FROM embeddings, generate_series(1, 64) t(i) GROUP BY 1, 2),
        |s AS (
        |  SELECT e.vec_id, e.label,
        |    sum(CAST(e.embedding[c.pos] AS DOUBLE) * c.m) AS dot,
        |    sum(CAST(e.embedding[c.pos] AS DOUBLE)
        |        * CAST(e.embedding[c.pos] AS DOUBLE)) AS nv,
        |    sum(c.m * c.m) AS nc
        |  FROM embeddings e JOIN cent c ON e.label = c.label
        |  GROUP BY 1, 2)
        |SELECT vec_id, label,
        |  floor(dot / (sqrt(nv) * sqrt(nc)) * 10000 + 0.5) / 10000 AS centroid_sim
        |FROM s ORDER BY vec_id""".stripMargin)),
    "q_knn_batch" -> Entry(emb(Similarity.batchKnn(_)), Mirror(
      """WITH s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id,
        |    sum(CAST(c.embedding[t.i] AS DOUBLE) * CAST(q.embedding[t.i] AS DOUBLE)) AS dot,
        |    sum(CAST(c.embedding[t.i] AS DOUBLE) * CAST(c.embedding[t.i] AS DOUBLE)) AS na,
        |    sum(CAST(q.embedding[t.i] AS DOUBLE) * CAST(q.embedding[t.i] AS DOUBLE)) AS nb
        |  FROM embeddings q, embeddings c, generate_series(1, 64) t(i)
        |  WHERE q.vec_id < 5 AND c.vec_id >= 5
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT query_id, vec_id, dot / (sqrt(na) * sqrt(nb)) AS sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, vec_id) AS rank
        |  FROM s WHERE na > 0 AND nb > 0)
        |SELECT query_id, rank, vec_id,
        |  floor(sim * 10000 + 0.5) / 10000 AS cosine_sim
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),
    // the all-kNN map (nearest neighbor of EVERY vector): exact all-pairs
    // baseline with bounded-heap per-group top-k
    "q_knn_all" -> Entry(emb(Similarity.allNearestNeighbors(_)),
      // all-kNN map: every vector's nearest neighbor; the window mirror of
      // the bounded-heap TopK (same tiebreak: sim desc, nn_id asc)
      Mirror(
      """WITH s AS (
        |  SELECT q.vec_id, c.vec_id AS nn_id,
        |    sum(CAST(c.embedding[t.i] AS DOUBLE) * CAST(q.embedding[t.i] AS DOUBLE)) AS dot,
        |    sum(CAST(c.embedding[t.i] AS DOUBLE) * CAST(c.embedding[t.i] AS DOUBLE)) AS na,
        |    sum(CAST(q.embedding[t.i] AS DOUBLE) * CAST(q.embedding[t.i] AS DOUBLE)) AS nb
        |  FROM embeddings q, embeddings c, generate_series(1, 64) t(i)
        |  WHERE q.vec_id <> c.vec_id
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT vec_id, nn_id, dot / (sqrt(na) * sqrt(nb)) AS sim,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, nn_id) AS rank
        |  FROM s WHERE na > 0 AND nb > 0)
        |SELECT vec_id, rank, nn_id,
        |  floor(sim * 10000 + 0.5) / 10000 AS cosine_sim
        |FROM r WHERE rank <= 1 ORDER BY vec_id, rank""".stripMargin)),
    // hard-negative mining: most-similar DIFFERENT-label vectors per
    // vector — the tiled all-pairs shape with a label-inequality filter
    "q_hard_negatives" -> Entry(emb(Similarity.hardNegatives(_)),
      // hard negatives: the window mirror of the label-filtered bounded-heap
      // TopK (tiebreak sim desc, neg_id asc); k interpolates from the shared
      // constant; NULL labels drop via the <> null algebra on both sides
      Mirror(
      s"""WITH s AS (
         |  SELECT q.vec_id, q.label, c.vec_id AS neg_id,
         |    c.label AS neg_label,
         |    sum(CAST(c.embedding[t.i] AS DOUBLE) * CAST(q.embedding[t.i] AS DOUBLE)) AS dot,
         |    sum(CAST(c.embedding[t.i] AS DOUBLE) * CAST(c.embedding[t.i] AS DOUBLE)) AS na,
         |    sum(CAST(q.embedding[t.i] AS DOUBLE) * CAST(q.embedding[t.i] AS DOUBLE)) AS nb
         |  FROM embeddings q, embeddings c, generate_series(1, 64) t(i)
         |  WHERE q.label <> c.label
         |  GROUP BY 1, 2, 3, 4),
         |r AS (
         |  SELECT vec_id, label, neg_id, neg_label,
         |    dot / (sqrt(na) * sqrt(nb)) AS sim,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, neg_id) AS rank
         |  FROM s WHERE na > 0 AND nb > 0)
         |SELECT vec_id, label, CAST(rank AS BIGINT) AS rank, neg_id,
         |  neg_label, floor(sim * 10000 + 0.5) / 10000 AS cosine_sim
         |FROM r WHERE rank <= ${Similarity.HardNegativesK}
         |ORDER BY vec_id, rank""".stripMargin)),
    // margin-based pair mining (Artetxe & Schwenk forward margin):
    // cos(x,y) normalized by the mean of both sides' local kNN
    // densities — ratio > 1 separates true pairs from hubness; avgK
    // folds rank-pivoted sims left-associatively, margins are one more
    // identical division, and even the margin ORDER BY matches. Mirror:
    // marginPairsSql (the knn_batch index-order-sum class)
    "q_margin_pairs" -> Entry(emb(Similarity.marginPairs),
      // generated margin-mining mirror: both kNN-density terms as
      // rank-pivot + left-assoc chains over index-order cosine sums, the
      // margin as the identical final division; NULL/zero denominators
      // drop in both engines
      Mirror(marginPairsSql)),
    // the ANN route for the SAME task — IVF shortlist (equi-join on the
    // cell id, never a cross product), label filter, exact re-rank; the
    // generated mirror replays the trained centroids as a VALUES CTE so
    // the whole probe pipeline rides the hash gate; recall vs the exact
    // entry is spec-bound in SimilaritySpec. Cells scale as √N (see
    // ivfSqrtCells).
    "q_hard_negatives_ann" -> Entry((s, dir) => {
      val emb = Sources.table(s, dir, "embeddings")
      Similarity.hardNegativesAnn(emb, ivfSqrtCells(s, dir, emb))
    },
      // the ANN route's generated mirror: trained centroids as VALUES CTEs,
      // identical assignment/probe/shortlist/re-rank pipeline in SQL
      Mirror(hardNegativesAnnSql)),
    // SemDeDup-style semantic dedup: within-IVF-cell cosine pruning
    // (keep-first at the 4dp-rounded tau), per-cell report output; the
    // IVF partition bounds the quadratic term at N^1.5 (the ANN
    // family's asymptotics) and the mirror replays assignment + pair
    // sims from the same centroid VALUES machinery (semDedupSql)
    "q_semdedup" -> Entry((s, dir) => {
      val emb = Sources.table(s, dir, "embeddings")
      Similarity.semDedup(emb, ivfSqrtCells(s, dir, emb))
    },
      // generated SemDeDup mirror: IVF assignment replay + within-cell
      // pair cosines rounded before the tau compare + per-cell report
      Mirror(semDedupSql)),
    // PQ-ADC-routed variant (VERDICT r13 #3): the IVF shortlist is scored
    // by m table lookups against 8-byte codes (memoized per-query LUT),
    // only the ADC top-C per query is exactly re-ranked at full dimension
    // — dominant cost drops from N^1.5 full-dim MACs to N^1.5 lookups +
    // N·C MACs. The generated mirror (hardNegativesAnnPqSql) replays the
    // trained codebooks as VALUES CTEs and recomputes the IDENTICAL ADC
    // pipeline (encode argmin, two-level LUT sums with a left-associative
    // subspace chain, top-C, exact re-rank), so the approximate route
    // rides the hash gate row-by-row; recall vs the exact-within-
    // shortlist entry is spec-bound.
    "q_hard_negatives_ann_pq" -> Entry((s, dir) => {
      val emb = Sources.table(s, dir, "embeddings")
      val cents = ivfSqrtCells(s, dir, emb)
      // ksub adapts DOWN on degenerate/tiny corpora (fuzz frames): the
      // probe is one aggregate (run once per dir per JVM — it lives
      // inside the cache thunk), the artifact name carries the effective
      // value, and on the real corpora the cap (32) always wins — the
      // same on-disk artifact q_pq_knn trains
      val cbs = pqCodebooks.serve(s"$dir#adaptive") {
        val ks = Similarity.maxSupportedKsub(emb)
        ArtifactStore.pqCodebooks(s, dir, s"pq-m16-k$ks-s42")(
          Similarity.trainPqCodebooks(emb, ksub = ks))
      }
      Similarity.hardNegativesAnnPq(emb, cents, cbs)
    },
      // generated ADC-replay mirror: encode argmin + two-level LUT sums +
      // top-C + exact re-rank, all from the cached trained codebooks —
      // the approximate route rides the hash gate row-by-row
      Mirror(hardNegativesAnnPqSql)),
    "q_lsh_knn" -> Entry(emb(Similarity.lshTopK(_)),
      NoOracle("sign-LSH candidates are hash-dependent")),
    "q_ivf_knn" -> Entry((s, dir) => {
      val emb = Sources.table(s, dir, "embeddings")
      Similarity.ivfTopK(emb,
        ivfCentroids.cached(s"$dir#c16")(
          ArtifactStore.ivfCentroids(s, dir, "ivf-c16-s42")(
            Similarity.trainIvfCentroids(emb))),
        queryVecId = 0L, k = 10, nProbe = 4)
    }, NoOracle("probed cells depend on k-means training")),
    // product-quantization ANN: codes are 8 bytes/vector, scoring is ADC
    // lookups; no oracle (codebook reconstruction error is
    // training-dependent) — recall vs the exact path is spec-pinned
    "q_pq_knn" -> Entry((s, dir) => {
      val emb = Sources.table(s, dir, "embeddings")
      Similarity.pqTopK(emb,
        pqCodebooks.cached(s"$dir#k32")(
          ArtifactStore.pqCodebooks(s, dir, "pq-m16-k32-s42")(
            Similarity.trainPqCodebooks(emb))),
        queryVecId = 0L, k = 10)
    }, NoOracle("codebook reconstruction error is training-dependent")),
    "q_embedding_neardups" -> Entry(emb(Similarity.embeddingNearDups(_)),
      NoOracle("sign-LSH buckets are hash-dependent")),
    "q_asof_last_purchase" -> Entry(ev(ops.AsOfJoin.lastPurchaseAsOfView),
      Mirror(
      """WITH p AS (
         |  SELECT user_id, ts, value FROM (
         |    SELECT user_id, ts, value,
         |      row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
         |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
         |v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view')
         |SELECT v.event_id, v.user_id, v.ts,
         |  p.value AS last_purchase_value,
         |  epoch_us(v.ts) - epoch_us(p.ts) AS us_since_purchase
         |FROM v ASOF LEFT JOIN p
         |  ON v.user_id = p.user_id AND p.ts <= v.ts
         |ORDER BY event_id""".stripMargin)),
    "q_view_purchase_30m" -> Entry(ev(ops.AsOfJoin.viewToPurchaseWithin(_)),
      Mirror(ViewPurchasePairsSql)),
    "q_funnel_conversions" -> Entry((s, dir) => {
      import s.implicits._
      StreamingQueries.toConversionInput(Sources.events(s, dir))
        .transform(df => graft.streaming.FunnelState.conversions(s,
          df.as[graft.streaming.FunnelState.In]).toDF())
        // full tiebreak: one user can convert twice within a timestamp tick
        .orderBy("user_id", "purchaseAt", "viewAt", "purchaseValue")
    },
      // the reset-on-purchase state machine, unrolled as a recursive CTE:
      // each segment is (first view after cursor) → (first click after it) →
      // (first purchase after it); the cursor jumps to the converting
      // purchase. Non-converting purchases / repeat views / early clicks
      // never advance the machine, so scoping each LATERAL probe to the next
      // matching event reproduces FunnelState.update exactly. Shared verbatim
      // with q_funnel_conversions_tws: fMGWS ≡ transformWithState proof.
      Mirror(FunnelConversionsSql)),
    // the Spark 4 transformWithState twin of q_funnel_conversions — same
    // machine on the modern arbitrary-state API, sharing the recursive-CTE
    // oracle verbatim: the hash gate is the fMGWS ≡ TWS equivalence proof.
    // TWS executes only on the RocksDB state store, so the entry builds on
    // a per-query session carrying it (execution is lazy and reads the
    // frame's own session conf): the caller's session, and every stateful
    // entry evaluated after this one, keep their own store.
    "q_funnel_conversions_tws" -> Entry((caller, dir) => {
      val s = GraftSession.derive(caller, Tuning.rocksDbStateStore)
      import s.implicits._
      StreamingQueries.toConversionInput(Sources.events(s, dir))
        .transform(df => graft.streaming.FunnelStateTws.conversions(s,
          df.as[graft.streaming.FunnelState.In]).toDF())
        .orderBy("user_id", "purchaseAt", "viewAt", "purchaseValue")
    }, Mirror(FunnelConversionsSql)),
    // ---- streaming twins (Structured Streaming over a file stream) ----
    "q_stream_funnel" -> Entry((s, dir) =>
      StreamingQueries.runCompleteMode(s, dir, "stream_funnel")(
        StreamingQueries.funnelCounts).orderBy("event_type"),
      Mirror(FunnelCountsSql)),
    "q_stream_daily_revenue" -> Entry((s, dir) =>
      StreamingQueries.runCompleteMode(s, dir, "stream_daily_revenue")(
        StreamingQueries.dailyRevenueWindowed).orderBy("event_date"), Mirror(
      s"""SELECT CAST(ts AS DATE) AS event_date, $MoneySumValue AS total_revenue
         |FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""".stripMargin)),
    // streaming session_window twin sharing q_sessionization's oracle
    // verbatim: native streaming session windows ≡ the batch aggregation
    // (complete mode: session state merges across micro-batches and every
    // session is emitted at the end — no watermark-withheld tail)
    "q_stream_sessions" -> Entry((s, dir) =>
      StreamingQueries.runCompleteMode(s, dir, "stream_sessions")(
        ops.WindowedQueries.sessionize(_))
        .orderBy("user_id", "session_start"),
      // streaming session_window ≡ batch sessionization: shared verbatim
      Mirror(SessionizationSql)),
    // the PRODUCTION streaming-session configuration: watermark + append
    // mode, sessions finalized deterministically by a far-future sentinel
    // batch (see runAppendFinalized) — shares q_sessionization's oracle
    // verbatim, so the hash gate proves append-finalization ≡ batch
    "q_stream_sessions_append" -> Entry((s, dir) =>
      StreamingQueries.runAppendFinalized(s, dir, "stream_sessions_append")(
        StreamingQueries.sessionizeAppend(_))
        // batch-side defensive sentinel filter (cannot affect the stream's
        // watermark; the in-stream form would push below it — see scaladoc)
        .filter(col("user_id") =!= -1L)
        .orderBy("user_id", "session_start"),
      // watermark + append-mode finalization ≡ batch: shared verbatim
      Mirror(SessionizationSql)),
    // the production daily-revenue stream: watermark + APPEND-mode 1-day
    // tumbling windows, sentinel-finalized — shares q_daily_revenue's
    // oracle verbatim (the q_stream_sessions_append pattern); the sentinel
    // window (year 2100) is never emitted, filtered batch-side anyway
    "q_stream_daily_revenue_append" -> Entry((s, dir) =>
      StreamingQueries.runAppendFinalized(s, dir, "stream_daily_rev_append")(
        StreamingQueries.windowedRevenue(_, delay = "0 seconds"))
        .filter(col("event_date") < lit("2099-01-01").cast("date"))
        .orderBy("event_date"), Mirror(DailyRevenueSql)),
    // streaming hopping windows sharing q_sliding_revenue's oracle
    // verbatim (batch ≡ stream, the q_stream_sessions pattern)
    "q_stream_sliding_revenue" -> Entry((s, dir) =>
      StreamingQueries.runCompleteMode(s, dir, "stream_sliding_rev")(
        ops.WindowedQueries.slidingRevenue).orderBy("window_start"),
      Mirror(SlidingRevenueSql)),
    // stream-static dimension join: streamed purchases ⋈ broadcast static
    // customer, hash-matched against the batch join SQL
    "q_stream_segment_revenue" -> Entry((s, dir) => {
      val cust = Sources.table(s, dir, "customer")
      StreamingQueries.runCompleteMode(s, dir, "stream_segment_rev")(
        StreamingQueries.segmentRevenue(_, cust)).orderBy("segment")
    },
      // stream-static join twin: the streamed broadcast-enriched aggregate
      // must hash-match the plain batch join SQL
      Mirror(
      s"""SELECT c.c_mktsegment AS segment, $MoneySumValue AS revenue,
         |  count(*) AS n_purchases
         |FROM events e JOIN customer c ON e.user_id = c.c_custkey
         |WHERE e.event_type = 'purchase'
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // the STATEFUL streaming lag: one last-event record per user emits
    // transition pairs incrementally (flatMapGroupsWithState); the
    // rollup runs on the materialized pair stream and shares
    // q_event_transitions' oracle verbatim — stateful ≡ window lag
    "q_stream_event_transitions" -> Entry((s, dir) => {
      import s.implicits._
      val pairs = StreamingQueries.runStream(s, dir,
        "stream_transitions", "append")(ev =>
        streaming.TransitionState.transitions(s,
          ev.select(col("event_id"), col("ts"), col("user_id"),
            col("event_type")).as[streaming.TransitionState.In]).toDF)
      EventQueries.transitionRollup(
        pairs.select(col("prev_type"), col("next_type")))
    },
      // the stateful streaming lag on the SAME oracle verbatim: the gate
      // certifies flatMapGroupsWithState-lag ≡ window-lag on real data
      Mirror(EventTransitionsSql)),
    // watermark-aligned-TTL twin: per-user last-event state evicts once
    // the watermark passes the user's last activity by the horizon —
    // state bounded by the active-user window, the 100 TB-stream
    // configuration. Parity holds inside the horizon (a bounded replay
    // never evicts mid-stream), so the entry shares EventTransitionsSql;
    // the evicted-key return miss is spec-pinned (StreamingSpec)
    "q_stream_event_transitions_ttl" -> Entry((s, dir) => {
      import s.implicits._
      val pairs = StreamingQueries.runStream(s, dir,
        "stream_transitions_ttl", "append")(ev =>
        streaming.TransitionState.transitionsTtl(s,
          ev.select(col("event_id"), col("ts"), col("user_id"),
            col("event_type")).as[streaming.TransitionState.In]).toDF)
      EventQueries.transitionRollup(
        pairs.select(col("prev_type"), col("next_type")))
    },
      // TTL twin: parity inside the horizon (a bounded replay never
      // evicts mid-stream) — the same oracle verbatim
      Mirror(EventTransitionsSql)),
    // streaming top categories: the aggregate runs IN-stream (complete
    // mode), the rank+limit on the materialized result — shares
    // q_top_category_revenue's oracle verbatim, certifying batch ≡
    // streamed category revenue (the q_stream_daily_revenue pattern
    // extended to a top-k consumer)
    "q_stream_top_categories" -> Entry((s, dir) =>
      StreamingQueries.runCompleteMode(s, dir, "stream_top_cat")(ev =>
        ev.filter(col("event_type") === "purchase")
          .groupBy(get_json_object(col("props"), "$.k").as("category"))
          .agg(Exprs.moneySum(col("value")).as("revenue")))
        .orderBy(col("revenue").desc, col("category").asc_nulls_last)
        .limit(15),
      // streaming twin on the SAME oracle verbatim: batch ≡ streamed
      Mirror(TopCategorySql)),
    // exact first-seen dedup for the hash-checked entry: the bounded
    // (watermark-evicting) variant can re-emit a duplicate that arrives
    // after its state was evicted, so its exact match is batch-order-
    // dependent — it ships as the separate unchecked production query below
    "q_stream_dau" -> Entry((s, dir) =>
      StreamingQueries.countDailyActiveUsers(
        StreamingQueries.runStream(s, dir, "stream_dau", "append")(
          StreamingQueries.dedupDailyUsers)), Mirror(DailyActiveUsersSql)),
    "q_stream_dau_bounded" -> Entry((s, dir) =>
      StreamingQueries.countDailyActiveUsers(
        StreamingQueries.runStream(s, dir, "stream_dau_b", "append")(
          StreamingQueries.dedupDailyUsersBounded(_))),
      NoOracle("watermark eviction makes re-emission batch-order-dependent")),
    // the GATED TTL variant: a distinct on the dedup key before the count
    // absorbs eviction re-emissions (the q_stream_user_streaks_ttl
    // absorption discipline), so bounded state + exact counts coexist —
    // shares q_stream_dau's oracle verbatim
    "q_stream_dau_ttl" -> Entry((s, dir) =>
      StreamingQueries.countDailyActiveUsers(
        StreamingQueries.runStream(s, dir, "stream_dau_ttl", "append")(
          StreamingQueries.dedupDailyUsersBounded(_))
          .dropDuplicates("event_date", "event_type", "user_id")),
      // bounded dedup + distinct-absorbing finisher ≡ exact DAU
      Mirror(DailyActiveUsersSql)),
    "q_stream_attribution" -> Entry((s, dir) =>
      StreamingQueries.countAttributionPairs(
        StreamingQueries.runStream(s, dir, "stream_attr", "append")(
          StreamingQueries.streamAttributionPairs(_))),
      Mirror(ViewPurchasePairsSql)),
    // the streaming NEGATION query: watermarked LEFT OUTER stream-stream
    // interval join — unmatched views emit only when the watermark proves
    // no purchase can still match, so this entry runs sentinel-finalized
    // and hash-matches the batch NOT EXISTS oracle
    "q_stream_abandoned_views" -> Entry((s, dir) =>
      StreamingQueries.countAbandonedViews(
        StreamingQueries.runAppendFinalized(s, dir, "stream_abandoned")(
          StreamingQueries.streamAbandonedViews(_))
          .filter(col("view_ts") < lit("2099-01-01").cast("timestamp"))),
      // the outer-join negation of q_stream_attribution: views with NO
      // same-user purchase in the interval — the streaming left-outer join's
      // eviction-driven emission must reproduce the batch NOT EXISTS
      Mirror(
      """SELECT CAST(v.ts AS DATE) AS event_date, count(*) AS abandoned_views
        |FROM events v
        |WHERE v.event_type = 'view' AND NOT EXISTS (
        |  SELECT 1 FROM events p
        |  WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        |    AND p.ts >= v.ts
        |    AND epoch_us(p.ts) - epoch_us(v.ts) <= 1800000000)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // streaming text pipeline: stateful exact dedup over a DOCUMENT stream
    "q_stream_doc_dedup" -> Entry((s, dir) =>
      StreamingQueries.countUniqueDocs(
        StreamingQueries.runTableStream(s, dir, "documents",
          "stream_doc_dedup", "append")(StreamingQueries.dedupDocs)),
      // streaming first-seen (lang, text) dedup + count ≡ batch distinct;
      // count over a DISTINCT subquery, not count(DISTINCT text) — the
      // latter ignores NULL text while dropDuplicates keeps the null row
      Mirror(
      """SELECT lang, count(*) AS n_unique
        |FROM (SELECT DISTINCT lang, text FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // streaming decontamination: the documents STREAM probed against the
    // static benchmark shingle set (stream-static broadcast join, per-doc
    // aggregation in complete mode) — contaminationReport is reused
    // verbatim, and the entry shares ContaminationSql with the exact and
    // bloom variants: a THREE-way shared-oracle proof (batch exact ≡
    // sketch-prefiltered ≡ incremental-over-a-stream)
    "q_stream_contamination" -> Entry((s, dir) => {
      val bench = Sources.table(s, dir, "documents")
        .filter(col("doc_id") % 25 === 0)
      StreamingQueries.runTableStream(s, dir, "documents",
        "stream_contam", "complete")(docs =>
        Decontaminate.contaminationReport(
          docs.filter(col("doc_id") % 25 =!= 0), bench))
        .orderBy("doc_id")
    },
      // the streamed corpus probe must reproduce the batch report exactly
      Mirror(ContaminationSql)))

  // DuckDB mirrors. Numeric discipline (see graft.Exprs): money sums via
  // DECIMAL(18,6); double rounding via floor(x*s+0.5)/s — both bit-equal
  // across engines.
  /** Target mixture for `q_domain_rebalance` — shared by the Spark plan
    * and the generated naive-rank mirror ([[TextOps.rebalanceSql]]). */
  private val RebalanceWeights =
    Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1)

  private val MoneySumValue = Exprs.moneySumSql("value")
  // shared by q_doc_quality and q_quality_filter (no ORDER BY: callers add
  // their own)
  private val DocQualitySelect =
    """SELECT doc_id, n_chars,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  floor((CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |         / len(string_split(text, ' '))) * 100 + 0.5) / 100 AS avg_word_len,
      |  floor((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |         / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS lexical_diversity,
      |  floor((CAST(len(list_filter(string_split(text, ' '),
      |           w -> w IN ('the','a','of','and','to','in','is','it','that','you'))) AS DOUBLE)
      |         / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS stopword_ratio,
      |  CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT) AS n_sentence_marks
      |FROM documents""".stripMargin
  // shared CTE prologue (shingles -> DF cap -> sizes -> intersections) for
  // q_ngram_jaccard and q_jaccard_curve: the curve is only meaningful over
  // the exact pair population the top-pairs query ranks, so both mirrors
  // render from ONE definition, and the shingle width + DF cap interpolate
  // from Dedup's shared constants (the shared-constant discipline — a
  // retuned Spark default re-renders the oracle instead of hash-failing)
  /** Distinct word-`w`-gram shingles CTE body, rendered from a shared
    * Scala width constant (never a literal — the shared-constant rule). */
  private def shinglesCte(shOut: String, w: Int): String =
    s"""  SELECT DISTINCT doc_id, array_to_string(toks[i:i+${w - 1}], ' ') AS $shOut
       |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${w - 1})) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |              WHERE len(string_split(text, ' ')) >= $w))""".stripMargin

  private def jaccardShinglesCte(shOut: String): String =
    shinglesCte(shOut, ext.Dedup.JaccardShingleWidth)

  /** Contamination-family width, shared with the Scala side. */
  private val ContW = ext.Decontaminate.ShingleWidth

  /** Exact fixed-point k-means assignment prologue shared by the
    * q_kmeans_step / q_cluster_balanced_sample mirrors (the shared-CTE
    * discipline): K / quantization scale interpolate from
    * [[ext.Similarity]]'s constants; seed = pmod(vec_id, K) rendered in
    * the ((x % n) + n) % n form; centroid means via truncating `//`
    * (≡ Spark `div` — both truncate toward zero). `kw` is the final
    * (vec_id, seed, new_cid, d2) assignment frame. */
  private def KmeansAssignCte: String = {
    val k = ext.Similarity.KmeansK
    val q = ext.Similarity.KmQuantScale
    s"""kve AS (
       |  SELECT vec_id, seed, i AS pos,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * $q + 0.5)
       |      AS BIGINT) AS qv
       |  FROM (SELECT vec_id, ((vec_id % $k) + $k) % $k AS seed, embedding,
       |          unnest(generate_series(1, len(embedding))) AS i
       |        FROM embeddings)),
       |kcent AS (SELECT seed AS cid, pos,
       |            CAST(sum(qv) AS BIGINT) // count(*) AS m
       |          FROM kve GROUP BY 1, 2),
       |kd AS (SELECT v.vec_id, v.seed, c.cid,
       |         CAST(sum((v.qv - c.m) * (v.qv - c.m)) AS BIGINT) AS d2
       |       FROM kve v JOIN kcent c ON v.pos = c.pos
       |       GROUP BY 1, 2, 3),
       |ka AS (SELECT vec_id, seed, cid, d2,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY d2, cid) AS rk
       |       FROM kd),
       |kw AS (SELECT vec_id, seed, cid AS new_cid, d2 FROM ka
       |       WHERE rk = 1)""".stripMargin
  }
  private val JaccardPairsCte =
    s"""WITH sh AS (
       |${jaccardShinglesCte("shingle")}),
       |kept AS (
       |  SELECT sh.doc_id, sh.shingle FROM sh
       |  JOIN (SELECT shingle FROM sh GROUP BY 1
       |        HAVING count(*) <= ${ext.Dedup.MaxShingleDf}) d
       |    USING (shingle)),
       |sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS common
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  private val Rev = "CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE)"
  // shared by q_revenue_by_nation and q_revenue_by_nation_salted: the salted
  // join must hash-match the PLAIN join SQL — salted ≡ unsalted proof
  private val RevenueByNationSql =
    s"""SELECT n_name, $Rev AS revenue, count(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin
  // shared by q_dup_clusters (min-label propagation) and q_dup_clusters_star
  // (large-star/small-star): both label with the component-min doc_id, so
  // one reachability oracle hash-checks both
  private val DupClustersSql =
    s"""WITH RECURSIVE sh AS (
      |${jaccardShinglesCte("shingle")}),
      |kept AS (
      |  SELECT sh.doc_id, sh.shingle FROM sh
      |  JOIN (SELECT shingle FROM sh GROUP BY 1
      |        HAVING count(*) <= ${ext.Dedup.MaxShingleDf}) d
      |    USING (shingle)),
      |sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS common
      |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc1, doc2
      |  FROM inter JOIN sz s1 ON doc1 = s1.doc_id JOIN sz s2 ON doc2 = s2.doc_id
      |  WHERE floor((CAST(common AS DOUBLE) / (s1.sz + s2.sz - common))
      |          * 1000000 + 0.5) / 1000000 >= 0.5),
      |e AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
      |      UNION SELECT doc2, doc1 FROM pairs),
      |reach(src, node) AS (
      |  SELECT DISTINCT src, src FROM e
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN e ON r.node = e.src)
      |SELECT src AS doc_id, min(node) AS cluster_id,
      |  CAST(count(*) AS BIGINT) AS cluster_size
      |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  /** GENERATED mirror for `q_bpe_tokens` (see [[bpeMerges]]): the trained
    * merge list rendered as a chain of nested DuckDB `replace()` calls
    * over the same double-U+001F-separator representation the Spark
    * expression uses — literally the same algorithm in both engines
    * (`replace` is left-to-right non-overlapping in both). With no merges
    * cached yet (oracleSql read before any query ran — not the Verify
    * order) the chain is empty and the mirror counts codepoints. */
  /** The trained-merge replace-chain CTEs (`tok`, `enc`) shared by the
    * per-doc mirror ([[bpeOracleSql]]) and the per-lang fertility
    * rollup ([[bpeFertilitySql]]). */
  private def bpeEncCte: String = {
    val merges = bpeMerges.lastServed.getOrElse(Seq.empty)
    val S = "\u001f"
    val base = "chr(31) || array_to_string(string_split(tok, ''), " +
      "chr(31) || chr(31)) || chr(31)"
    val enc = merges.foldLeft(base) { case (acc, (a, b)) =>
      s"replace($acc, ${sqlLit(S + a + S + S + b + S)}, ${sqlLit(S + a + b + S)})"
    }
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents),
       |enc AS (SELECT doc_id,
       |          CASE WHEN tok = '' THEN 1
       |               ELSE len(string_split($enc, chr(31) || chr(31)))
       |          END AS n_sub
       |        FROM tok)""".stripMargin
  }

  /** GENERATED mirror for `q_dsir_weights` (see [[dsirRatios]]): the
    * trained micro-nat log ratios replay as a VALUES CTE — the mirror
    * never evaluates `ln`, it LEFT-joins the same constants onto the
    * token stream and sums exact longs (OOV rows join NULL and fall out
    * of the COALESCE'd sum, the served expression's neutral-0 contract).
    * Null-text docs emit no token rows in either engine. With no
    * ratios cached yet (oracleSql read before any query ran — not the
    * Verify order) the vocabulary is empty and every token is OOV. */
  /** A DuckDB string literal (single quotes doubled). */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Renders a trained (token, long) vocabulary as a `v(tok, <alias>)`
    * VALUES CTE body, or a typed empty stub when nothing is trained yet —
    * shared by [[dsirSql]], [[nbQualitySql]] and [[ceVocabRendered]]. */
  private def vocabValuesSql(toks: Array[String], vals: Array[Long],
      alias: String): String =
    if (toks.isEmpty)
      "(SELECT CAST(NULL AS VARCHAR) AS tok, " +
        s"CAST(NULL AS BIGINT) AS $alias WHERE false)"
    else "(VALUES " + toks.indices.map(i =>
      s"(${sqlLit(toks(i))}, ${vals(i)})").mkString(", ") + ")"

  /** Renders a trained `(query_id, tok, idf_micro)` table as a VALUES
    * CTE body (empty-safe — the dsirSql fallback discipline). */
  private def qtValuesSql(qt: Seq[(Long, String, Long)]): String =
    if (qt.isEmpty)
      "(SELECT CAST(NULL AS BIGINT) AS query_id, " +
        "CAST(NULL AS VARCHAR) AS tok, CAST(NULL AS BIGINT) AS idf_micro " +
        "WHERE false)"
    // CAST both longs: DuckDB types small VALUES literals INT32, and
    // query_id lands in the output schema (the driver's schema gate)
    else "(VALUES " + qt.map { case (q, t, i) =>
      s"(CAST($q AS BIGINT), ${sqlLit(t)}, CAST($i AS BIGINT))"
    }.mkString(", ") + ")"

  /** Shared BM25 prologue CTEs (→ `bagg(query_id, doc_id,
    * score_micro)`) for [[bm25SearchSql]] and [[hybridSearchSql]] — the
    * bpeEncCte sharing discipline. Every IEEE op mirrors
    * [[graft.ext.Retrieval.bm25Scores]] position-for-position:
    * `(((idf/1e6) * (tf*(k1+1))) / (tf + k1*((1-b) + b*(dl/avgdl)))) *
    * 1e6 + 0.5` floored to a BIGINT, then the per-doc sum is exact long
    * arithmetic. Constants render via [[dblSql]] from the SAME Scala
    * values (Bm25K1Plus1 is the COMPUTED `1.2 + 1.0`, not a re-typed
    * `2.2` — the two differ in the last ulp). */
  private def bm25CoreSql(qtValues: String): String =
    s"""qt(query_id, tok, idf_micro) AS $qtValues,
       |bmd AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |bdl AS (SELECT doc_id,
       |          CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |        FROM bmd),
       |bst AS (SELECT CASE WHEN count(*) > 0 THEN
       |          CAST(COALESCE(sum(len(string_split(text, ' '))), 0)
       |            AS DOUBLE) / CAST(count(*) AS DOUBLE) END AS avgdl
       |        FROM bmd),
       |btok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |         FROM bmd),
       |btf AS (SELECT q.query_id, t.doc_id, q.tok, q.idf_micro,
       |          CAST(count(*) AS BIGINT) AS tf
       |        FROM btok t JOIN qt q USING (tok) GROUP BY 1, 2, 3, 4),
       |bsc AS (SELECT f.query_id, f.doc_id,
       |          CAST(floor(CAST(f.idf_micro AS DOUBLE) / 1000000e0
       |            * (CAST(f.tf AS DOUBLE)
       |               * ${dblSql(Retrieval.Bm25K1Plus1)})
       |            / (CAST(f.tf AS DOUBLE) + ${dblSql(Retrieval.Bm25K1)}
       |               * (${dblSql(Retrieval.Bm25OneMinusB)}
       |                  + ${dblSql(Retrieval.Bm25B)}
       |                    * (CAST(l.dl AS DOUBLE) / s.avgdl)))
       |            * 1000000e0 + 0.5e0) AS BIGINT) AS s_micro
       |        FROM btf f JOIN bdl l USING (doc_id), bst s),
       |bagg AS (SELECT query_id, doc_id,
       |           CAST(sum(s_micro) AS BIGINT) AS score_micro
       |         FROM bsc GROUP BY 1, 2)""".stripMargin

  /** GENERATED mirror for `q_bm25_search`: the driver-trained idf table
    * as a VALUES CTE + the shared BM25 core + row_number top-k (≡
    * TopKPairs' score-desc/id-asc). */
  private def bm25SearchSql: String = {
    val qt = bm25Idf.lastServed.getOrElse(Seq.empty)
    s"""WITH ${bm25CoreSql(qtValuesSql(qt))},
       |r AS (SELECT query_id, doc_id, score_micro,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY score_micro DESC, doc_id) AS rank
       |      FROM bagg)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       |  score_micro, CAST(score_micro AS DOUBLE) / 1000000e0 AS score
       |FROM r WHERE rank <= ${Retrieval.Bm25TopK}
       |ORDER BY query_id, rank""".stripMargin
  }

  /** GENERATED mirror for `q_hybrid_search`: shared BM25 core over the
    * query DOCS' trained terms (self-matches excluded before ranking),
    * the exact cosine ranking of the same ids' embeddings (index-order
    * sums — the accepted KNN-mirror class; zero-norm pairs filtered),
    * then RRF fusion `1/(60+r)` with pinned (bm25, cosine) addition
    * order and NULL ranks contributing 0 via COALESCE. */
  private def hybridSearchSql: String = {
    val qt = hybridTerms.lastServed.getOrElse(Seq.empty)
    val ids = Retrieval.HybridQueryIds.mkString(", ")
    s"""WITH ${bm25CoreSql(qtValuesSql(qt))},
       |rb AS (SELECT query_id, doc_id, rank FROM (
       |         SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY score_micro DESC, doc_id) AS rank
       |         FROM bagg WHERE doc_id <> query_id)
       |       WHERE rank <= ${Retrieval.RrfListDepth}),
       |cq AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
       |         sum(CAST(q.embedding[t.i] AS DOUBLE)
       |           * CAST(c.embedding[t.i] AS DOUBLE)) AS dot,
       |         sum(CAST(q.embedding[t.i] AS DOUBLE)
       |           * CAST(q.embedding[t.i] AS DOUBLE)) AS nq,
       |         sum(CAST(c.embedding[t.i] AS DOUBLE)
       |           * CAST(c.embedding[t.i] AS DOUBLE)) AS nc
       |       FROM embeddings q, embeddings c, generate_series(1, 64) t(i)
       |       WHERE q.vec_id IN ($ids) AND c.vec_id <> q.vec_id
       |       GROUP BY 1, 2),
       |rc AS (SELECT query_id, doc_id, rank FROM (
       |         SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY dot / (sqrt(nq) * sqrt(nc)) DESC, doc_id)
       |             AS rank
       |         FROM cq WHERE nq > 0 AND nc > 0)
       |       WHERE rank <= ${Retrieval.RrfListDepth}),
       |fu AS (SELECT COALESCE(b.query_id, c.query_id) AS query_id,
       |         COALESCE(b.doc_id, c.doc_id) AS doc_id,
       |         b.rank AS bm25_rank, c.rank AS cos_rank,
       |         COALESCE(CAST(1 AS DOUBLE)
       |             / CAST(${Retrieval.RrfK} + b.rank AS DOUBLE),
       |           CAST(0 AS DOUBLE))
       |         + COALESCE(CAST(1 AS DOUBLE)
       |             / CAST(${Retrieval.RrfK} + c.rank AS DOUBLE),
       |           CAST(0 AS DOUBLE)) AS rrf
       |       FROM rb b FULL OUTER JOIN rc c
       |         ON b.query_id = c.query_id AND b.doc_id = c.doc_id),
       |rr AS (SELECT query_id, doc_id, bm25_rank, cos_rank, rrf,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY rrf DESC, doc_id) AS rank
       |       FROM fu)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       |  CAST(bm25_rank AS BIGINT) AS bm25_rank,
       |  CAST(cos_rank AS BIGINT) AS cos_rank,
       |  ${graft.Exprs.round2Sql("rrf", 6)} AS rrf
       |FROM rr WHERE rank <= ${Retrieval.HybridTopK}
       |ORDER BY query_id, rank""".stripMargin
  }

  /** GENERATED mirror for `q_prf_expansion`: shared BM25 core → top-F
    * feedback docs per query (row_number ≡ TopKPairs' score-desc/
    * doc-asc), per-(query, doc, term) tf over ONLY the feedback docs,
    * the identical `floor(tf/dl · 1e6 + 0.5)` quantization, exact long
    * sums, NOT EXISTS original-term exclusion (≡ Spark's left-anti —
    * terms are never null), row_number top-E. */
  private def prfExpansionSql: String = {
    val qt = bm25Idf.lastServed.getOrElse(Seq.empty)
    s"""WITH ${bm25CoreSql(qtValuesSql(qt))},
       |pfb AS (SELECT query_id, doc_id FROM (
       |          SELECT query_id, doc_id,
       |            row_number() OVER (PARTITION BY query_id
       |              ORDER BY score_micro DESC, doc_id) AS rk
       |          FROM bagg) WHERE rk <= ${Retrieval.PrfFeedbackDocs}),
       |ptf AS (SELECT f.query_id, f.doc_id, l.dl, t.tok AS term,
       |          CAST(count(*) AS BIGINT) AS tf
       |        FROM pfb f
       |        JOIN btok t ON t.doc_id = f.doc_id
       |        JOIN bdl l ON l.doc_id = f.doc_id
       |        GROUP BY 1, 2, 3, 4),
       |pw AS (SELECT query_id, term,
       |         CAST(sum(CAST(floor(CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE)
       |           * 1000000e0 + 0.5e0) AS BIGINT)) AS BIGINT)
       |           AS weight_micro
       |       FROM ptf GROUP BY 1, 2),
       |pe AS (SELECT w.query_id, w.term, w.weight_micro FROM pw w
       |       WHERE NOT EXISTS (SELECT 1 FROM qt q
       |         WHERE q.query_id = w.query_id AND q.tok = w.term)),
       |pr AS (SELECT query_id, term, weight_micro,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY weight_micro DESC, term) AS rank
       |       FROM pe)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, term, weight_micro,
       |  CAST(weight_micro AS DOUBLE) / 1000000e0 AS weight
       |FROM pr WHERE rank <= ${Retrieval.PrfExpansionTerms}
       |ORDER BY query_id, rank""".stripMargin
  }

  /** GENERATED mirror for `q_semdedup`: the trained IVF centroids
    * replay as VALUES CTEs and DuckDB recomputes the IDENTICAL
    * pipeline — the canonical argmin assignment (verbatim from
    * [[hardNegativesAnnSql]]), within-cell i<j pair cosines on the
    * index-order-sum class, 4dp floor-quantization BEFORE the
    * [[graft.ext.Similarity.SemDedupTau]] compare and the max
    * aggregate, keep-first drop counts, per-cell LEFT-join report. */
  private def semDedupSql: String = {
    val (cv, cn) = ivfRendered
    val tau = dblSql(Similarity.SemDedupTau)
    s"""WITH cv(cell, pos, v) AS $cv,
       |cn(cell, nrm) AS $cn,
       |dt AS (
       |  SELECT e.vec_id, c.cell,
       |    sum(CAST(e.embedding[c.pos] AS DOUBLE) * c.v) AS dt
       |  FROM embeddings e, cv c
       |  GROUP BY 1, 2),
       |sn AS (
       |  SELECT d.vec_id, d.cell,
       |    CASE WHEN d.dt = 0 THEN CAST(0e0 AS DOUBLE)
       |         ELSE -(d.dt) / n.nrm END AS negdot
       |  FROM dt d JOIN cn n USING (cell)),
       |rk AS (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY negdot, cell) AS rn
       |  FROM sn),
       |asg AS MATERIALIZED (SELECT vec_id, cell FROM rk WHERE rn = 1),
       |ps AS (SELECT a.cell, a.vec_id AS i, b.vec_id AS j
       |       FROM asg a JOIN asg b
       |         ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |sm AS (SELECT p.cell, p.i, p.j,
       |         sum(CAST(x.embedding[t.i] AS DOUBLE)
       |           * CAST(y.embedding[t.i] AS DOUBLE)) AS dot,
       |         sum(CAST(x.embedding[t.i] AS DOUBLE)
       |           * CAST(x.embedding[t.i] AS DOUBLE)) AS na,
       |         sum(CAST(y.embedding[t.i] AS DOUBLE)
       |           * CAST(y.embedding[t.i] AS DOUBLE)) AS nb
       |       FROM ps p
       |       JOIN embeddings x ON x.vec_id = p.i
       |       JOIN embeddings y ON y.vec_id = p.j,
       |       generate_series(1, 64) t(i)
       |       GROUP BY 1, 2, 3),
       |s4 AS MATERIALIZED (
       |  SELECT cell, i, j,
       |    floor(dot / (sqrt(na) * sqrt(nb)) * 10000 + 0.5) / 10000
       |      AS sim4
       |  FROM sm WHERE na > 0 AND nb > 0),
       |dr AS (SELECT DISTINCT cell, j FROM s4 WHERE sim4 >= $tau),
       |bs AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
       |       FROM asg GROUP BY 1),
       |pst AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_pairs,
       |          max(sim4) AS max_sim
       |        FROM s4 GROUP BY 1),
       |dst AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_dropped
       |        FROM dr GROUP BY 1)
       |SELECT CAST(b.cell AS BIGINT) AS cell, b.n_vecs,
       |  COALESCE(p.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
       |  COALESCE(d.n_dropped, CAST(0 AS BIGINT)) AS n_dropped,
       |  p.max_sim
       |FROM bs b LEFT JOIN pst p USING (cell) LEFT JOIN dst d USING (cell)
       |ORDER BY cell""".stripMargin
  }

  /** Generated mirror for `q_margin_pairs`: anchor→corpus cosines on
    * the accepted index-order-sum class, both avgK normalization terms
    * as rank-pivot `max(CASE WHEN rank=i …)` chains added
    * LEFT-ASSOCIATIVELY over exactly K ranks then divided by the
    * constant K, the margin as the identical final division; candidates
    * with a NULL chain (fewer than K scoreable sims) or a zero
    * denominator drop in both engines. Constants interpolate from
    * [[graft.ext.Similarity]]. */
  private def marginPairsSql: String = {
    val nq = Similarity.MarginQueries
    val k = Similarity.MarginK
    val c = Similarity.MarginCandidateDepth
    def chain(sim: String) = (1 to k)
      .map(i => s"max(CASE WHEN rank = $i THEN $sim END)")
      .reduceLeft((a, b) => s"($a + $b)")
    s"""WITH ms AS (
       |  SELECT q.vec_id AS query_id, e.vec_id,
       |    sum(CAST(e.embedding[t.i] AS DOUBLE)
       |      * CAST(q.embedding[t.i] AS DOUBLE)) AS dot,
       |    sum(CAST(e.embedding[t.i] AS DOUBLE)
       |      * CAST(e.embedding[t.i] AS DOUBLE)) AS na,
       |    sum(CAST(q.embedding[t.i] AS DOUBLE)
       |      * CAST(q.embedding[t.i] AS DOUBLE)) AS nb
       |  FROM embeddings q, embeddings e, generate_series(1, 64) t(i)
       |  WHERE q.vec_id >= 0 AND q.vec_id < $nq AND e.vec_id >= $nq
       |  GROUP BY 1, 2),
       |msim AS (SELECT query_id, vec_id, dot / (sqrt(na) * sqrt(nb)) AS sim
       |         FROM ms WHERE na > 0 AND nb > 0),
       |mxr AS (SELECT query_id, vec_id, sim,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY sim DESC, vec_id) AS rank
       |        FROM msim),
       |mxa AS (SELECT query_id, ${chain("sim")} / ${k}e0 AS ax
       |        FROM mxr WHERE rank <= $k GROUP BY 1),
       |mcand AS (SELECT query_id, vec_id, sim FROM mxr WHERE rank <= $c),
       |mys AS (SELECT DISTINCT vec_id FROM mcand),
       |mt AS (SELECT y.vec_id, q.vec_id AS aid,
       |         sum(CAST(y.embedding[t.i] AS DOUBLE)
       |           * CAST(q.embedding[t.i] AS DOUBLE)) AS dot,
       |         sum(CAST(y.embedding[t.i] AS DOUBLE)
       |           * CAST(y.embedding[t.i] AS DOUBLE)) AS na,
       |         sum(CAST(q.embedding[t.i] AS DOUBLE)
       |           * CAST(q.embedding[t.i] AS DOUBLE)) AS nb
       |       FROM embeddings y JOIN mys USING (vec_id),
       |         embeddings q, generate_series(1, 64) t(i)
       |       WHERE q.vec_id >= 0 AND q.vec_id < $nq
       |       GROUP BY 1, 2),
       |mysim AS (SELECT vec_id, aid, dot / (sqrt(na) * sqrt(nb)) AS sim
       |          FROM mt WHERE na > 0 AND nb > 0),
       |myr AS (SELECT vec_id, sim,
       |          row_number() OVER (PARTITION BY vec_id
       |            ORDER BY sim DESC, aid) AS rank
       |        FROM mysim),
       |mya AS (SELECT vec_id, ${chain("sim")} / ${k}e0 AS ay
       |        FROM myr WHERE rank <= $k GROUP BY 1),
       |mm AS (SELECT c.query_id, c.vec_id, c.sim,
       |         c.sim / ((x.ax + y.ay) / 2e0) AS margin
       |       FROM mcand c JOIN mxa x USING (query_id)
       |       JOIN mya y USING (vec_id)
       |       WHERE (x.ax + y.ay) / 2e0 <> 0),
       |mr AS (SELECT query_id, vec_id, sim, margin,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY margin DESC, vec_id) AS rank
       |       FROM mm)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
       |  ${graft.Exprs.round2Sql("margin", 6)} AS margin,
       |  ${graft.Exprs.round2Sql("sim", 4)} AS cosine_sim
       |FROM mr ORDER BY query_id, rank""".stripMargin
  }

  /** Generated mirror for `q_textrank_keywords`: the SAME capped
    * co-occurrence graph (top-V tokens by frequency, window-2
    * adjacencies symmetrized, co-occurrence weights, once-quantized
    * transition probabilities) built in SQL, then the SAME fixed-point
    * rounds unrolled one CTE each (the pagerank-mirror discipline). All
    * iteration arithmetic is non-negative BIGINT `+`/`*`/`//` ≡ Spark's
    * driver-side Long ops; scale, damping, vocab cap and round count
    * interpolate from the [[graft.ext.Retrieval]] constants. */
  private def textRankKeywordsSql(
      rounds: Int = Retrieval.TextRankRounds): String = {
    val sc = Retrieval.TextRankScale
    val base = Retrieval.TextRankBase
    val rs = (1 to rounds).map { i =>
      s"""ts$i AS MATERIALIZED (
         |  SELECT v.tok, $base + (85 * COALESCE(c.cs, 0)) // 100 AS s
         |  FROM tvocab v LEFT JOIN
         |    (SELECT p.v AS tok,
         |       CAST(sum((r.s * p.p) // $sc) AS BIGINT) AS cs
         |     FROM tp p JOIN ts${i - 1} r ON r.tok = p.u GROUP BY 1) c
         |    USING (tok))""".stripMargin
    }.mkString(",\n")
    s"""WITH tdoc AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |tpos AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, toks[i] AS tok FROM (
       |    SELECT doc_id, toks,
       |      unnest(generate_series(1, len(toks))) AS i
       |    FROM tdoc)),
       |tvocab AS MATERIALIZED (
       |  SELECT tok FROM (
       |    SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rk
       |    FROM (SELECT tok, count(*) AS c FROM tpos GROUP BY tok))
       |  WHERE rk <= ${Retrieval.TextRankVocab}),
       |tadj AS MATERIALIZED (
       |  SELECT a.tok AS u, b.tok AS v
       |  FROM tpos a JOIN tpos b
       |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |  WHERE a.tok <> b.tok
       |    AND a.tok IN (SELECT tok FROM tvocab)
       |    AND b.tok IN (SELECT tok FROM tvocab)),
       |tw AS MATERIALIZED (
       |  SELECT u, v, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT u, v FROM tadj
       |    UNION ALL SELECT v AS u, u AS v FROM tadj)
       |  GROUP BY 1, 2),
       |tdeg AS MATERIALIZED (
       |  SELECT u, CAST(sum(w) AS BIGINT) AS wd FROM tw GROUP BY 1),
       |tp AS MATERIALIZED (
       |  SELECT w.u, w.v, (w.w * $sc) // d.wd AS p
       |  FROM tw w JOIN tdeg d USING (u)),
       |ts0 AS MATERIALIZED (
       |  SELECT tok, CAST($sc AS BIGINT) AS s FROM tvocab),
       |$rs,
       |tr AS (SELECT tok, s,
       |         row_number() OVER (ORDER BY s DESC, tok) AS rank
       |       FROM ts$rounds)
       |SELECT CAST(rank AS BIGINT) AS rank, tok,
       |  CAST(s AS BIGINT) AS score_micro,
       |  CAST(s AS DOUBLE) / ${sc}e0 AS score
       |FROM tr WHERE rank <= ${Retrieval.TextRankTopK}
       |ORDER BY rank""".stripMargin
  }

  private def dsirSql: String = {
    val (toks, qlogs) = dsirRatios.lastServed
      .getOrElse((Array.empty[String], Array.empty[Long]))
    s"""WITH v(tok, qw) AS ${vocabValuesSql(toks, qlogs, "qw")},
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents WHERE text IS NOT NULL),
       |sc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT)
       |           AS n_oov,
       |         CAST(COALESCE(sum(v.qw), 0) AS BIGINT) AS logw_micro
       |       FROM tok t LEFT JOIN v USING (tok) GROUP BY 1)
       |SELECT doc_id, n_tokens, n_oov, logw_micro
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // gopher rule expressions shared by the q_gopher_rules mirror and the
  // NB-distillation mirror (nbQualitySql) — the teacher verdict renders
  // from ONE definition, thresholds interpolate from TextOps' constants
  // (DuckDB x/0 is NULL, matching the Spark side's explicit empty-text
  // null-out)
  private val GopherAlphaSql =
    "floor(((CAST(length(text) " +
      "- length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)) " +
      "/ CAST(length(text) AS DOUBLE)) * 10000 + 0.5) / 10000"
  private val GopherMwlSql =
    "floor((CAST(length(text) - (len(string_split(text, ' ')) - 1) " +
      "AS DOUBLE) " +
      "/ CAST(len(string_split(text, ' ')) AS DOUBLE)) * 10000 + 0.5) " +
      "/ 10000"
  private val GopherKeepSql =
    s"($GopherAlphaSql >= CAST(${TextOps.GopherMinAlpha}e0 AS DOUBLE) " +
      s"AND $GopherMwlSql BETWEEN " +
      s"CAST(${TextOps.GopherMinWordLen}e0 AS DOUBLE) " +
      s"AND CAST(${TextOps.GopherMaxWordLen}e0 AS DOUBLE))"

  /** GENERATED mirror for `q_nb_quality_score` (see [[nbWeights]]): the
    * trained micro-nat log-likelihood ratios replay as a VALUES CTE (the
    * dsirSql discipline — neither engine evaluates `ln` at query time),
    * the teacher verdict recomputes from [[GopherKeepSql]], and the
    * student-vs-teacher agreement is IS NOT DISTINCT FROM ↔ Spark `<=>`
    * (defensive — the verdict is non-NULL for non-null text: an empty
    * text's NULL alpha ratio collapses to FALSE via null AND false in
    * both engines). Every
    * text-non-null doc emits ≥1 token row (string_split('') = ['']), so
    * the scores join is inner. */
  private def nbQualitySql: String = {
    val (toks, ws) = nbWeights.lastServed
      .getOrElse((Array.empty[String], Array.empty[Long]))
    s"""WITH v(tok, qw) AS ${vocabValuesSql(toks, ws, "qw")},
       |base AS (SELECT doc_id, $GopherKeepSql AS gk
       |         FROM documents WHERE text IS NOT NULL),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents WHERE text IS NOT NULL),
       |sc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT)
       |           AS n_oov,
       |         CAST(COALESCE(sum(v.qw), 0) AS BIGINT) AS nb_margin_micro
       |       FROM tok t LEFT JOIN v USING (tok) GROUP BY 1)
       |SELECT b.doc_id, sc.n_tokens, sc.n_oov, sc.nb_margin_micro,
       |  sc.nb_margin_micro >= 0 AS nb_keep, b.gk AS gopher_keep,
       |  (sc.nb_margin_micro >= 0) IS NOT DISTINCT FROM b.gk AS agree
       |FROM base b JOIN sc USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** GENERATED mirror for `q_nb_calibration` — [[nbQualitySql]] wrapped
    * as a CTE (the same trained VALUES prologue), margin bins via
    * divisibility-reduced floor division (negative margins: truncate ≡
    * floor only on the exactly-divisible numerator) and a symmetric
    * clamp, shares and counts as exact longs. */
  private def nbCalibrationSql: String = {
    val w = TextOps.NbCalibrationBinMicro
    val k = TextOps.NbCalibrationMaxBin
    s"""WITH base AS ($nbQualitySql),
       |b AS (SELECT greatest(least(
       |    (nb_margin_micro - (((nb_margin_micro % $w) + $w) % $w)) // $w,
       |    $k), -$k) AS margin_bin,
       |    gopher_keep, agree
       |  FROM base)
       |SELECT CAST(margin_bin AS BIGINT) AS margin_bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN gopher_keep THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_teacher_keep,
       |  CAST(sum(CASE WHEN agree THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  floor((CAST(sum(CASE WHEN agree THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000
       |    AS agree_share
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** GENERATED mirror for `q_source_crossentropy` (see [[ceCosts]]): the
    * trained micro-nat costs replay as a VALUES CTE (the dsirSql
    * discipline), each OOV token pays the trained constant, and the
    * per-source division runs the identical double op order. n_docs is
    * count(DISTINCT doc_id) on the token stream — every non-null-text
    * doc emits ≥1 token row (string_split('') = ['']), so it equals the
    * Spark side's per-doc-row count. */
  /** The cached [[ceArtifact]] rendered for mirror generation: the
    * vocab VALUES body (or an empty-typed stub) + the OOV constant —
    * shared by [[crossEntropySql]] and [[lmOutliersSql]]. */
  private def ceVocabRendered: (String, Long) = {
    val (toks, costs, oov) = ceCosts.lastServed
      .getOrElse((Array.empty[String], Array.empty[Long], 0L))
    (vocabValuesSql(toks, costs, "qc"), oov)
  }

  private def crossEntropySql: String = {
    val (vocabCte, oov) = ceVocabRendered
    // n_docs counts doc ROWS per source (ADVICE r12: a distinct over the
    // token stream would diverge from Spark's per-doc-row count if a
    // fuzz frame ever planted a duplicated doc_id); the re-attach join is
    // null-safe on source (the fuzzer-found null-strata class)
    s"""WITH v(tok, qc) AS $vocabCte,
       |tok AS (SELECT doc_id, source,
       |          unnest(string_split(text, ' ')) AS tok
       |        FROM documents WHERE text IS NOT NULL),
       |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       |       FROM documents WHERE text IS NOT NULL GROUP BY 1),
       |sc AS (SELECT source,
       |         CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT)
       |           AS n_oov,
       |         CAST(COALESCE(sum(v.qc), 0)
       |             + count(*) FILTER (WHERE v.tok IS NULL) * $oov
       |           AS BIGINT) AS cost_micro
       |       FROM tok t LEFT JOIN v USING (tok) GROUP BY 1)
       |SELECT sc.source, nd.n_docs, sc.n_tokens, sc.n_oov, sc.cost_micro,
       |  floor(((CAST(cost_micro AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |      / CAST(${TextOps.DsirLogScale} AS DOUBLE)) * 1000000 + 0.5)
       |    / 1000000 AS nats_per_token
       |FROM sc JOIN nd ON sc.source IS NOT DISTINCT FROM nd.source
       |ORDER BY sc.source NULLS LAST""".stripMargin
  }

  /** GENERATED mirror for `q_lm_outliers` — the [[crossEntropySql]]
    * vocab replayed per DOC: cost is an exact long, the mean nats
    * quantize to a 4dp long BEFORE the corpus moments, the z runs the
    * identical double sequence, and the verdict compares the ROUNDED z
    * against the shared threshold (zero-variance z is NULL → false). */
  private def lmOutliersSql: String = {
    val (vocabCte, oov) = ceVocabRendered
    val scale = TextOps.DsirLogScale
    s"""WITH v(tok, qc) AS $vocabCte,
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents WHERE text IS NOT NULL),
       |pd AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(floor((CAST(COALESCE(sum(v.qc), 0)
       |               + count(*) FILTER (WHERE v.tok IS NULL) * $oov
       |             AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |             / CAST($scale AS DOUBLE)) * 10000 + 0.5) AS BIGINT)
       |           AS nats4
       |       FROM tok t LEFT JOIN v USING (tok) GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(nats4) AS BIGINT) AS t,
       |        CAST(sum(nats4 * nats4) AS BIGINT) AS ss
       |      FROM pd),
       |e AS (SELECT CAST(t AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
       |        sqrt(greatest(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
       |            - (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
       |              * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE)),
       |          CAST(0 AS DOUBLE))) AS std
       |      FROM m),
       |z AS (SELECT pd.doc_id, pd.n_tokens,
       |        CAST(pd.nats4 AS DOUBLE) / CAST(10000 AS DOUBLE)
       |          AS nats_per_token,
       |        floor((CASE WHEN e.std = 0 THEN NULL
       |            ELSE (CAST(pd.nats4 AS DOUBLE) - e.mean) / e.std END)
       |          * 10000 + 0.5) / 10000 AS z
       |      FROM pd CROSS JOIN e)
       |SELECT doc_id, n_tokens, nats_per_token, z,
       |  COALESCE(abs(z) > CAST(${TextOps.LmOutlierZ}e0 AS DOUBLE), false)
       |    AS is_outlier
       |FROM z ORDER BY doc_id""".stripMargin
  }

  /** GENERATED mirror for `q_pca_projection` (see [[pcaDir]]): the
    * trained fixed-point direction replays as a VALUES CTE (1-based
    * positions ↔ Spark's 0-based posexplode pairing the same component
    * with the same weight); projections and min/max are exact longs, the
    * mean divides exact longs in doubles and de-quantizes by the one
    * double product constant both engines render from the shared scales
    * (exponent-suffixed — the benfordSql DOUBLE-literal rule). */
  private def pcaSql: String = {
    val ws = pcaDir.lastServed.getOrElse(Array.empty[Long])
    val wCte =
      if (ws.isEmpty)
        "(SELECT CAST(NULL AS INTEGER) AS pos, CAST(NULL AS BIGINT) AS w " +
          "WHERE false)"
      else "(VALUES " + ws.indices.map(i =>
        s"(${i + 1}, ${ws(i)})").mkString(", ") + ")"
    val deq = ext.Similarity.DimStatsScale.toDouble *
      ext.Similarity.PcaScale.toDouble
    s"""WITH w(pos, w) AS $wCte,
       |pc AS (SELECT vec_id, label, i AS pos,
       |         CAST(floor(CAST(embedding[i] AS DOUBLE)
       |           * ${ext.Similarity.DimStatsScale} + 0.5) AS BIGINT) AS q
       |       FROM (SELECT vec_id, label, embedding,
       |               unnest(generate_series(1, len(embedding))) AS i
       |             FROM embeddings)),
       |pr AS (SELECT c.vec_id, c.label,
       |         CAST(sum(c.q * w.w) AS BIGINT) AS praw
       |       FROM pc c JOIN w USING (pos) GROUP BY 1, 2),
       |ag AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |         CAST(min(praw) AS BIGINT) AS min_praw,
       |         CAST(max(praw) AS BIGINT) AS max_praw,
       |         CAST(sum(praw) AS BIGINT) AS sum_praw
       |       FROM pr GROUP BY 1)
       |SELECT label, n_vecs, min_praw, max_praw,
       |  floor(((CAST(sum_praw AS DOUBLE) / CAST(n_vecs AS DOUBLE))
       |      / CAST($deq AS DOUBLE)) * 1000000 + 0.5)
       |    / 1000000 AS mean_proj
       |FROM ag ORDER BY label NULLS LAST""".stripMargin
  }

  /** Mirror for `q_mmr_rerank` (not data-dependent — generated from the
    * shared constants alone): the greedy unrolls as [[Similarity.MmrK]]
    * CTE rounds (the pagerank_exact fixed-round discipline), each round
    * an argmax of λden·rel6 − (den−num)·pen6 over the candidates not yet
    * selected, penalty = max candidate-pair sim6 to the union of all
    * prior rounds. Every comparison is on exact longs (sims quantized at
    * [[Similarity.MmrSimScale]] before ANY ordering — round-then-compare);
    * prologue CTEs are AS MATERIALIZED (the recursion/file-descriptor
    * rule: sel_r references cand and ps r times over). */
  private def mmrSql: String = {
    val k = Similarity.MmrK
    val c = Similarity.MmrCandidates
    val qid = Similarity.MmrQueryId
    val sc = Similarity.MmrSimScale
    val wr = Similarity.MmrLambdaNum
    val wp = Similarity.MmrLambdaDen - Similarity.MmrLambdaNum
    val deqS = Similarity.MmrSimScale * Similarity.MmrLambdaDen
    val rounds = (2 to k).map { r =>
      val prev = (1 until r).map(i => s"SELECT vec_id FROM sel$i")
        .mkString(" UNION ALL ")
      s"""sel$r AS MATERIALIZED (
         |  SELECT cd.vec_id, cd.rel6, p.pen6,
         |    $wr * cd.rel6 - $wp * p.pen6 AS score
         |  FROM cand cd JOIN (
         |    SELECT ai AS vec_id, max(sim6) AS pen6 FROM ps
         |    WHERE bi IN ($prev) GROUP BY 1) p USING (vec_id)
         |  WHERE cd.vec_id NOT IN ($prev)
         |  ORDER BY score DESC, cd.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val sels = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rank, vec_id, rel6, pen6, score " +
        s"FROM sel$r").mkString("\n  UNION ALL ")
    s"""WITH rel0 AS MATERIALIZED (
       |  SELECT c.vec_id,
       |    sum(CAST(c.embedding[t.i] AS DOUBLE) * CAST(q.embedding[t.i] AS DOUBLE)) AS dot,
       |    sum(CAST(c.embedding[t.i] AS DOUBLE) * CAST(c.embedding[t.i] AS DOUBLE)) AS na,
       |    sum(CAST(q.embedding[t.i] AS DOUBLE) * CAST(q.embedding[t.i] AS DOUBLE)) AS nb
       |  FROM embeddings q, embeddings c, generate_series(1, 64) t(i)
       |  WHERE q.vec_id = $qid AND c.vec_id <> $qid
       |  GROUP BY 1),
       |cand AS MATERIALIZED (
       |  SELECT vec_id, rel6 FROM (
       |    SELECT vec_id, rel6,
       |      row_number() OVER (ORDER BY rel6 DESC, vec_id) AS rk
       |    FROM (SELECT vec_id,
       |            CAST(floor(dot / (sqrt(na) * sqrt(nb)) * $sc + 0.5)
       |              AS BIGINT) AS rel6
       |          FROM rel0 WHERE na > 0 AND nb > 0))
       |  WHERE rk <= $c),
       |pd AS MATERIALIZED (
       |  SELECT a.vec_id AS ai, b.vec_id AS bi,
       |    sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS dot,
       |    sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(a.embedding[t.i] AS DOUBLE)) AS na,
       |    sum(CAST(b.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS nb
       |  FROM embeddings a, embeddings b, generate_series(1, 64) t(i)
       |  WHERE a.vec_id IN (SELECT vec_id FROM cand)
       |    AND b.vec_id IN (SELECT vec_id FROM cand)
       |    AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |ps AS MATERIALIZED (
       |  SELECT ai, bi,
       |    CAST(floor(dot / (sqrt(na) * sqrt(nb)) * $sc + 0.5) AS BIGINT)
       |      AS sim6
       |  FROM pd),
       |sel1 AS MATERIALIZED (
       |  SELECT vec_id, rel6, CAST(0 AS BIGINT) AS pen6,
       |    $wr * rel6 AS score
       |  FROM cand ORDER BY score DESC, vec_id LIMIT 1),
       |$rounds
       |SELECT rank, vec_id,
       |  CAST(rel6 AS DOUBLE) / CAST($sc AS DOUBLE) AS relevance,
       |  CAST(pen6 AS DOUBLE) / CAST($sc AS DOUBLE) AS penalty,
       |  CAST(score AS DOUBLE) / CAST($deqS AS DOUBLE) AS mmr_score
       |FROM ($sels)
       |ORDER BY rank""".stripMargin
  }

  /** GENERATED mirror for `q_tfidf_pairs` (see [[tfidfN]]): the idf
    * table is the pure formula [[ext.Dedup.idfTable]] over the cached
    * corpus-size scalar, replayed as a VALUES CTE (ln is driver-only);
    * everything downstream is exact long arithmetic + IEEE sqrt in the
    * identical op order. Zero-idf dfs are absent from the table on both
    * sides, so surviving norms are positive. */
  private def tfidfPairsSql: String = {
    val n = tfidfN.lastServed.getOrElse(0L)
    val idf = ext.Dedup.idfTable(n)
    val vals = idf.indices.collect {
      case i if idf(i) > 0 => s"(${i + 1}, ${idf(i)})" }
    val idfCte =
      if (vals.isEmpty)
        "(SELECT CAST(NULL AS BIGINT) AS df, CAST(NULL AS BIGINT) AS idf " +
          "WHERE false)"
      else "(VALUES " + vals.mkString(", ") + ")"
    s"""WITH idf(df, idf) AS $idfCte,
       |tfr AS (
       |  SELECT doc_id, tok,
       |    least(CAST(count(*) AS BIGINT), ${ext.Dedup.TfidfTfCap}) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents WHERE text IS NOT NULL)
       |  GROUP BY 1, 2),
       |dfr AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tfr GROUP BY 1
       |  HAVING count(*) BETWEEN 2 AND ${ext.Dedup.TfidfPairMaxDf}),
       |w AS (
       |  SELECT t.doc_id, t.tok, t.tf * i.idf AS w
       |  FROM tfr t JOIN dfr d USING (tok) JOIN idf i ON d.df = i.df),
       |nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
       |        FROM w GROUP BY 1),
       |dd AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       |    CAST(sum(a.w * b.w) AS BIGINT) AS dot
       |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc1, doc2, dot,
       |  floor(CAST(dot AS DOUBLE)
       |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
       |    * 1000000 + 0.5) / 1000000 AS cosine
       |FROM dd JOIN nrm na ON doc1 = na.doc_id
       |JOIN nrm nb ON doc2 = nb.doc_id
       |ORDER BY cosine DESC, doc1, doc2
       |LIMIT ${ext.Dedup.TfidfPairsK}""".stripMargin
  }

  /** GENERATED mirror for `q_compression_dist` (see
    * [[compressionBuckets]]): the cached per-bucket doc counts replay as
    * a VALUES CTE and the distribution arithmetic — bounded cumulative
    * window, 4dp share, edge double, integer-compare verdict — runs
    * cross-engine. Constants interpolate from the shared
    * [[TextOps.CompressionBucketWidth]]/[[TextOps.CompressionFlagBucket]]
    * (the shared-constant discipline); the exponent-suffix double literal
    * is the benfordSql rule. */
  private def compressionDistSql: String = {
    val counts = compressionBuckets.lastServed.getOrElse(Seq.empty)
    // empty cache → a ZERO-row CTE (a NULL placeholder row would survive
    // the windows and mismatch Spark's empty frame)
    val bCte =
      if (counts.isEmpty)
        "(SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) WHERE 1 = 0)"
      else "(VALUES " + counts.map { case (b, n) =>
        s"(CAST($b AS BIGINT), CAST($n AS BIGINT))" }.mkString(", ") + ")"
    s"""WITH b(bucket, n_docs) AS $bCte,
       |c AS (SELECT bucket, n_docs,
       |  CAST(sum(n_docs) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_docs,
       |  CAST(sum(n_docs) OVER () AS BIGINT) AS total FROM b)
       |SELECT bucket,
       |  CAST(bucket AS DOUBLE) / ${TextOps.CompressionBucketWidth}e0
       |    AS ratio_lo,
       |  n_docs, cum_docs,
       |  floor(CAST(cum_docs AS DOUBLE) / CAST(total AS DOUBLE) * 10000
       |    + 0.5) / 10000 AS cum_share,
       |  bucket < ${TextOps.CompressionFlagBucket} AS too_compressible
       |FROM c ORDER BY bucket""".stripMargin
  }

  private def bpeOracleSql: String =
    s"""WITH $bpeEncCte
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       |  floor(CAST(sum(n_sub) AS DOUBLE) / count(*) * 100 + 0.5) / 100
       |    AS subwords_per_token
       |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-lang fertility mirror over the SAME generated merge chain. */
  private def bpeFertilitySql: String =
    s"""WITH $bpeEncCte,
       |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |          CAST(sum(n_sub) AS BIGINT) AS n_sub
       |        FROM enc GROUP BY 1)
       |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(p.n_tokens) AS BIGINT) AS n_words,
       |  CAST(sum(p.n_sub) AS BIGINT) AS n_subwords,
       |  CAST(sum(len(d.text)) AS BIGINT) AS n_chars,
       |  floor(CAST(sum(p.n_sub) AS DOUBLE) / sum(p.n_tokens) * 10000
       |    + 0.5) / 10000 AS fertility,
       |  floor(CAST(sum(len(d.text)) AS DOUBLE) / sum(p.n_sub) * 10000
       |    + 0.5) / 10000 AS chars_per_subword
       |FROM documents d JOIN per p USING (doc_id)
       |WHERE d.text IS NOT NULL
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The DuckDB rendering of [[TextOps.normalizeExpr]], generated ONCE
    * from the shared NormSteps constants and referenced by both
    * normalization oracles (the MoneySumValue discipline — two inline
    * copies could silently diverge). */
  private val NormSqlExpr = {
    val (prePat, preRep) = TextOps.NormPreStep
    val base = s"lower(regexp_replace(text, '$prePat', '$preRep', 'g'))"
    val chain = TextOps.NormSteps.foldLeft(base) {
      case (acc, (p, r)) => s"regexp_replace($acc, '$p', '$r', 'g')"
    }
    s"trim($chain)"
  }

  private val ContaminationSql =
    s"""WITH sh AS (
      |${shinglesCte("shingle", ext.Decontaminate.ShingleWidth)}),
      |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 25 = 0)
      |SELECT s.doc_id, count(*) AS n_shingles,
      |  count(b.shingle) AS n_hits,
      |  floor((CAST(count(b.shingle) AS DOUBLE) / count(*)) * 1000000 + 0.5)
      |    / 1000000 AS contamination
      |FROM (SELECT * FROM sh WHERE doc_id % 25 != 0) s
      |LEFT JOIN bench b USING (shingle)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // shared by q_sliding_revenue (batch) and q_stream_sliding_revenue
  // (complete-mode stream): unnest each purchase into its two hopping
  // windows, then a plain group-by
  private val SlidingRevenueSql =
    s"""WITH w AS (SELECT unnest([CAST(ts AS DATE), CAST(ts AS DATE) - 1])
       |             AS window_start, value
       |           FROM events WHERE event_type = 'purchase')
       |SELECT window_start, $MoneySumValue AS revenue,
       |  count(*) AS n_purchases
       |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  // shared by q_sessionization (batch session_window), q_stream_sessions
  // (streaming session_window over the file stream) and — as the interval
  // source CTE — q_session_concurrency: the gaps-and-islands rewrite is
  // the engine-independent mirror of all three
  private val SessionizationBodySql =
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |y AS (
      |  SELECT user_id, ts,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM x),
      |sess AS (
      |  SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
      |    epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
      |  FROM y GROUP BY user_id, sess)""".stripMargin

  private val SessionizationSql = SessionizationBodySql +
    "\nSELECT user_id, session_start, n_events, duration_us FROM sess" +
    "\nORDER BY user_id, session_start"

  // naive inclusive-overlap self-join over the session intervals — the
  // engine-independent semantics the bucket-decomposed range join must
  // reproduce row-for-row (DuckDB plans this as its IEJoin)
  private val SessionConcurrencySql = SessionizationBodySql +
    """,
      |iv AS (
      |  SELECT user_id, session_start, epoch_us(session_start) AS s,
      |    epoch_us(session_start) + duration_us AS e
      |  FROM sess)
      |SELECT a.user_id, a.session_start,
      |  CAST(count(b.user_id) AS BIGINT) AS n_concurrent
      |FROM iv a LEFT JOIN iv b
      |  ON a.s <= b.e AND b.s <= a.e
      |  AND NOT (a.user_id = b.user_id AND a.session_start = b.session_start)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // daily peak concurrency: the naive point-in-interval count at every
  // session start (self included: b.s <= a.s <= b.e admits a = b), max
  // per start-instant day — certifies the rank-sweep's step maxima
  private val PeakConcurrencySql = SessionizationBodySql +
    """,
      |iv AS (
      |  SELECT user_id, session_start, epoch_us(session_start) AS s,
      |    epoch_us(session_start) + duration_us AS e
      |  FROM sess),
      |pt AS (
      |  SELECT a.user_id, a.session_start, CAST(count(*) AS BIGINT) AS c
      |  FROM iv a JOIN iv b ON b.s <= a.s AND b.e >= a.s
      |  GROUP BY 1, 2)
      |SELECT CAST(session_start AS DATE) AS event_date,
      |  CAST(max(c) AS BIGINT) AS peak_concurrency
      |FROM pt GROUP BY 1 ORDER BY 1""".stripMargin

  // shared winnowing prologue (hash stream `sh` + per-window minima `w`)
  // for q_winnowing and q_winnowing_pairs — the bpeEncCte discipline
  private val WinnowFpCte =
    s"""sh AS (
       |  SELECT doc_id, i AS pos,
       |    md5(array_to_string(toks[i:i+${TextOps.WinnowK - 1}], ' ')) AS h
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, len(toks) - ${TextOps.WinnowK - 1})) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |              FROM documents
       |              WHERE len(string_split(text, ' ')) >= ${TextOps.WinnowK}))),
       |w AS (SELECT doc_id,
       |        min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN CURRENT ROW
       |          AND ${TextOps.WinnowW - 1} FOLLOWING) AS fp
       |      FROM sh)""".stripMargin

  private val FunnelConversionsSql =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, event_type, ts, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |conv(user_id, cur, view_ts, purch_ts, purch_value) AS (
      |  SELECT user_id, CAST(0 AS BIGINT), CAST(NULL AS TIMESTAMP),
      |         CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)
      |  FROM (SELECT DISTINCT user_id FROM ev) u
      |  UNION ALL
      |  SELECT c.user_id, p.rn, v.ts, p.ts, p.value
      |  FROM conv c
      |  CROSS JOIN LATERAL (SELECT e.rn, e.ts FROM ev e WHERE e.user_id = c.user_id
      |    AND e.event_type = 'view' AND e.rn > c.cur ORDER BY e.rn LIMIT 1) v
      |  CROSS JOIN LATERAL (SELECT e.rn FROM ev e WHERE e.user_id = c.user_id
      |    AND e.event_type = 'click' AND e.rn > v.rn ORDER BY e.rn LIMIT 1) k
      |  CROSS JOIN LATERAL (SELECT e.rn, e.ts, e.value FROM ev e WHERE e.user_id = c.user_id
      |    AND e.event_type = 'purchase' AND e.rn > k.rn ORDER BY e.rn LIMIT 1) p)
      |SELECT user_id, view_ts AS viewAt, purch_ts AS purchaseAt,
      |  (epoch_us(purch_ts) - epoch_us(view_ts)) // 1000000 AS secondsToConvert,
      |  purch_value AS purchaseValue
      |FROM conv WHERE purch_ts IS NOT NULL
      |ORDER BY user_id, purchaseAt, viewAt, purchaseValue""".stripMargin

  // shared by q_quarantine (batch) and q_stream_quarantine (the same
  // per-row rule layer applied in foreachBatch): batch ≡ streamed split
  private val QuarantineSql =
    """WITH t AS (
      |  SELECT event_id, event_type, value,
      |    concat_ws(',',
      |      CASE WHEN event_type = 'purchase' AND value < 1.0
      |        THEN 'micro_purchase' END,
      |      CASE WHEN value > 400.0 THEN 'outlier_value' END,
      |      CASE WHEN event_type = 'error' THEN 'error_event' END)
      |      AS quarantine_reason
      |  FROM events)
      |SELECT event_id, event_type, value, quarantine_reason
      |FROM t WHERE quarantine_reason <> '' ORDER BY event_id""".stripMargin

  /** Shared by `q_weekday_seasonality` (batch) and `q_stream_weekday`
    * (complete-mode streaming daily aggregate + the same
    * [[graft.ops.EventQueries.weekdayRollup]] finisher). */
  private val WeekdaySeasonalitySql =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS event_date,
      |    sum(CAST(value AS DECIMAL(18,6))) AS rev
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |wd AS (
      |  SELECT CAST(dayofweek(event_date) + 1 AS INTEGER) AS weekday,
      |    CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(rev), 2) AS DOUBLE) AS weekday_revenue
      |  FROM d GROUP BY 1),
      |t AS (
      |  SELECT CAST(round(sum(rev), 2) AS DOUBLE) AS total_rev,
      |    CAST(count(*) AS BIGINT) AS total_days
      |  FROM d)
      |SELECT weekday, n_days, weekday_revenue,
      |  floor(((weekday_revenue / n_days) / (total_rev / total_days))
      |    * 10000 + 0.5) / 10000 AS seasonal_index
      |FROM wd CROSS JOIN t ORDER BY weekday""".stripMargin

  /** Shared by `q_seasonal_decomposition` (directly) and
    * `q_residual_anomalies` (as a MATERIALIZED prologue CTE). */
  private val SeasonalDecompSql =
    """WITH d AS MATERIALIZED (
      |  SELECT CAST(ts AS DATE) AS event_date,
      |    sum(CAST(value AS DECIMAL(18,6))) AS rev
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |wd AS (
      |  SELECT CAST(dayofweek(event_date) + 1 AS INTEGER) AS weekday,
      |    CAST(round(sum(rev), 2) AS DOUBLE) / count(*) AS wd_mean
      |  FROM d GROUP BY 1),
      |o AS (
      |  SELECT CAST(round(sum(rev), 2) AS DOUBLE) / count(*) AS om
      |  FROM d),
      |t AS (
      |  SELECT event_date, rev,
      |    CASE WHEN count(*) OVER w = 7
      |      THEN CAST(round(sum(rev) OVER w, 2) AS DOUBLE) / 7 END
      |      AS trend_raw,
      |    CAST(dayofweek(event_date) + 1 AS INTEGER) AS weekday
      |  FROM d
      |  WINDOW w AS (ORDER BY event_date
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
      |SELECT t.event_date,
      |  CAST(round(t.rev, 2) AS DOUBLE) AS revenue,
      |  floor(t.trend_raw * 10000 + 0.5) / 10000 AS trend,
      |  floor((wd.wd_mean - o.om) * 10000 + 0.5) / 10000 AS seasonal,
      |  floor((CAST(round(t.rev, 2) AS DOUBLE) - t.trend_raw -
      |    (wd.wd_mean - o.om)) * 10000 + 0.5) / 10000 AS residual
      |FROM t JOIN wd USING (weekday) CROSS JOIN o
      |ORDER BY event_date""".stripMargin

  /** Shared by `q_user_streaks` (batch) and `q_stream_user_streaks`
    * (stateful streaming dedup + the same streaksFromDays finisher). */
  private val UserStreaksSql =
    """WITH d AS (
      |  SELECT DISTINCT user_id,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num
      |  FROM events),
      |g AS (
      |  SELECT user_id,
      |    day_num - row_number() OVER (PARTITION BY user_id
      |      ORDER BY day_num) AS grp
      |  FROM d),
      |s AS (
      |  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
      |  FROM g GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
      |  max(len) AS longest_streak,
      |  CAST(count(*) AS BIGINT) AS n_streaks
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Shared by `q_velocity_flags` (batch RANGE window) and
    * `q_stream_velocity` (stateful trailing buffer + the same
    * velocityRollup finisher). */
  private val VelocityFlagsSql =
    s"""WITH b AS (
       |  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec
       |  FROM events),
       |w AS (
       |  SELECT event_id, user_id, sec,
       |    CAST(count(*) OVER (PARTITION BY user_id ORDER BY sec
       |      RANGE BETWEEN ${EventQueries.VelocityWindowSec} PRECEDING
       |        AND CURRENT ROW) AS BIGINT) AS n_in_window
       |  FROM b)
       |SELECT event_id, user_id, sec, n_in_window
       |FROM w WHERE n_in_window >= ${EventQueries.VelocityMinEvents}
       |ORDER BY event_id""".stripMargin

  // shared by q_daily_revenue (batch) and q_stream_daily_revenue_append
  // (watermark + append-mode tumbling windows, sentinel-finalized): the
  // production streaming configuration must hash-match the batch SQL
  // the batch entries' mirrors, shared verbatim by their exact streaming
  // twins: q_stream_funnel, q_stream_dau/q_stream_dau_ttl and the
  // stream-stream interval join q_stream_attribution
  private val FunnelCountsSql =
    """SELECT event_type, count(*) AS event_count FROM events
      |WHERE event_type IN ('view', 'click', 'purchase')
      |GROUP BY 1 ORDER BY 1""".stripMargin
  private val DailyActiveUsersSql =
    """SELECT CAST(ts AS DATE) AS event_date, event_type,
      |  count(DISTINCT user_id) AS daily_active_users
      |FROM events GROUP BY 1, 2 ORDER BY event_date DESC, event_type""".stripMargin
  private val ViewPurchasePairsSql =
    """SELECT CAST(p.ts AS DATE) AS event_date, count(*) AS attributed_pairs
      |FROM events v JOIN events p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND p.ts >= v.ts
      | AND epoch_us(p.ts) - epoch_us(v.ts) <= 1800000000
      |GROUP BY 1 ORDER BY 1""".stripMargin
  private val DailyRevenueSql =
    s"""SELECT CAST(ts AS DATE) AS event_date, $MoneySumValue AS total_revenue
       |FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared basket-graph CTE prologue — per-(day,user) basket item dedup,
    * the 100-item basket cap, and the support≥2 canonical pair list — used
    * verbatim by the `q_basket_pairs`, `q_pagerank_exact` and
    * `q_triangle_count` mirrors (the shared-constant discipline: the three
    * gates certify three different consumers of ONE pair definition;
    * `q_triangle_count` renders at minSupport 1 — the denser graph that
    * actually closes triangles at test SF). */
  private def basketPairsCte(minSupport: Int): String =
    s"""i AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id,
       |    json_extract_string(props, '$$.k') AS item
       |  FROM events
       |  WHERE event_type = 'purchase'
       |    AND json_extract_string(props, '$$.k') IS NOT NULL),
       |i2 AS (
       |  SELECT d, user_id, item FROM (
       |    SELECT i.*, count(*) OVER (PARTITION BY d, user_id) AS bs
       |    FROM i) t
       |  WHERE bs <= 100),
       |pairs AS MATERIALIZED (
       |  SELECT a.item AS item1, b.item AS item2,
       |    CAST(count(*) AS BIGINT) AS support
       |  FROM i2 a JOIN i2 b
       |    ON a.d = b.d AND a.user_id = b.user_id AND a.item < b.item
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport)""".stripMargin

  private val BasketPairsCte = basketPairsCte(2)

  /** Generated mirror for `q_kcore`: the SAME fixed peeling rounds
    * unrolled (the pagerank-mirror discipline), each round one degree CTE
    * + two keep joins, every CTE MATERIALIZED (the FD rule). Peeling is
    * idempotent once converged, so fixed rounds are gate-safe by
    * construction — both engines compute the identical partial peel. */
  private def kCoreSql(k: Int = 2,
      rounds: Int = graft.ext.Graph.KCoreRounds): String = {
    val rs = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT a AS node FROM e${i - 1}
         |    UNION ALL SELECT b AS node FROM e${i - 1})
         |  GROUP BY 1),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN d$i da ON da.node = e.a AND da.deg >= $k
         |  JOIN d$i db ON db.node = e.b AND db.deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${basketPairsCte(1)},
       |e0 AS MATERIALIZED (SELECT item1 AS a, item2 AS b FROM pairs),
       |$rs
       |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |  SELECT a AS node FROM e$rounds
       |  UNION ALL SELECT b AS node FROM e$rounds)
       |GROUP BY 1 ORDER BY deg DESC, node""".stripMargin
  }

  /** Generated mirror for `q_bfs_hops`: the SAME fixed relaxation rounds
    * unrolled (the kCoreSql discipline) — each round one min-aggregate
    * over last round's distances unioned with edge-relaxed candidates,
    * every CTE MATERIALIZED (the FD rule). The source is the
    * lexicographically-smallest node in both engines. */
  private def bfsHopsSql(rounds: Int = graft.ext.Graph.BfsRounds): String = {
    val rs = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.b AS node, d.dist + 1 AS dist
         |    FROM d${i - 1} d JOIN e ON e.a = d.node
         |    WHERE d.dist IS NOT NULL) u
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${basketPairsCte(1)},
       |e AS MATERIALIZED (
       |  SELECT item1 AS a, item2 AS b FROM pairs
       |  UNION ALL SELECT item2, item1 FROM pairs),
       |nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM e),
       |src AS (SELECT min(node) AS s FROM nodes),
       |d0 AS MATERIALIZED (
       |  SELECT node, CASE WHEN node = src.s THEN 0 END AS dist
       |  FROM nodes CROSS JOIN src),
       |$rs
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d$rounds
       |WHERE dist IS NOT NULL ORDER BY dist, node""".stripMargin
  }

  /** Renders a Double as a DuckDB DOUBLE literal on the strtod path
    * (bare many-digit literals parse as DECIMAL, whose DECIMAL→DOUBLE
    * conversion can land one ulp off): the shortest round-trip
    * `toString`, exponent-suffixed when not already scientific. */
  private def dblSql(v: Double): String = {
    // NaN/Infinity would render as invalid SQL ('NaNe0') — fail loudly
    // at render time instead of shipping an unparseable mirror
    require(java.lang.Double.isFinite(v),
      s"dblSql: non-finite double $v cannot render as a DuckDB literal")
    val s = v.toString
    val body = if (s.contains('E')) s.replace("E", "e") else s + "e0"
    s"CAST($body AS DOUBLE)"
  }

  /** The last-served IVF centroids ([[ivfCentroids]])
    * rendered for [[hardNegativesAnnSql]]: the (cell, 1-based pos,
    * component-as-double) VALUES body plus the per-cell norm VALUES body
    * — each component is the FLOAT's exact double widening and each norm
    * is [[graft.ext.Similarity.centroidNorm]]'s exact driver double, so
    * the mirror's cell scores are bit-identical to the literals Spark's
    * plan carries. Degenerate typed stubs when nothing is cached. */
  private def ivfRendered: (String, String) = {
    val cents = ivfCentroids.lastServed.getOrElse(Array.empty[Array[Float]])
    if (cents.isEmpty)
      ("(SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), " +
         "CAST(NULL AS DOUBLE) WHERE false)",
       "(SELECT CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE) WHERE false)")
    else {
      val cv = cents.indices.flatMap(c => cents(c).indices.map(p =>
        s"($c, ${p + 1}, ${dblSql(cents(c)(p).toDouble)})")).mkString(", ")
      val cn = cents.indices.map(c =>
        s"($c, ${dblSql(graft.ext.Similarity.centroidNorm(cents(c)))})")
        .mkString(", ")
      (s"(VALUES $cv)", s"(VALUES $cn)")
    }
  }

  /** GENERATED mirror for `q_hard_negatives_ann`: the trained IVF
    * centroids replay as VALUES CTEs (the bpe/compression discipline) and
    * DuckDB recomputes the IDENTICAL pipeline — per-(vector, cell) dot
    * against the centroid literals (index-order sum ≡ [[graft.ext
    * .VecExpressions]]' accumulation), the zero-dot canonicalization, the
    * (negdot, cell) argmin assignment and nProbe probe list, the
    * label-filtered shortlist, and the exact cosine re-rank — so the hash
    * gate certifies the whole ANN route row-by-row (approximation vs the
    * exact entry is a property of the ALGORITHM, which both engines run;
    * recall against `q_hard_negatives` is spec-bound separately). */
  private def hardNegativesAnnSql: String = {
    val (cv, cn) = ivfRendered
    s"""WITH cv(cell, pos, v) AS $cv,
       |cn(cell, nrm) AS $cn,
       |dt AS (
       |  SELECT e.vec_id, c.cell,
       |    sum(CAST(e.embedding[c.pos] AS DOUBLE) * c.v) AS dt
       |  FROM embeddings e, cv c
       |  GROUP BY 1, 2),
       |sn AS (
       |  SELECT d.vec_id, d.cell,
       |    CASE WHEN d.dt = 0 THEN CAST(0e0 AS DOUBLE)
       |         ELSE -(d.dt) / n.nrm END AS negdot
       |  FROM dt d JOIN cn n USING (cell)),
       |rk AS (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY negdot, cell) AS rn
       |  FROM sn),
       |asg AS (SELECT vec_id, cell FROM rk WHERE rn = 1),
       |pr AS (SELECT vec_id, cell FROM rk
       |       WHERE rn <= ${graft.ext.Similarity.HardNegAnnProbes}),
       |cand AS (
       |  SELECT q.vec_id, qe.label, a.vec_id AS neg_id,
       |    ae.label AS neg_label
       |  FROM pr q JOIN asg a USING (cell)
       |  JOIN embeddings qe ON qe.vec_id = q.vec_id
       |  JOIN embeddings ae ON ae.vec_id = a.vec_id
       |  WHERE qe.label <> ae.label),
       |sim AS (
       |  SELECT cd.vec_id, cd.label, cd.neg_id, cd.neg_label,
       |    sum(CAST(qe.embedding[t.i] AS DOUBLE)
       |      * CAST(ae.embedding[t.i] AS DOUBLE)) AS dot,
       |    sum(CAST(qe.embedding[t.i] AS DOUBLE)
       |      * CAST(qe.embedding[t.i] AS DOUBLE)) AS nq,
       |    sum(CAST(ae.embedding[t.i] AS DOUBLE)
       |      * CAST(ae.embedding[t.i] AS DOUBLE)) AS nc
       |  FROM cand cd
       |  JOIN embeddings qe ON qe.vec_id = cd.vec_id
       |  JOIN embeddings ae ON ae.vec_id = cd.neg_id,
       |  generate_series(1, 64) t(i)
       |  GROUP BY 1, 2, 3, 4),
       |r AS (
       |  SELECT vec_id, label, neg_id, neg_label,
       |    dot / (sqrt(nq) * sqrt(nc)) AS sim,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dot / (sqrt(nq) * sqrt(nc)) DESC, neg_id) AS rank
       |  FROM sim WHERE nq > 0 AND nc > 0)
       |SELECT vec_id, label, CAST(rank AS BIGINT) AS rank, neg_id,
       |  neg_label, floor(sim * 10000 + 0.5) / 10000 AS cosine_sim
       |FROM r WHERE rank <= ${graft.ext.Similarity.HardNegativesK}
       |ORDER BY vec_id, rank""".stripMargin
  }

  /** GENERATED mirror for `q_hard_negatives_ann_pq`: the trained PQ
    * codebooks join the IVF centroids as VALUES CTEs and DuckDB replays
    * the IDENTICAL ADC pipeline. Exactness notes, each pinned to the
    * Spark arithmetic it mirrors:
    *  - encode argmin: per-subspace distances accumulate FLOAT
    *    subtractions squared in double (`PqEncode`'s `getFloat - cent`
    *    is an fp32 subtract — DuckDB `REAL - REAL` is the same IEEE op,
    *    verified; ties to the lowest code via `row_number (d2, c)`);
    *  - LUT sums: per-(query, subspace, code) index-order double sums
    *    (the accepted KNN-mirror class);
    *  - the per-pair ADC dot folds the m per-subspace sums in SUBSPACE
    *    ORDER — [[graft.ext.VecExpressions.PqAdcLutDot]] accumulates
    *    j = 0..m-1, so the mirror pivots the m values to columns and adds
    *    them LEFT-ASSOCIATIVELY (the benford χ² chain discipline); a flat
    *    64-term SUM would round differently;
    *  - top-C by (adc DESC, neg_id) ≡ TopKPairs' (score desc, id asc)
    *    with ±0.0 equal in both engines;
    *  - the exact re-rank stage is the exact-ANN mirror's verbatim.
    * Zero-norm vectors are excluded up front in both engines (`nz`). */
  private def hardNegativesAnnPqSql: String = {
    val (cv, cn) = ivfRendered
    val cbs = pqCodebooks.lastServed
      .getOrElse(Array.empty[Array[Array[Float]]])
    val pb =
      if (cbs.isEmpty)
        "(SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), " +
          "CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE) WHERE false)"
      else {
        val sub = cbs(0)(0).length
        "(VALUES " + cbs.indices.flatMap(j =>
          cbs(j).indices.flatMap(c => cbs(j)(c).indices.map(i =>
            s"($j, $c, ${j * sub + i + 1}, " +
              s"${dblSql(cbs(j)(c)(i).toDouble)})"))).mkString(", ") + ")"
      }
    val m = math.max(1, cbs.length)
    // left-associative subspace chain: s0 + s1 + … + s(m-1)
    val chain = (0 until m).map(j => s"s$j").mkString(" + ")
    val pivots = (0 until m).map(j =>
      s"max(CASE WHEN j = $j THEN s END) AS s$j").mkString(",\n         |    ")
    s"""WITH cv(cell, pos, v) AS $cv,
       |cn(cell, nrm) AS $cn,
       |pb(j, c, pos, v) AS $pb,
       |qn AS (
       |  SELECT e.vec_id,
       |    sqrt(sum(CAST(e.embedding[t.i] AS DOUBLE)
       |      * CAST(e.embedding[t.i] AS DOUBLE))) AS nrm
       |  FROM embeddings e, generate_series(1, 64) t(i)
       |  GROUP BY 1),
       |nz AS (SELECT vec_id FROM qn WHERE nrm > 0),
       |dt AS (
       |  SELECT e.vec_id, c.cell,
       |    sum(CAST(e.embedding[c.pos] AS DOUBLE) * c.v) AS dt
       |  FROM embeddings e JOIN nz USING (vec_id), cv c
       |  GROUP BY 1, 2),
       |sn AS (
       |  SELECT d.vec_id, d.cell,
       |    CASE WHEN d.dt = 0 THEN CAST(0e0 AS DOUBLE)
       |         ELSE -(d.dt) / n.nrm END AS negdot
       |  FROM dt d JOIN cn n USING (cell)),
       |rk AS (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY negdot, cell) AS rn
       |  FROM sn),
       |asg AS (SELECT vec_id, cell FROM rk WHERE rn = 1),
       |pr AS (SELECT vec_id, cell FROM rk
       |       WHERE rn <= ${graft.ext.Similarity.HardNegAnnProbes}),
       |df2 AS (
       |  SELECT e.vec_id, p.j, p.c,
       |    sum(CAST(CAST(e.embedding[p.pos] AS REAL) - CAST(p.v AS REAL)
       |          AS DOUBLE)
       |      * CAST(CAST(e.embedding[p.pos] AS REAL) - CAST(p.v AS REAL)
       |          AS DOUBLE)) AS d2
       |  FROM embeddings e JOIN nz USING (vec_id), pb p
       |  GROUP BY 1, 2, 3),
       |enc AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT vec_id, j, c,
       |      row_number() OVER (PARTITION BY vec_id, j
       |        ORDER BY d2, c) AS rn
       |    FROM df2)
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT e.vec_id, p.j, p.c,
       |    sum(CAST(e.embedding[p.pos] AS DOUBLE) * p.v) AS s
       |  FROM embeddings e JOIN nz USING (vec_id), pb p
       |  GROUP BY 1, 2, 3),
       |cand AS (
       |  SELECT q.vec_id, qe.label, a.vec_id AS neg_id,
       |    ae.label AS neg_label
       |  FROM pr q JOIN asg a USING (cell)
       |  JOIN embeddings qe ON qe.vec_id = q.vec_id
       |  JOIN embeddings ae ON ae.vec_id = a.vec_id
       |  WHERE qe.label <> ae.label),
       |adcv AS (
       |  SELECT cd.vec_id, cd.label, cd.neg_id, cd.neg_label, en.j, l.s
       |  FROM cand cd
       |  JOIN enc en ON en.vec_id = cd.neg_id
       |  JOIN lut l ON l.vec_id = cd.vec_id AND l.j = en.j AND l.c = en.c),
       |adcp AS (
       |  SELECT vec_id, label, neg_id, neg_label,
       |    $pivots
       |  FROM adcv GROUP BY 1, 2, 3, 4),
       |adcx AS (
       |  SELECT p.vec_id, p.label, p.neg_id, p.neg_label,
       |    ($chain) / (nq.nrm * na.nrm) AS adc
       |  FROM adcp p
       |  JOIN qn nq ON nq.vec_id = p.vec_id
       |  JOIN qn na ON na.vec_id = p.neg_id),
       |shortc AS (
       |  SELECT vec_id, label, neg_id, neg_label FROM (
       |    SELECT vec_id, label, neg_id, neg_label,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY adc DESC, neg_id) AS rn
       |    FROM adcx)
       |  WHERE rn <= ${graft.ext.Similarity.HardNegPqShortlist}),
       |sim AS (
       |  SELECT cd.vec_id, cd.label, cd.neg_id, cd.neg_label,
       |    sum(CAST(qe.embedding[t.i] AS DOUBLE)
       |      * CAST(ae.embedding[t.i] AS DOUBLE)) AS dot,
       |    sum(CAST(qe.embedding[t.i] AS DOUBLE)
       |      * CAST(qe.embedding[t.i] AS DOUBLE)) AS nq,
       |    sum(CAST(ae.embedding[t.i] AS DOUBLE)
       |      * CAST(ae.embedding[t.i] AS DOUBLE)) AS nc
       |  FROM shortc cd
       |  JOIN embeddings qe ON qe.vec_id = cd.vec_id
       |  JOIN embeddings ae ON ae.vec_id = cd.neg_id,
       |  generate_series(1, 64) t(i)
       |  GROUP BY 1, 2, 3, 4),
       |r AS (
       |  SELECT vec_id, label, neg_id, neg_label,
       |    dot / (sqrt(nq) * sqrt(nc)) AS sim,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dot / (sqrt(nq) * sqrt(nc)) DESC, neg_id) AS rank
       |  FROM sim WHERE nq > 0 AND nc > 0)
       |SELECT vec_id, label, CAST(rank AS BIGINT) AS rank, neg_id,
       |  neg_label, floor(sim * 10000 + 0.5) / 10000 AS cosine_sim
       |FROM r WHERE rank <= ${graft.ext.Similarity.HardNegativesK}
       |ORDER BY vec_id, rank""".stripMargin
  }

  /** Generated mirror for `q_benford`: the expected-probability list and
    * the χ² chain-sum both render from the SAME Scala constants
    * ([[graft.ops.EventQueries.BenfordP]]); the nine contributions add
    * left-associatively in digit order — never an order-free double SUM. */
  private def benfordSql(): String = {
    // DuckDB bare numeric literals are DECIMAL, and its DECIMAL→DOUBLE
    // conversion can land one ulp off the correctly-rounded string parse —
    // an exponent suffix forces a true DOUBLE literal (strtod path)
    val ps = graft.ops.EventQueries.BenfordP
      .map(p => s"CAST(${p}e0 AS DOUBLE)").mkString("[", ", ", "]")
    val chain = (1 to 9)
      .map(d => s"max(CASE WHEN digit = $d THEN contrib_raw END)")
      .mkString(" + ")
    s"""WITH c AS MATERIALIZED (
       |  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
       |      AS digit,
       |    CAST(count(*) AS BIGINT) AS observed
       |  FROM (
       |    SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
       |    FROM events
       |    WHERE event_type = 'purchase' AND value IS NOT NULL) t
       |  WHERE cents > 0 GROUP BY 1),
       |n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM c),
       |x AS (
       |  SELECT CAST(d.digit AS INTEGER) AS digit,
       |    CAST(coalesce(c.observed, 0) AS BIGINT) AS observed,
       |    ($ps)[d.digit] AS expected_p,
       |    CAST(n.n AS DOUBLE) * ($ps)[d.digit] AS np
       |  FROM generate_series(1, 9) AS d(digit)
       |  LEFT JOIN c ON c.digit = d.digit CROSS JOIN n),
       |z AS MATERIALIZED (
       |  SELECT digit, observed, expected_p,
       |    ((CAST(observed AS DOUBLE) - np) * (CAST(observed AS DOUBLE) - np))
       |      / np AS contrib_raw
       |  FROM x),
       |t AS (
       |  SELECT floor(($chain) * 10000 + 0.5) / 10000 AS chi2 FROM z)
       |SELECT z.digit, z.observed, z.expected_p,
       |  floor(z.contrib_raw * 10000 + 0.5) / 10000 AS contrib,
       |  t.chi2,
       |  CASE WHEN t.chi2 > ${graft.ops.EventQueries.BenfordChiCrit}
       |    THEN 'reject' ELSE 'consistent' END AS verdict
       |FROM z CROSS JOIN t ORDER BY digit""".stripMargin
  }

  /** Generated mirror for `q_revenue_drift`: bucket arithmetic in
    * integers, shares as exact-long divisions, the L1 total added
    * left-associatively over the bucket pivot (the benfordSql chain
    * discipline), the verdict on the rounded statistic. */
  private def revenueDriftSql(): String = {
    import graft.ops.EventQueries.{DriftBuckets, DriftThreshold}
    val chain = (0 until DriftBuckets)
      .map(b => s"max(CASE WHEN bucket = $b THEN ad END)")
      .mkString(" + ")
    s"""WITH d AS MATERIALIZED (
       |  SELECT CAST(ts AS DATE) AS event_date,
       |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num,
       |    CAST(floor($MoneySumValue * 100 + 0.5) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |bo AS (SELECT min(day_num) AS d_mn, max(day_num) AS d_mx,
       |         min(cents) AS mn, max(cents) AS mx FROM d),
       |bk AS (
       |  SELECT CASE WHEN day_num <= (bo.d_mn + bo.d_mx) // 2
       |      THEN 'ref' ELSE 'cur' END AS half,
       |    ((cents - bo.mn) * $DriftBuckets) // (bo.mx - bo.mn + 1)
       |      AS bucket
       |  FROM d CROSS JOIN bo),
       |c AS MATERIALIZED (
       |  SELECT half, bucket, CAST(count(*) AS BIGINT) AS n
       |  FROM bk GROUP BY 1, 2),
       |t AS (SELECT half, CAST(sum(n) AS BIGINT) AS t
       |      FROM c GROUP BY 1),
       |sp AS (SELECT CAST(b AS BIGINT) AS bucket
       |       FROM generate_series(0, ${DriftBuckets - 1}) AS g(b)),
       |rs AS (
       |  SELECT c.bucket, c.n AS n_ref,
       |    CAST(c.n AS DOUBLE) / t.t AS p
       |  FROM c CROSS JOIN t WHERE c.half = 'ref' AND t.half = 'ref'),
       |cs AS (
       |  SELECT c.bucket, c.n AS n_cur,
       |    CAST(c.n AS DOUBLE) / t.t AS q
       |  FROM c CROSS JOIN t WHERE c.half = 'cur' AND t.half = 'cur'),
       |j AS MATERIALIZED (
       |  SELECT sp.bucket,
       |    CAST(coalesce(rs.n_ref, 0) AS BIGINT) AS n_ref,
       |    CAST(coalesce(cs.n_cur, 0) AS BIGINT) AS n_cur,
       |    coalesce(rs.p, CAST(0.0 AS DOUBLE)) AS p,
       |    coalesce(cs.q, CAST(0.0 AS DOUBLE)) AS q
       |  FROM sp LEFT JOIN rs ON rs.bucket = sp.bucket
       |  LEFT JOIN cs ON cs.bucket = sp.bucket),
       |a AS (SELECT bucket, abs(p - q) AS ad FROM j),
       |l AS (
       |  SELECT floor(($chain) * 10000 + 0.5) / 10000 AS l1 FROM a)
       |SELECT j.bucket, j.n_ref, j.n_cur,
       |  floor(j.p * 10000 + 0.5) / 10000 AS ref_share,
       |  floor(j.q * 10000 + 0.5) / 10000 AS cur_share,
       |  l.l1,
       |  CASE WHEN l.l1 > $DriftThreshold THEN 'drift' ELSE 'stable' END
       |    AS verdict
       |FROM j CROSS JOIN l ORDER BY bucket""".stripMargin
  }

  /** Generated mirror for `q_pagerank_exact`: the SAME fixed-point power
    * iteration as [[graft.ext.Graph.pageRankFixedPoint]], unrolled one CTE
    * per round (standard SQL recursion cannot aggregate over the recursive
    * term, and unrolling keeps every operation visibly identical). All
    * arithmetic is BIGINT add / multiply / `//` floor-division — bit-equal
    * to Spark's long `div` on the non-negative values here — so ten
    * iterations of join + aggregate + dangling redistribution + teleport
    * hash-match exactly. Edges = the q_basket_pairs mirror, symmetrized. */
  private def pageRankExactSql(iterations: Int = 10): String = {
    val s = graft.ext.Graph.FixedPointScale
    val dn = graft.ext.Graph.DampNum
    val dd = graft.ext.Graph.DampDen
    val rounds = (1 to iterations).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT nodes.node,
         |    ((${dd - dn} * $s) // $dd) // c.n
         |      + ($dn * (COALESCE(f.inflow, 0) + (dg.dm // c.n))) // $dd AS r
         |  FROM nodes
         |  CROSS JOIN c
         |  CROSS JOIN (SELECT COALESCE(CAST(sum(r) AS BIGINT), 0) AS dm
         |              FROM r${i - 1}
         |              WHERE node NOT IN (SELECT src FROM deg)) dg
         |  LEFT JOIN (SELECT e.dst AS node,
         |               CAST(sum(r.r // d.deg) AS BIGINT) AS inflow
         |             FROM edges e
         |             JOIN r${i - 1} r ON e.src = r.node
         |             JOIN deg d ON d.src = e.src
         |             GROUP BY 1) f USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH $BasketPairsCte,
       |edges AS MATERIALIZED (
       |  SELECT item1 AS src, item2 AS dst FROM pairs
       |  UNION ALL
       |  SELECT item2 AS src, item1 AS dst FROM pairs),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |        FROM edges GROUP BY 1),
       |c AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS MATERIALIZED (
       |  SELECT node, $s // c.n AS r FROM nodes CROSS JOIN c),
       |$rounds
       |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r$iterations
       |ORDER BY rank_fp DESC, node""".stripMargin
  }

  /** Generated mirror for `q_hits_exact`: the SAME L1-normalized
    * fixed-point HITS rounds as [[graft.ext.Graph.hitsFixedPoint]],
    * unrolled one authority + one hub CTE pair per round (the
    * pagerank-mirror discipline). All arithmetic is non-negative BIGINT
    * add / multiply / `//` ≡ Spark `div`; the scale and round count
    * interpolate from the shared constants. */
  private def hitsExactSql(
      iterations: Int = graft.ext.Graph.HitsIterations): String = {
    val s = graft.ext.Graph.HitsScale
    val rounds = (1 to iterations).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.dst, CAST(sum(h.h) AS BIGINT) AS araw
         |  FROM edges e JOIN h${i - 1} h USING (src) GROUP BY 1),
         |a$i AS MATERIALIZED (
         |  SELECT dst, (araw * $s) // t.t AS a
         |  FROM ar$i CROSS JOIN
         |    (SELECT CAST(sum(araw) AS BIGINT) AS t FROM ar$i) t),
         |hr$i AS MATERIALIZED (
         |  SELECT e.src, CAST(sum(a.a) AS BIGINT) AS hraw
         |  FROM edges e JOIN a$i a USING (dst) GROUP BY 1),
         |h$i AS MATERIALIZED (
         |  SELECT src, (hraw * $s) // t.t AS h
         |  FROM hr$i CROSS JOIN
         |    (SELECT CAST(sum(hraw) AS BIGINT) AS t FROM hr$i) t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT CAST(user_id AS VARCHAR) AS src,
       |    json_extract_string(props, '$$.k') AS dst
       |  FROM events
       |  WHERE event_type = 'purchase' AND user_id IS NOT NULL
       |    AND json_extract_string(props, '$$.k') IS NOT NULL),
       |ns AS MATERIALIZED (
       |  SELECT CAST(count(DISTINCT src) AS BIGINT) AS n FROM edges),
       |h0 AS MATERIALIZED (
       |  SELECT DISTINCT src, $s // ns.n AS h FROM edges CROSS JOIN ns),
       |$rounds
       |SELECT role, id, score_fp FROM (
       |  SELECT 'hub' AS role, src AS id, CAST(h AS BIGINT) AS score_fp
       |  FROM h$iterations
       |  UNION ALL
       |  SELECT 'authority', dst, CAST(a AS BIGINT) FROM a$iterations)
       |ORDER BY role, score_fp DESC, id""".stripMargin
  }

  /** Generated mirror for `q_ppr_exact` — [[pageRankExactSql]] with the
    * teleport, the start mass and the dangling restart all retargeted at
    * the seed set (the smallest [[graft.ext.Graph.PprSeedCount]] node
    * ids): non-seed rows get 0 teleport and no dangling share, seeds
    * split both `div`/`//` by |seeds|. Every value stays a non-negative
    * long, so truncating `//` ≡ Spark `div` throughout. */
  private def pprExactSql(iterations: Int = 10): String = {
    val s = graft.ext.Graph.FixedPointScale
    val dn = graft.ext.Graph.DampNum
    val dd = graft.ext.Graph.DampDen
    val sc = graft.ext.Graph.PprSeedCount
    val rounds = (1 to iterations).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT nodes.node,
         |    CASE WHEN sf.node IS NOT NULL
         |         THEN ((${dd - dn} * $s) // $dd) // kk.k ELSE 0 END
         |      + ($dn * (COALESCE(f.inflow, 0)
         |          + CASE WHEN sf.node IS NOT NULL THEN dg.dm // kk.k
         |            ELSE 0 END)) // $dd AS r
         |  FROM nodes
         |  CROSS JOIN kk
         |  CROSS JOIN (SELECT COALESCE(CAST(sum(r) AS BIGINT), 0) AS dm
         |              FROM r${i - 1}
         |              WHERE node NOT IN (SELECT src FROM deg)) dg
         |  LEFT JOIN seeds sf ON sf.node = nodes.node
         |  LEFT JOIN (SELECT e.dst AS node,
         |               CAST(sum(r.r // d.deg) AS BIGINT) AS inflow
         |             FROM edges e
         |             JOIN r${i - 1} r ON e.src = r.node
         |             JOIN deg d ON d.src = e.src
         |             GROUP BY 1) f ON f.node = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $BasketPairsCte,
       |edges AS MATERIALIZED (
       |  SELECT item1 AS src, item2 AS dst FROM pairs
       |  UNION ALL
       |  SELECT item2 AS src, item1 AS dst FROM pairs),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |        FROM edges GROUP BY 1),
       |seeds AS MATERIALIZED (SELECT node FROM nodes ORDER BY node
       |        LIMIT $sc),
       |kk AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS k
       |        FROM seeds),
       |r0 AS MATERIALIZED (
       |  SELECT nodes.node,
       |    CASE WHEN sf.node IS NOT NULL THEN $s // kk.k ELSE 0 END AS r
       |  FROM nodes CROSS JOIN kk
       |  LEFT JOIN seeds sf ON sf.node = nodes.node),
       |$rounds
       |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r$iterations
       |ORDER BY rank_fp DESC, node""".stripMargin
  }

  /** GENERATED mirror for `q_markov_stationary`: the power-iteration
    * rounds unroll as CTEs (the pageRankExactSql discipline), each
    * MATERIALIZED per the recursion/FD rule; `(w * n) // tot` matches
    * Spark `div` on the non-negative mass/count/total longs. Scale and
    * round count interpolate from the shared EventQueries constants. */
  private def markovStationarySql: String = {
    val s = EventQueries.MarkovScale
    val iters = EventQueries.MarkovIters
    val rounds = (1 to iters).map { i =>
      s"""x$i AS MATERIALIZED (
         |  SELECT st.state, CAST(coalesce(sum((x${i - 1}.w * t.n) // t.tot),
         |    0) AS BIGINT) AS w
         |  FROM states st
         |  LEFT JOIN (t JOIN x${i - 1} ON x${i - 1}.state = t.prev_type)
         |    ON t.next_type = st.state
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS MATERIALIZED (
       |  SELECT event_type, lag(event_type) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS prev_type
       |  FROM events),
       |t0 AS MATERIALIZED (
       |  SELECT prev_type, event_type AS next_type,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |tot AS MATERIALIZED (
       |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot
       |  FROM t0 GROUP BY 1),
       |t AS MATERIALIZED (
       |  SELECT t0.prev_type, t0.next_type, t0.n, tot.tot
       |  FROM t0 JOIN tot ON tot.prev_type = t0.prev_type),
       |states AS MATERIALIZED (
       |  SELECT DISTINCT prev_type AS state FROM t0
       |  UNION SELECT DISTINCT next_type FROM t0),
       |k AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
       |x0 AS MATERIALIZED (
       |  SELECT state, CAST($s // greatest(k.k, 1) AS BIGINT) AS w
       |  FROM states CROSS JOIN k),
       |$rounds
       |SELECT state, CAST(w AS BIGINT) AS mass_fp,
       |  floor(CAST(w AS DOUBLE) / ${s}e0 * 10000 + 0.5) / 10000 AS prob
       |FROM x$iters ORDER BY state""".stripMargin
  }

  /** GENERATED mirror for `q_phrase_search`: 1-based postings via
    * generate_series (the cleaned-text position convention) and an
    * adjacency-join chain rendered from the SAME [[TextOps.PhraseTokens]]
    * constant as the Spark fold. */
  private def phraseSearchSql: String = {
    val ph = TextOps.PhraseTokens
    val joins = ph.zipWithIndex.tail.map { case (t, i) =>
      s"  JOIN p b$i ON b$i.doc_id = a.doc_id AND b$i.pos = a.pos + $i\n" +
        s"    AND b$i.term = ${sqlLit(t)}"
    }.mkString("\n")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS ts
       |  FROM documents WHERE text IS NOT NULL),
       |p AS MATERIALIZED (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, ts[i] AS term
       |  FROM (SELECT doc_id, ts,
       |          unnest(generate_series(1, len(ts))) AS i
       |        FROM toks)),
       |m AS (
       |  SELECT a.doc_id, a.pos FROM p a
       |$joins
       |  WHERE a.term = ${sqlLit(ph.head)})
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       |  CAST(min(pos) AS BIGINT) AS first_pos
       |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** Shared by `q_survival_curve` (batch) and `q_stream_survival`
    * (complete-mode incremental tenure aggregate + the same finisher). */
  private val SurvivalCurveSql =
    """WITH RECURSIVE tn AS MATERIALIZED (
      |  SELECT user_id,
      |    CAST(CAST(max(ts) AS DATE) - CAST(min(ts) AS DATE) AS BIGINT)
      |      AS t
      |  FROM events GROUP BY 1),
      |bt AS MATERIALIZED (
      |  SELECT t, CAST(count(*) AS BIGINT) AS d FROM tn GROUP BY 1),
      |c AS MATERIALIZED (
      |  SELECT t, d,
      |    CAST(sum(d) OVER (ORDER BY t DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n,
      |    row_number() OVER (ORDER BY t) AS i
      |  FROM bt),
      |r AS (
      |  SELECT i, t, d, n,
      |    1e0 * (1e0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)) AS s
      |  FROM c WHERE i = 1
      |  UNION ALL
      |  SELECT c.i, c.t, c.d, c.n,
      |    r.s * (1e0 - CAST(c.d AS DOUBLE) / CAST(c.n AS DOUBLE))
      |  FROM r JOIN c ON c.i = r.i + 1)
      |SELECT t AS tenure_days, n AS n_risk, d AS n_events,
      |  floor(s * 10000 + 0.5) / 10000 AS survival
      |FROM r ORDER BY tenure_days""".stripMargin

  /** Shared by `q_event_transitions` (window lag) and
    * `q_stream_event_transitions` (stateful streaming lag). */
  private val EventTransitionsSql =
    """WITH p AS (
      |  SELECT event_type, lag(event_type) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |t AS (
      |  SELECT prev_type, event_type AS next_type,
      |    CAST(count(*) AS BIGINT) AS n_transitions
      |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, n_transitions,
      |  floor((CAST(n_transitions AS DOUBLE) /
      |    sum(n_transitions) OVER (PARTITION BY prev_type)) * 10000 + 0.5)
      |    / 10000 AS share
      |FROM t ORDER BY prev_type, next_type""".stripMargin

  /** Shared by `q_top_category_revenue` and its streaming twin. */
  private val TopCategorySql =
    s"""SELECT json_extract_string(props, '$$.k') AS category, $MoneySumValue AS revenue
       |FROM events WHERE event_type = 'purchase'
       |GROUP BY 1 ORDER BY revenue DESC, category LIMIT 15""".stripMargin

  /** Shared DuckDB prologue for the media near-dup mirrors (the
    * bpeEncCte discipline): recomputes every planted-corpus aHash from
    * the id arithmetic — the pixel-exact q_media_ahash luma machinery
    * plus the planted-predecessor override — ending in the materialized
    * `ah(doc_id, w, h, n_px, ahash)`. Compose with `"\nSELECT …"` or
    * extend the CTE chain with `",\n<more CTEs> SELECT …"`. */
  private def nearDupAhCte: String =
    s"""WITH nd AS (
       |  SELECT doc_id,
       |    CASE WHEN ((doc_id % ${Multimodal.NearDupPlantMod})
       |        + ${Multimodal.NearDupPlantMod}) % ${Multimodal.NearDupPlantMod} = 1
       |        AND doc_id > 0
       |      THEN doc_id - 1 ELSE doc_id END AS bid,
       |    CASE WHEN ((doc_id % ${Multimodal.NearDupPlantMod})
       |        + ${Multimodal.NearDupPlantMod}) % ${Multimodal.NearDupPlantMod} = 1
       |        AND doc_id > 0
       |      THEN 1 ELSE 0 END AS planted
       |  FROM documents),
       |dims AS (
       |  SELECT doc_id, planted, 1 + ((bid % 16) + 16) % 16 AS w,
       |    1 + ((bid % 8) + 8) % 8 AS h,
       |    ((bid % 16777216) + 16777216) % 16777216 AS seed
       |  FROM nd),
       |xs AS (
       |  SELECT doc_id, planted, w, h, seed,
       |    unnest(generate_series(0, w - 1)) AS x
       |  FROM dims),
       |px AS (
       |  SELECT doc_id, w, h, i,
       |    CASE WHEN planted = 1 AND i = 0 THEN xor(v0, 16777215)
       |         ELSE v0 END AS v
       |  FROM (SELECT doc_id, planted, w, h, y * w + x AS i,
       |          (seed * 2654435761 + x * 31 + y) & 16777215 AS v0
       |        FROM (SELECT doc_id, planted, w, h, x, seed,
       |                unnest(generate_series(0, h - 1)) AS y
       |              FROM xs))),
       |lum AS (
       |  SELECT doc_id, w, h, i,
       |    299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
       |      + 114 * (v & 255) AS l
       |  FROM px),
       |mn AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
       |    CAST(sum(l) AS BIGINT) // CAST(count(*) AS BIGINT)
       |      AS mean_luma
       |  FROM lum GROUP BY 1),
       |ah AS MATERIALIZED (
       |  SELECT l.doc_id, max(l.w) AS w, max(l.h) AS h,
       |    max(m.n_px) AS n_px,
       |    CAST(COALESCE(sum(CASE WHEN l.l > m.mean_luma
       |        AND l.i < ${Multimodal.AHashBits}
       |      THEN (CAST(1 AS BIGINT) << l.i) ELSE 0 END), 0) AS BIGINT)
       |      AS ahash
       |  FROM mn m JOIN lum l USING (doc_id)
       |  GROUP BY 1)""".stripMargin

}
