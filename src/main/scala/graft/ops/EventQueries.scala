package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType}

import graft.Exprs._
import graft.model.Event

/** The reference's analytical query surface (SURVEY.md §2.4–§2.6, §2.11),
  * re-expressed as declarative DataFrame transforms over the driver
  * testdata `events` table (`event_id, ts, user_id, event_type, value,
  * props`; `value`→price, `user_id` doubles as session, `click`→cart).
  *
  * Every query carries a total output ordering (tiebreak on the group key)
  * because the driver hash-compares against a DuckDB oracle. All money sums
  * ride [[graft.Exprs.moneySum]] (exact decimal accumulation) so results are
  * independent of partitioning / aggregation order — the property that keeps
  * them stable from local[32] to a 1000-executor cluster.
  *
  * Scale notes: each query is a single hash-aggregate over a pruned parquet
  * scan (predicate + column pushdown verified via `.explain`): one shuffle
  * on the group key, partial aggregation map-side. Top-k queries compile to
  * `TakeOrderedAndProject` (per-partition heap + driver merge), never a full
  * sort.
  */
object EventQueries {
  private val day = to_date(col("ts")).as("event_date")

  /** Daily gross revenue from purchases
    * (`reference:airflow_docker/dags/utils/snowflake_refresh.py:6-15`). */
  def dailyRevenue(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .groupBy(day)
      .agg(moneySum(col("value")).as("total_revenue"))
      .orderBy("event_date")

  /** Daily-revenue anomaly flags — the data-drift monitor a pipeline runs
    * over its own output: days whose revenue sits ≥ `threshold` standard
    * deviations from the corpus mean.
    *
    * Numeric discipline (the hash-gate extension of `moneySum`): the
    * moments are computed over the EXACT 2dp daily revenues in
    * DECIMAL(12,2) — sums and sums-of-squares are exact integers in both
    * engines under any partitioning (a double sum's order-dependence
    * would flip low bits and with them the z-scores). Only then does the
    * arithmetic drop to doubles: mean, variance, sqrt and the division
    * are IEEE ops on IDENTICAL inputs, so both engines produce identical
    * bits and the ≥-threshold predicate can ride the hash gate.
    *
    * Scale shape: one shuffle (the per-day aggregate); the global-moment
    * aggregate reduces days to ONE row, broadcast back over the daily
    * frame — no window, no second shuffle of the data. */
  def revenueAnomalies(events: DataFrame, threshold: Double = 1.5): DataFrame = {
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(day)
      .agg(round(exactSum(col("value")), 2).cast("decimal(12,2)").as("rev"))
    val stats = daily.agg(
      count(lit(1)).as("n_days"),
      sum(col("rev")).cast("double").as("s"),
      sum(col("rev") * col("rev")).cast("double").as("q"))
    val mean = col("s") / col("n_days")
    val variance = col("q") / col("n_days") - mean * mean
    daily.crossJoin(broadcast(stats))
      .filter(variance > 0)
      .withColumn("z", (col("rev").cast("double") - mean) / sqrt(variance))
      .filter(abs(col("z")) >= threshold)
      .select(col("event_date"), col("rev").cast("double").as("revenue"),
        round2(col("z"), 2).as("z"))
      .orderBy("event_date")
  }

  /** Cohort revenue matrix — the LTV complement of user retention: users
    * cohorted by FIRST purchase day, revenue rolled up by (cohort day,
    * whole weeks since acquisition). Three shuffles, all user/cohort
    * keyed: the per-user first-day aggregate, the user_id EQUI-join back
    * over the purchase stream (a shuffle join on purpose — one row per
    * user is an UNBOUNDED cardinality that must never broadcast; the key
    * matches the aggregate's partitioning, so the build side's exchange
    * is reused), and the final (cohort, age) rollup; age arithmetic is
    * integer floor-div, exact in both engines. */
  def cohortRevenue(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
    val cohorts = p.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
    p.join(cohorts.hint("shuffle_hash"), "user_id")
      .withColumn("age_weeks",
        expr("datediff(d, cohort_day) div 7").cast("long"))
      .groupBy(col("cohort_day"), col("age_weeks"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        moneySum(col("value")).as("revenue"))
      .orderBy("cohort_day", "age_weeks")
  }

  /** Market-basket co-purchase pairs — item pairs bought within the same
    * (user, day) basket with their support (number of baskets containing
    * both), the frequent-itemset primitive behind "bought together"
    * tiles. Items dedupe per basket first, so support counts BASKETS,
    * not purchase multiplicity.
    *
    * Scale shape: the self-join keys on the basket id (day, user) — a
    * bounded-cardinality key (one shard per basket, never per item), and
    * the pair fan-out is per-basket |items|² — guarded by `maxBasket`
    * (a corpus-scale crawler account with thousands of items would
    * otherwise quadratically dominate its task; the cap is the standard
    * basket-mining hygiene and is mirrored in the oracle). The cap is a
    * map-side-partial COUNT + an AQE-splittable equi-join, NOT a window
    * over the basket key (the round-6 cap discipline: a window funnels
    * the uncapped giant basket through one task's sort before the
    * filter can drop it). Support aggregation partials map-side.
    * `item1 < item2` canonicalizes pair order (string compare —
    * identical in both engines). */
  def basketPairs(events: DataFrame, minSupport: Long = 2,
      maxBasket: Int = 100, sorted: Boolean = true): DataFrame = {
    val items = basketItems(events, maxBasket)
    val pairs = items.as("a").join(items.as("b"),
        col("a.d") === col("b.d") && col("a.user_id") === col("b.user_id") &&
          col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item1"), col("b.item").as("item2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    // graph consumers (pagerank, triangles) discard ordering — sorted=false
    // skips an entire range-exchange + sort of the pair list
    if (sorted) pairs.orderBy(col("support").desc, col("item1"), col("item2"))
    else pairs
  }

  /** The deduped, size-capped per-basket item frame shared by
    * [[basketPairs]] and [[assocRules]] — one definition, three oracle
    * mirrors (pairs, pagerank edges, rules) rendering from the same CTE. */
  private[ops] def basketItems(events: DataFrame, maxBasket: Int): DataFrame = {
    val raw = events.filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("d"), col("user_id"),
        get_json_object(col("props"), "$.k").as("item"))
      .filter(col("item").isNotNull)
      .distinct()
    val okBaskets = raw.groupBy("d", "user_id")
      .agg(count(lit(1)).as("bs"))
      .filter(col("bs") <= maxBasket)
      .select("d", "user_id")
    raw.join(okBaskets.hint("shuffle_hash"), Seq("d", "user_id"))
  }

  /** Association rules (the Apriori readout over [[basketPairs]]'
    * frequent 2-itemsets): each supported pair emits BOTH directed rules
    * antecedent → consequent with confidence = support / baskets(antecedent)
    * and lift = confidence / P(consequent) — the "customers who bought X
    * also bought Y" ranking with its popularity correction.
    *
    * All counts are exact longs from ONE pinned item frame (pair support,
    * per-item basket counts, the global basket total as a 1-row broadcast
    * scalar); confidence and lift are single double divisions of those
    * exact inputs — identical IEEE bits in both engines (the collocations
    * PMI discipline), 4dp floor-rounded, so even the ORDER BY lift rides
    * the hash gate. Scale: the self-join keys on the basket id exactly as
    * basketPairs (per-basket fan-out capped); the count joins are
    * item-keyed equi-joins over aggregate frames AQE can split. */
  def assocRules(events: DataFrame, minSupport: Long = 2,
      maxBasket: Int = 100): DataFrame = {
    // pinned: pairs, per-item counts and the basket total all branch from
    // this frame — without pinning the corpus scan+dedup would run once
    // per branch (the Ordinals discipline)
    val items = basketItems(events, maxBasket).localCheckpoint(true)
    val pairs = items.as("a").join(items.as("b"),
        col("a.d") === col("b.d") && col("a.user_id") === col("b.user_id") &&
          col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item1"), col("b.item").as("item2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val counts = items.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
    val nb = items.select("d", "user_id").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val directed = pairs.select(col("item1").as("antecedent"),
        col("item2").as("consequent"), col("support"))
      .unionByName(pairs.select(col("item2").as("antecedent"),
        col("item1").as("consequent"), col("support")))
    directed
      .join(counts.select(col("item").as("antecedent"), col("cnt").as("ca")),
        Seq("antecedent"))
      .join(counts.select(col("item").as("consequent"), col("cnt").as("cb")),
        Seq("consequent"))
      .crossJoin(broadcast(nb))
      .select(col("antecedent"), col("consequent"), col("support"),
        round2(col("support").cast("double") / col("ca"), 4).as("confidence"),
        round2((col("support").cast("double") * col("n_baskets")) /
          (col("ca").cast("double") * col("cb")), 4).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
  }

  /** Weekday seasonality — the revenue profile over the trading week
    * (1 = Sunday … 7 = Saturday, Spark's `dayofweek`): per weekday the
    * day count, exact 2dp revenue, and the seasonal index = weekday mean
    * daily revenue ÷ overall mean daily revenue, the multiplicative
    * factor a forecast or anomaly baseline would apply.
    *
    * The index divides doubles derived from exact decimal sums with the
    * IDENTICAL op sequence in both engines — (wd_rev/wd_days) /
    * (total_rev/total_days), then one 4dp floor-round (the share/ratio
    * discipline: numerator and denominator materialize in subqueries,
    * the outer select divides). The overall mean rides a 1-row broadcast.
    * Scale: two aggregates over the calendar-bounded daily frame. */
  def weekdaySeasonality(events: DataFrame): DataFrame =
    weekdayRollup(events.filter(col("event_type") === "purchase")
      .groupBy(day).agg(exactSum(col("value")).as("rev")))

  /** Shared finisher over a `(event_date, rev DECIMAL)` daily frame —
    * called by [[weekdaySeasonality]] (batch) and the streaming twin
    * `q_stream_weekday` (complete-mode daily aggregate), which share one
    * oracle verbatim (the transitionRollup discipline: the gate then
    * certifies only the daily-frame production differs). */
  def weekdayRollup(daily: DataFrame): DataFrame = {
    val byWd = daily
      .groupBy(dayofweek(col("event_date")).as("weekday"))
      .agg(count(lit(1)).as("n_days"),
        round(sum(col("rev")), 2).cast("double").as("weekday_revenue"))
    val overall = daily.agg(
      round(sum(col("rev")), 2).cast("double").as("total_rev"),
      count(lit(1)).as("total_days"))
    byWd.crossJoin(broadcast(overall))
      .select(col("weekday"), col("n_days"), col("weekday_revenue"),
        round2((col("weekday_revenue") / col("n_days")) /
          (col("total_rev") / col("total_days")), 4).as("seasonal_index"))
      .orderBy("weekday")
  }

  /** Per-user inter-purchase gap statistics — the repeat-purchase cadence
    * feature (count, min/max and MEDIAN seconds between consecutive
    * purchases) for every user with ≥ 2 purchases.
    *
    * Gaps come from a per-user lag window ordered by (ts, event_id) — the
    * hot partition is bounded by the busiest user (the eventTransitions
    * scale argument). The median is the mean of the two middle ranks
    * (the q_mad_anomalies discipline): a second per-user window ranks the
    * gaps, a window count marks the middle row(s), and the aggregate
    * divides two exact longs — no interpolated percentile whose last ulp
    * could differ between engines. */
  def interPurchaseGaps(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
    val byUser = Window.partitionBy(col("user_id"))
    val gaps = p
      .withColumn("prev", lag(col("us"), 1)
        .over(byUser.orderBy(col("us"), col("event_id"))))
      .filter(col("prev").isNotNull)
      // non-negative numerator: truncating div ≡ floor ≡ DuckDB //
      .select(col("user_id"), col("us"),
        expr("(us - prev) div 1000000").cast(LongType).as("gap_s"))
    val ranked = gaps
      .withColumn("rk", row_number()
        .over(byUser.orderBy(col("gap_s"), col("us"))).cast(LongType))
      .withColumn("nw", count(lit(1)).over(byUser))
      .withColumn("mid",
        col("rk") === expr("(nw + 1) div 2") ||
          col("rk") === expr("(nw + 2) div 2"))
    ranked.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_s")).as("min_gap_s"),
        max(col("gap_s")).as("max_gap_s"),
        (sum(when(col("mid"), col("gap_s"))).cast("double") /
          sum(when(col("mid"), 1L))).as("median_gap_s"))
      .orderBy("user_id")
  }

  /** Revenue concentration — Gini coefficient plus top-1% / top-10%
    * spend shares over per-user purchase revenue: the whale-dependence
    * readout (how much of the business a handful of users carry).
    *
    * Gini rides the rank formula G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx)
    * over ascending-spend ranks — the ranks are
    * [[Ordinals.globalRowNumbers]] (range repartition + bounded offset
    * frame), never a corpus-wide single-task `row_number()` window. The
    * rank-weighted sum accumulates in DECIMAL(38,0) (mirrored as DuckDB
    * HUGEINT — i·xᵢ overflows a long at warehouse scale), and the final
    * divisions cast those exact integers to double — correctly-rounded
    * nearest in both engines, then 4dp floor-rounded. Top-k% cutoffs are
    * integer floor-div counts (≥ 1), applied to the SAME pinned ranked
    * frame as the totals — one corpus aggregate, three bounded readouts. */
  def revenueConcentration(events: DataFrame): DataFrame = {
    val spend = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(moneySum(col("value")).as("rev"))
      .select(col("user_id"),
        floor(col("rev") * 100 + 0.5).cast(LongType).as("cents"))
    val ranked = Ordinals.globalRowNumbers(spend,
        Seq(col("cents"), col("user_id")), "rn")
      .localCheckpoint(true)
    val tot = ranked.agg(
      count(lit(1)).as("n_users"),
      sum(col("cents")).as("total_cents"),
      sum(col("rn").cast("decimal(19,0)") * col("cents").cast("decimal(19,0)"))
        .as("s1"))
    val shares = ranked.crossJoin(broadcast(tot))
      .agg(
        sum(when(col("rn") > col("n_users") -
          greatest(lit(1L), expr("n_users div 100")), col("cents")))
          .as("top1_cents"),
        sum(when(col("rn") > col("n_users") -
          greatest(lit(1L), expr("n_users div 10")), col("cents")))
          .as("top10_cents"))
    shares.crossJoin(broadcast(tot))
      .select(col("n_users"), col("total_cents"),
        round2((col("s1") * 2 -
            (col("n_users") + 1).cast("decimal(38,0)") *
              col("total_cents").cast("decimal(38,0)")).cast("double") /
          (col("n_users").cast("decimal(38,0)") *
            col("total_cents").cast("decimal(38,0)")).cast("double"), 4)
          .as("gini"),
        round2(col("top1_cents").cast("double") /
          col("total_cents").cast("double"), 4).as("top1_share"),
        round2(col("top10_cents").cast("double") /
          col("total_cents").cast("double"), 4).as("top10_share"))
      .orderBy("n_users")
  }

  /** RFM segmentation — the classic e-commerce customer analysis the
    * reference's dashboard tiles imply but never build: per purchasing
    * user, Recency (days since last purchase, anchored to the corpus'
    * max purchase date so the query is reproducible), Frequency
    * (purchase count) and Monetary (2dp-exact spend), each scored into
    * quintiles, plus the 3-digit segment code (555 = best).
    *
    * Quintiles are ARITHMETIC over the distributed global ordinal
    * ([[Ordinals.globalRowNumbers]] — range-repartition + bounded offset
    * frame): q = ((rn-1)·5) div n + 1. A window `ntile(5)` would force
    * the whole user frame through ONE task's sort; the ordinal pass
    * keeps every step partitioned, and the arithmetic form is exactly
    * mirrorable (integer floor-div in both engines).
    *
    * The three ordinals ride ONE tagged-union pass (r18; the
    * q_token_budget / globalRunningSums discipline): each user row is
    * exploded into (kind ∈ 0,1,2; key) rows where the key encodes that
    * dimension's sort value as a DOUBLE — exact and order-preserving
    * (−recency and frequency are ints < 2^53; monetary is already a
    * 2dp-rounded double) — and one global row_number over
    * (kind, key NULLS LAST, user_id) numbers all three dimensions at
    * once. Kind blocks are contiguous with exactly n_users rows each, so
    * the per-dimension ordinal is rn − kind·n_users, and a per-user
    * pivot re-assembles the row. This replaces THREE range exchanges +
    * eager checkpoints (three driver-side global sync barriers — the
    * entry was the suite's noisiest latency-bound residual, cpu_par
    * 0.23) with ONE, for one extra map-side ×3 explode and one bounded
    * hash aggregate. Null keys sort last within their kind in BOTH
    * engines (asc_nulls_last here ≡ the originals: recency desc is
    * NULLS LAST in Spark, monetary was pinned asc_nulls_last; DuckDB
    * ASC defaults NULLS LAST). Ties break on user_id — a total order,
    * so the gate certifies the ordinal machinery once more, now over a
    * three-block composite sort key. */
  def rfmSegments(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
    val base = p.groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("frequency"),
        moneySum(col("value")).as("monetary"))
    val anchor = p.agg(max(to_date(col("ts"))).as("anchor"),
      countDistinct(col("user_id")).as("n_users"))
    val rfm = base.crossJoin(broadcast(anchor))
      .withColumn("recency", datediff(col("anchor"), col("last_day")))
      .drop("anchor", "last_day")
    val tagged = rfm.select(col("user_id"), col("recency"),
        col("frequency"), col("monetary"), col("n_users"),
        explode(array(
          struct(lit(0L).as("kind"),
            (-col("recency")).cast("double").as("key")),
          struct(lit(1L).as("kind"),
            col("frequency").cast("double").as("key")),
          struct(lit(2L).as("kind"),
            col("monetary").cast("double").as("key")))).as("t"))
      .select(col("user_id"), col("recency"), col("frequency"),
        col("monetary"), col("n_users"),
        col("t.kind").as("kind"), col("t.key").as("key"))
    val numbered = Ordinals.globalRowNumbers(tagged,
      Seq(col("kind"), col("key").asc_nulls_last, col("user_id")), "rn")
      .withColumn("q",
        expr("(rn - kind * n_users - 1) * 5 div n_users + 1"))
    numbered.groupBy("user_id")
      .agg(max(col("recency")).as("recency"),
        max(col("frequency")).as("frequency"),
        max(col("monetary")).as("monetary"),
        max(when(col("kind") === 0L, col("q"))).as("r_q"),
        max(when(col("kind") === 1L, col("q"))).as("f_q"),
        max(when(col("kind") === 2L, col("q"))).as("m_q"))
      .select(col("user_id"), col("recency"), col("frequency"),
        col("monetary"), col("r_q"), col("f_q"), col("m_q"),
        (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).as("segment"))
      .orderBy("user_id")
  }

  /** Top-15 revenue categories (`reference:README.md:95-97`, dashboard tile).
    * The testdata has no category column; the JSON `props.k` attribute
    * stands in, which also exercises JSON extraction (SURVEY §1.1's only
    * nested structure). */
  def topCategoryRevenue(events: DataFrame, k: Int = 15): DataFrame =
    events.filter(col("event_type") === "purchase")
      .groupBy(get_json_object(col("props"), "$.k").as("category"))
      .agg(moneySum(col("value")).as("revenue"))
      // nulls-last to match DuckDB's ASC default (Spark defaults nulls-first)
      .orderBy(col("revenue").desc, col("category").asc_nulls_last)
      .limit(k)

  /** Approximate category heavy hitters via `approx_top_k` (DataSketches
    * frequent-items): a mergeable, constant-memory sketch — at 100 TB the
    * exact alternative shuffles the full key universe, while this
    * aggregates ~`maxTracked` counters per partition and merges them.
    * Exactness contract: below capacity the sketch never evicts, so
    * counts carry the DataSketches ZERO-error guarantee — with
    * `maxTracked` ≥ the true cardinality this entry is exact and
    * hash-matches the plain group-by oracle; beyond capacity it degrades
    * to ±n/maxTracked error (the regime the operator exists for). `k` is
    * set ≥ cardinality so the sketch's internal top-k boundary (arbitrary
    * among tied counts) never truncates — the total ordering with its
    * category tiebreak is applied OUTSIDE the sketch. */
  def categoryHeavyHitters(events: DataFrame, k: Int = 100,
      maxTracked: Int = 10000): DataFrame =
    events.select(get_json_object(col("props"), "$.k").as("category"))
      .filter(col("category").isNotNull)
      .agg(expr(s"approx_top_k(category, $k, $maxTracked)").as("tk"))
      .select(explode(col("tk")).as("s"))
      .select(col("s.item").as("category"), col("s.count").as("est_count"))
      .orderBy(col("est_count").desc, col("category"))

  /** Conversion funnel counts
    * (`reference:airflow_docker/dags/utils/snowflake_refresh.py:30-39`). */
  def conversionFunnel(events: DataFrame): DataFrame =
    events.filter(col("event_type").isin("view", "click", "purchase"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("event_count"))
      .orderBy("event_type")

  /** Abandoned-cart users: cart(=click) activity with no purchase by the
    * same user on the same day, cart-event counts per (day, user)
    * (`reference:airflow_docker/dags/utils/snowflake_refresh.py:41-56`).
    * The reference scopes the anti-join to all history; the testdata's users
    * all purchase eventually, so the day-scoped variant keeps the anti-join
    * semantics observable. Planned as a null-safe LEFT ANTI hash join
    * (purchaser side is small → broadcast-able). */
  def abandonedCartUsers(events: DataFrame): DataFrame = {
    val carts = events.filter(col("event_type") === "click")
      .select(day, col("user_id"))
    val purchasers = events.filter(col("event_type") === "purchase")
      .select(day, col("user_id")).distinct()
    carts.join(purchasers, Seq("event_date", "user_id"), "left_anti")
      .groupBy("event_date", "user_id")
      .agg(count(lit(1)).as("cart_events"))
      .orderBy(col("cart_events").desc, col("event_date"), col("user_id"))
  }

  /** Daily average order value: revenue / distinct sessions, purchases only
    * (`reference:airflow_docker/dags/utils/snowflake_refresh.py:58-67`).
    * Exact distinct (not approx) — the oracle hash requires it. */
  def avgOrderValueDaily(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .groupBy(day)
      .agg(round2(exactSum(col("value")).cast("double") /
        countDistinct(col("user_id"))).as("average_order_value"))
      .orderBy("event_date")

  /** Daily active users per event type, exact distinct
    * (`reference:airflow_docker/dags/utils/snowflake_refresh.py:69-79`). */
  def dailyActiveUsers(events: DataFrame): DataFrame =
    events.groupBy(day, col("event_type"))
      .agg(countDistinct(col("user_id")).as("daily_active_users"))
      .orderBy(col("event_date").desc, col("event_type"))

  /** Per-type (n, rn) ranking frame + the linear-interpolation quantile
    * aggregate — shared by [[priceQuantiles]] and [[winsorizedRevenue]].
    * Ties at the bracketing ranks carry equal values, so each one-row sum
    * is order-independent. Interpolates as lo + frac*(hi - lo) — the
    * exact expression the builtin percentile and DuckDB's `quantile_cont`
    * evaluate — so the result is bit-identical to the oracle
    * (lo*(1-frac) + hi*frac can differ in the last ulp). */
  private def rankedByValue(events: DataFrame): DataFrame = {
    val wAll = Window.partitionBy("event_type")
    val wOrd = Window.partitionBy("event_type").orderBy("value")
    events.select(col("event_type"), col("value"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("rn", (row_number().over(wOrd) - 1).cast(LongType))
  }

  private def interpQuantile(p: Double): org.apache.spark.sql.Column = {
    val idx = lit(p) * (col("n") - 1).cast("double")
    val lo = floor(idx)
    val frac = idx - lo
    val vLo = sum(when(col("rn") === lo, col("value")).otherwise(lit(0.0)))
    val vHi =
      sum(when(col("rn") === ceil(idx), col("value")).otherwise(lit(0.0)))
    vLo + max(frac) * (vHi - vLo)
  }

  /** Exact price quantiles per event type (ordered-set aggregates): p50/p90/
    * p99 with type-7 linear interpolation (`idx = p*(n-1)`, interpolate
    * between the two bracketing ranks). Computed via ONE rank window per
    * group plus a conditional sum — each percentile touches exactly the two
    * bracketing rows, so the cost is one sort per group, not the per-group
    * hash-map the builtin exact `percentile` builds (10× cheaper at bench
    * scale). SCALE CEILING: the per-type window sorts each group through a
    * single task — at most 5 concurrent tasks for the 5-value key — so this
    * exact path exists for oracle parity; the production path at high
    * cardinality is [[priceQuantilesSketch]] (mergeable sketches, no
    * ceiling). */
  def priceQuantiles(events: DataFrame): DataFrame =
    rankedByValue(events).groupBy("event_type")
      .agg(round2(interpQuantile(0.5), 4).as("p50"),
        round2(interpQuantile(0.9), 4).as("p90"),
        round2(interpQuantile(0.99), 4).as("p99"))
      .orderBy("event_type")

  /** Winsorized (clipped) revenue per event type — the robust-statistics
    * companion to the z-score monitor: values clamp into the exact
    * [p01, p99] band, and the report carries both tails' clip counts plus
    * exact-decimal sums before/after. Thresholds are 4dp-ROUNDED on both
    * engines BEFORE the comparisons (the proven quantile parity surface —
    * comparing against raw interpolated doubles would let a boundary
    * value classify differently on a last-ulp disagreement). The
    * thresholds frame is 5 rows, broadcast back onto the stream; no
    * second corpus shuffle. */
  def winsorizedRevenue(events: DataFrame, pLo: Double = 0.01,
      pHi: Double = 0.99): DataFrame = {
    val th = rankedByValue(events).groupBy("event_type")
      .agg(round2(interpQuantile(pLo), 4).as("lo"),
        round2(interpQuantile(pHi), 4).as("hi"))
    val clamped = when(col("value") < col("lo"), col("lo"))
      .when(col("value") > col("hi"), col("hi"))
      .otherwise(col("value"))
    events.select(col("event_type"), col("value"))
      .join(broadcast(th), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        sum(when(col("value") < col("lo"), 1L).otherwise(0L))
          .as("n_clipped_low"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L))
          .as("n_clipped_high"),
        moneySum(col("value")).as("raw_sum"),
        moneySum(clamped).as("winsorized_sum"))
      .orderBy("event_type")
  }

  /** Sketch-based quantiles — the 100 TB path for [[priceQuantiles]]: the
    * exact variant sorts every row of an event_type through ONE task
    * (`Window.partitionBy` on a 5-value key caps parallelism at 5 no matter
    * the cluster size), while `approx_percentile` builds a mergeable
    * KLL-style sketch per partition and merges sketches on the single
    * group-key shuffle — map-side partials, bounded memory, parallelism
    * follows the input. Rank error ≤ n/accuracy. No oracle (approximate by
    * construction); error is bounded against the exact variant in spec. */
  def priceQuantilesSketch(events: DataFrame, accuracy: Int = 10000): DataFrame =
    events.groupBy("event_type")
      .agg(
        round2(percentile_approx(col("value"), lit(0.5), lit(accuracy)), 4).as("p50"),
        round2(percentile_approx(col("value"), lit(0.9), lit(accuracy)), 4).as("p90"),
        round2(percentile_approx(col("value"), lit(0.99), lit(accuracy)), 4).as("p99"))
      .orderBy("event_type")

  /** Equi-width price histogram per event type: `bins` buckets spanning
    * [min, max] of each type. Stats come from one tiny groupBy (5 rows)
    * broadcast back onto the stream — NOT a per-type window, which would
    * sort each type through a single task. The bucket index is per-row
    * IEEE arithmetic on exact inputs (no aggregation-order dependence), so
    * it is engine-identical; value == max clamps into the last bucket, and
    * a constant-valued type degenerates to bucket 0. */
  def priceHistogram(events: DataFrame, bins: Int = 10): DataFrame = {
    val stats = events.groupBy("event_type")
      .agg(min("value").as("mn"), max("value").as("mx"))
    events.join(broadcast(stats), "event_type")
      .select(col("event_type"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(bins - 1L),
            floor((col("value") - col("mn")) /
              ((col("mx") - col("mn")) / bins))))
          .as("bucket"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_type", "bucket")
  }

  /** Equi-DEPTH purchase-value histogram: `k` buckets holding (near-)equal
    * ROW counts — the quantile-sliced complement of [[priceHistogram]]'s
    * equi-width bins (a skewed price distribution stuffs one equi-width
    * bin with almost everything; equal-depth slices stay readable and are
    * what a feature-binning / monotonic-calibration step consumes).
    *
    * Bucket assignment is ARITHMETIC over the distributed global ordinal
    * (`((rn-1)·k) div n` — the [[EventQueries.rfmSegments]] quintile
    * discipline generalized): [[Ordinals.globalRowNumbers]] range-
    * repartitions on (value, event_id), so no single-task `ntile` sort
    * ever sees the corpus, and the integer floor-div mirrors exactly.
    * `n` rides a 1-row broadcast frame off the numbered rows. Bucket
    * sizes differ by at most one row, proven by the mirror's
    * `row_number`-based twin on the hash gate. */
  def equidepthHistogram(events: DataFrame, k: Int = EquidepthK): DataFrame = {
    val vals = events
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("value"), col("event_id"))
    val numbered = Ordinals.globalRowNumbers(vals,
      Seq(col("value"), col("event_id")))
    val n = numbered.agg(count(lit(1)).as("n"))
    numbered.crossJoin(broadcast(n))
      .select(expr(s"((rn - 1) * $k) div n").as("bucket"), col("value"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), min("value").as("lo"),
        max("value").as("hi"), moneySum(col("value")).as("sum_value"))
      .orderBy("bucket")
  }

  /** EWMA smoothing factor α = [[EwmaNum]]/[[EwmaDen]] as a rational —
    * shared with the generated recursive-CTE mirror so query and oracle
    * can never desync (the Graph.DampNum discipline). */
  val EwmaNum = 1L
  val EwmaDen = 4L

  /** Tuning constants shared between the Spark defaults and their
    * generated mirrors (the shared-constant discipline: changing a
    * default here re-renders the oracle — a desync is impossible by
    * construction, not just caught by the gate). */
  val EquidepthK = 10
  val AttributionWindowMinutes = 30
  val PathMaxLen = 20
  val PathTopK = 50
  val MoversTopK = 20
  /** Target-encoding smoothing pseudo-count (Micci-Barreca m). */
  val TargetEncodingM = 10L
  /** Holt double-exponential smoothing rationals: α = 1/4, β = 1/8. */
  val HoltANum = 1L
  val HoltADen = 4L
  val HoltBNum = 1L
  val HoltBDen = 8L
  /** MAD anomaly threshold multiplier (|dev| > sigma·MAD flags). */
  val MadSigma = 3L

  /** Exponentially-weighted daily-revenue smoothing (α = 1/4) carried
    * entirely in FIXED-POINT integer cents so the inherently sequential
    * recurrence rides the hash gate (the q_pagerank_exact discipline
    * applied to a time series): `ewma_0 = cents_0`, `ewma_t =
    * (αnum·cents_t + (αden-αnum)·ewma_{t-1}) div αden` — every step a
    * long multiply/add/floor-div, bit-identical to the mirror's recursive
    * CTE (`//` ≡ Spark `div` on the non-negative cents here).
    *
    * The recurrence runs over the per-day aggregate frame — bounded by
    * the CALENDAR (runningRevenue's accepted day-frame scale), not the
    * event stream — so it folds via one sorted `collect_list` +
    * `aggregate` HOF on a single row and explodes back: fully
    * declarative, no driver loop; the corpus-sized work (the daily
    * aggregate) stays an ordinary partial-aggregated shuffle. The HOF
    * lambda touches only the fold accumulator and element (the round-6
    * small-fan-out rule; ≤ calendar-days elements). */
  def ewmaDailyRevenue(events: DataFrame, aNum: Long = EwmaNum,
      aDen: Long = EwmaDen): DataFrame = {
    require(aNum > 0 && aDen > aNum, s"alpha $aNum/$aDen outside (0,1)")
    val keep = aDen - aNum
    // TRUE floor division (pmod keeps the remainder non-negative, so the
    // quotient floors for refund-heavy NEGATIVE days too — matching the
    // mirror's `//`, which floors; a truncating `div` would diverge there);
    // the subtraction makes the double division exact (quotients ≪ 2^53)
    def floorDiv(c: org.apache.spark.sql.Column) =
      ((c - pmod(c, lit(aDen))) / aDen).cast(LongType)
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(day)
      .agg(moneySum(col("value")).as("rev"))
      .select(col("event_date"),
        floor(col("rev") * 100 + 0.5).cast(LongType).as("cents"))
    val folded = daily
      .agg(array_sort(collect_list(struct(col("event_date"), col("cents"))))
        .as("xs"))
      .select(aggregate(
        col("xs"),
        expr("CAST(array() AS " +
          "ARRAY<STRUCT<event_date: DATE, cents: BIGINT, ewma: BIGINT>>)"),
        (acc, x) => {
          val prev = element_at(acc, -1).getField("ewma")
          val e = when(size(acc) === 0, x.getField("cents"))
            .otherwise(floorDiv(x.getField("cents") * aNum + prev * keep))
          concat(acc, array(struct(
            x.getField("event_date").as("event_date"),
            x.getField("cents").as("cents"), e.as("ewma"))))
        }).as("res"))
    folded.select(explode(col("res")).as("r"))
      .select(col("r.event_date").as("event_date"), col("r.cents").as("cents"),
        col("r.ewma").as("ewma_cents"))
      .orderBy("event_date")
  }

  /** Linear multi-touch attribution: every purchase's revenue splits
    * EXACTLY — integer cents, Hamilton largest-remainder (the
    * q_mixture_allocation discipline) with the remainder cents going to
    * the EARLIEST touches — across the user's view/click touches in the
    * preceding `windowMinutes`; purchases with an empty touch window
    * credit a `direct` bucket, so credited cents ≡ purchase cents in
    * total (spec-pinned invariant, and the reason the whole report rides
    * the hash gate: no IEEE share arithmetic anywhere).
    *
    * The purchase×touch pairing is [[RangeJoin.overlapJoin]]'s bucket
    * decomposition (touches as point intervals) — the user-equality
    * predicate rides the join condition, so Catalyst hashes on
    * (bucket, user), never a time-bucket-only pairing, and AQE can
    * skew-split a hot key. The rank window is per-purchase (bounded by
    * one purchase's touch fan-out); the joined frame pins once for its
    * two consumers (credits + the direct anti-join). */
  def multiTouchAttribution(events: DataFrame,
      windowMinutes: Int = AttributionWindowMinutes): DataFrame = {
    val winUs = windowMinutes.toLong * 60L * 1000000L
    val p = events
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        to_date(col("ts")).as("p_date"),
        (unix_micros(col("ts")) - winUs).as("w_start"),
        unix_micros(col("ts")).as("p_us"),
        floor(col("value") * 100 + 0.5).cast(LongType).as("cents"))
    val t = events.filter(col("event_type").isin("view", "click"))
      .select(col("event_id").as("t_id"), col("user_id").as("t_user"),
        col("event_type").as("touch_type"),
        unix_micros(col("ts")).as("t_us"))
    val joined = RangeJoin.overlapJoin(p, "w_start", "p_us",
        t, "t_us", "t_us", bucketUs = winUs,
        extraPred = col("p_user") === col("t_user") &&
          col("t_us") < col("p_us"))
      .localCheckpoint(true)
    val byPurchase = Window.partitionBy(col("p_id"))
    val ranked = joined
      .withColumn("n", count(lit(1)).over(byPurchase))
      .withColumn("rk", row_number().over(
        byPurchase.orderBy(col("t_us"), col("t_id"))))
    // floored quotient + non-negative remainder: conserves cents for
    // refund-style NEGATIVE purchases too (a truncating `div` would mint
    // a cent there, and the mirror's `//` floors — they must agree)
    val credits = ranked.select(col("p_date").as("event_date"),
      col("touch_type"),
      (((col("cents") - pmod(col("cents"), col("n"))) / col("n"))
        .cast(LongType) +
        when(col("rk") <= pmod(col("cents"), col("n")), 1L).otherwise(0L))
        .as("credit"))
    val direct = p
      .join(joined.select(col("p_id")), Seq("p_id"), "left_anti")
      .select(col("p_date").as("event_date"),
        lit("direct").as("touch_type"), col("cents").as("credit"))
    credits.unionByName(direct)
      .groupBy("event_date", "touch_type")
      .agg(count(lit(1)).as("n_credits"),
        sum(col("credit")).as("credited_cents"))
      .orderBy("event_date", "touch_type")
  }

  /** Day-over-day revenue movement: delta and percent change via a lag
    * window over the per-day aggregate frame (bounded by the calendar —
    * the runningRevenue scale argument). Deltas subtract two exact-
    * decimal-derived 2dp doubles (identical IEEE bits both engines) and
    * floor-round; percent change divides the materialized columns and
    * 4dp floor-rounds, guarded on a zero/missing predecessor (first day
    * reports NULLs, never a fabricated zero). */
  def revenueDayOverDay(events: DataFrame): DataFrame = {
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(day).agg(moneySum(col("value")).as("revenue"))
    daily
      .withColumn("prev",
        lag(col("revenue"), 1).over(Window.orderBy("event_date")))
      .select(col("event_date"), col("revenue"),
        round2(col("revenue") - col("prev"), 2).as("delta"),
        when(col("prev") > 0,
          round2((col("revenue") - col("prev")) / col("prev"), 4))
          .as("pct_change"))
      .orderBy("event_date")
  }

  /** Top user-day event PATHS (funnel-path mining): the first `maxLen`
    * events of each (day, user) ordered by (ts, event_id), rendered as a
    * '>'-joined event-type sequence and counted across user-days.
    *
    * The row_number cap runs BEFORE collect_list, so aggregation-buffer
    * state is ≤ maxLen entries per group — a hot bot user-day pays a
    * spillable WindowExec sort over its own partition key instead of
    * materializing an unbounded array; the path render sorts the ≤maxLen
    * struct array (total order: rk). Top-k compiles to
    * TakeOrderedAndProject. */
  def userPaths(events: DataFrame, maxLen: Int = PathMaxLen,
      topK: Int = PathTopK): DataFrame = {
    val w = Window.partitionBy(col("d"), col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events.select(to_date(col("ts")).as("d"), col("user_id"),
        col("ts"), col("event_id"), col("event_type"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= maxLen)
      .groupBy("d", "user_id")
      .agg(collect_list(struct(col("rk"), col("event_type"))).as("evs"))
      .select(array_join(transform(array_sort(col("evs")),
        e => e.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_userdays"))
      .orderBy(col("n_userdays").desc, col("path"))
      .limit(topK)
  }

  /** Top movers: the `topK` largest day-over-day revenue swings across
    * categories — the "what changed" complement of [[revenueDayOverDay]]
    * (its lag is global; this one PARTITIONS by category, so the window
    * sorts one category's day frame per task, calendar-bounded). First
    * days have no predecessor and are excluded (a fabricated zero would
    * report launch days as movers). The |delta| ranking is
    * TakeOrderedAndProject; deltas are exact-decimal-derived 2dp doubles
    * so the ordering mirrors bit-for-bit. */
  def categoryMovers(events: DataFrame, topK: Int = MoversTopK): DataFrame = {
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(get_json_object(col("props"), "$.k").as("category"), day)
      .agg(moneySum(col("value")).as("revenue"))
      .filter(col("category").isNotNull)
    val w = Window.partitionBy("category").orderBy("event_date")
    daily.withColumn("prev", lag(col("revenue"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("category"), col("event_date"), col("revenue"),
        round2(col("revenue") - col("prev"), 2).as("delta"))
      .orderBy(abs(col("delta")).desc, col("category"), col("event_date"))
      .limit(topK)
  }

  /** Growth accounting: users by FIRST-seen day, with the cumulative
    * registered-user count — the new-vs-returning split every analytics
    * stack wants next to DAU. Two exact integer aggregates; the running
    * total's unpartitioned window orders only the post-aggregate day rows
    * (one per day), not the event stream. */
  def newUsersDaily(events: DataFrame): DataFrame = {
    val firstSeen = events.select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("user_id").agg(min("d").as("event_date"))
    firstSeen.groupBy("event_date")
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users",
        sum(col("new_users")).over(Window.orderBy("event_date")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("event_date")
  }

  /** DAU wide: one row per day, one exact-distinct column per event type
    * (pivot). Dedup-then-count: a first distinct on (day, type, user)
    * replaces five per-column distinct aggregates (which would Expand the
    * input 5×) — same results, one shuffle that also spreads hot days
    * across partitions (the [[Skew]].distinctCountSpread shape). */
  def dauPivot(events: DataFrame): DataFrame =
    events.select(day, col("event_type"), col("user_id"))
      .distinct()
      .groupBy("event_date")
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("event_date")

  /** Long-form DAU from the wide pivot (unpivot/melt): includes explicit
    * zero rows for (day, type) combos with no activity — the normalization
    * step between wide exports and long analytics tables. */
  def dauUnpivot(events: DataFrame): DataFrame =
    dauPivot(events)
      .unpivot(Array(col("event_date")),
        Event.testdataTypes.map(col).toArray, "event_type", "dau")
      .orderBy("event_date", "event_type")

  /** User retention cohorts via set operations (the category absent from
    * the reference — SURVEY §2.7): users active in both halves of the
    * observation window (INTERSECT), and first-half users who churned
    * (EXCEPT), as one labeled union. Catalyst plans both as aggregations/
    * anti-joins on the deduped key — no full materialized sets. */
  def userRetention(events: DataFrame, splitDate: String = "2024-01-15"): DataFrame = {
    val firstHalf = events.filter(col("ts") < lit(splitDate).cast("timestamp"))
      .select(col("user_id"))
    val secondHalf = events.filter(col("ts") >= lit(splitDate).cast("timestamp"))
      .select(col("user_id"))
    val retained = firstHalf.intersect(secondHalf)
      .select(lit("retained").as("cohort"), col("user_id"))
    val churned = firstHalf.except(secondHalf)
      .select(lit("churned").as("cohort"), col("user_id"))
    retained.unionAll(churned).orderBy("cohort", "user_id")
  }

  /** DAU via HyperLogLog++ sketches — the at-scale alternative to A9's
    * exact distinct: constant memory per (day, type) group regardless of
    * cardinality, mergeable across partitions (and across days for rollups).
    * ~2% standard error; no oracle (approximation), accuracy pinned by
    * spec. */
  def dailyActiveUsersApprox(events: DataFrame, rsd: Double = 0.02): DataFrame =
    events.groupBy(day, col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_dau"))
      .orderBy(col("event_date").desc, col("event_type"))

  /** Per-day earliest-N sample via ranking window
    * (`reference:airflow_docker/dags/ecomm_pipeline/extractor.py:117-124`,
    * the per-day 10k cap). `event_id` tiebreak makes tied timestamps
    * deterministic (SURVEY §2.5 nondeterminism note). Spark ≥3.5 pushes the
    * `row_number <= n` filter into a window group limit, so each partition
    * keeps only n rows before the final window sort. */
  def dailyTopN(events: DataFrame, n: Int = 100): DataFrame = {
    val w = Window.partitionBy(to_date(col("ts")))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(day, col("event_id"), row_number().over(w).cast(LongType).as("rn"))
      .filter(col("rn") <= n)
      .orderBy(col("event_date"), col("rn"))
  }

  /** Per-day event counts — the extract statistics of
    * `reference:airflow_docker/dags/ecomm_pipeline/extractor.py:127-130`. */
  def extractStats(events: DataFrame): DataFrame =
    events.groupBy(day)
      .agg(count(lit(1)).as("event_count"))
      .orderBy("event_date")

  /** Revenue rollup over (event_type, day): per-(type, day) rows plus
    * per-type subtotals plus a grand total in one pass — Spark plans one
    * Expand + hash aggregate, so the subtotal levels cost one shuffle
    * total (vs three separate aggregations). `gid` disambiguates subtotal
    * rows from genuine nulls. */
  def revenueRollup(events: DataFrame): DataFrame =
    events.filter(col("event_type").isin("view", "click", "purchase"))
      .rollup(col("event_type"), day)
      .agg(moneySum(col("value")).as("revenue"), count(lit(1)).as("n_events"),
        grouping_id().as("gid"))
      .orderBy(col("gid").desc, col("event_type"), col("event_date"))

  /** Full cube over (event_type, day): every subtotal combination —
    * (type, day), (type), (day), () — in ONE Expand + hash-aggregate pass
    * (4 grouping sets ≙ one shuffle, vs four separate aggregations).
    * Completes the rollup / grouping-sets family: cube is the power set,
    * rollup the prefix chain, groupingSets the arbitrary subset. */
  def revenueCube(events: DataFrame): DataFrame =
    events.filter(col("event_type").isin("view", "click", "purchase"))
      .cube(col("event_type"), day)
      .agg(moneySum(col("value")).as("revenue"), count(lit(1)).as("n_events"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("event_type"), col("event_date"))

  /** Arbitrary grouping sets — (type, day), (type), (day) — in one Expand +
    * aggregate pass; unlike rollup this includes the non-prefix (day)-only
    * subtotal. */
  def revenueGroupingSets(events: DataFrame): DataFrame =
    events.filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_type"), day, col("value"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("event_date")),
          Seq(col("event_type")), Seq(col("event_date"))),
        col("event_type"), col("event_date"))
      .agg(moneySum(col("value")).as("revenue"), count(lit(1)).as("n_events"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("event_type"), col("event_date"))

  /** Rolling `days`-day distinct users from MERGEABLE per-day HLL
    * sketches — the at-scale DAU/WAU layout: each day's raw events are
    * scanned ONCE ever (into a tiny DataSketches HLL), and every rolling
    * window is a union of stored sketches, never a re-scan. The union
    * runs as a window aggregate over a CALENDAR range frame (unix_date
    * ordering), so missing days can't misalign the window the way a
    * rows-based frame would. Estimates carry HLL error (default lgK=12 ⇒
    * ~1.6% rsd) — no oracle; the spec pins estimates against the exact
    * rolling distinct. The unpartitioned window runs on the per-day
    * pre-aggregate — bounded by days, not events (the [[runningRevenue]]
    * argument). The storage half of the pattern is
    * [[graft.sink.Sinks.writeDailySketches]]: sketches persist as a
    * binary column and [[rollingFromSketches]] computes any window from
    * the stored table without touching raw events. */
  def rollingDauSketch(events: DataFrame, days: Int = 7): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    rollingFromSketches(daily, days)
  }

  /** The serving half over an (event_date, sk binary) sketch table —
    * inline-built or read back from parquet. */
  def rollingFromSketches(daily: DataFrame, days: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(unix_date(col("event_date")))
      .rangeBetween(-(days - 1), Window.currentRow)
    daily.select(col("event_date"),
        hll_sketch_estimate(hll_union_agg(col("sk")).over(w))
          .as("rolling_users_est"))
      .orderBy("event_date")
  }

  /** Per-day view→purchase conversion latency over the banded interval
    * join's pair stream ([[AsOfJoin.viewPurchasePairs]]): count, average
    * and extremes in seconds. Latencies are exact integer microseconds
    * until the final divisions (IEEE-exact, same operation order as the
    * mirror), so the stats hash-match. */
  def conversionLatency(events: DataFrame): DataFrame = {
    val latUs = unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))
    AsOfJoin.viewPurchasePairs(events)
      .select(to_date(col("purchase_ts")).as("event_date"),
        latUs.as("lat_us"))
      .groupBy("event_date")
      .agg(count(lit(1)).as("n_pairs"),
        round2(sum(col("lat_us")).cast("double") / count(lit(1)) / 1e6)
          .as("avg_latency_s"),
        round2(min(col("lat_us")).cast("double") / 1e6).as("min_latency_s"),
        round2(max(col("lat_us")).cast("double") / 1e6).as("max_latency_s"))
      .orderBy("event_date")
  }

  /** Classic cohort-retention triangle: distinct users active in week `w`
    * after their first-seen day, per first-seen-day cohort, with the
    * retention share against the cohort size. The companion of
    * [[cohortRevenue]] (which sums LTV over the same axes) — this one
    * counts USERS, the churn metric product teams actually read.
    *
    * Exactness: counts are deduped-then-counted longs (one distinct on
    * the narrow (cohort, week, user) triple — never a per-cell
    * count-distinct Expand), and the share divides two exact longs as
    * doubles with the shared 4dp floor rounding. Scale shape: the
    * activity frame dedups (user, day) FIRST (events → user-days, the
    * big cardinality drop), and every later shuffle is user- or
    * cohort-keyed on the reduced frame. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val activity = events
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val cohorts = activity.groupBy("user_id")
      .agg(min("d").as("cohort_date"))
    val sizes = cohorts.groupBy("cohort_date")
      .agg(count(lit(1)).as("cohort_users"))
    activity.join(cohorts, "user_id")
      .select(col("cohort_date"),
        floor(datediff(col("d"), col("cohort_date")) / 7).cast(LongType)
          .as("week"),
        col("user_id"))
      .distinct()
      .groupBy("cohort_date", "week")
      .agg(count(lit(1)).as("active_users"))
      .join(sizes, "cohort_date")
      .select(col("cohort_date"), col("week"), col("active_users"),
        col("cohort_users"),
        round2(col("active_users").cast("double") / col("cohort_users"), 4)
          .as("retention_pct"))
      .orderBy("cohort_date", "week")
  }

  /** Event-type transition matrix (the Markov/Sankey view of user flow):
    * for each consecutive in-user event pair, the transition count and
    * its share of all transitions leaving the source type. The lag
    * window partitions by user — each task sorts one user's events, so
    * the hot key is bounded by the busiest user, never the corpus — and
    * the share's second window runs over the ≤|types|² aggregate frame.
    * Counts are exact longs; the share divides them as doubles with
    * shared 4dp rounding, so the whole matrix rides the hash gate. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    transitionRollup(events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("next_type")))
  }

  /** The count + out-share rollup over a (prev_type, next_type) pair
    * stream — shared by the batch window lag and the STATEFUL streaming
    * lag ([[graft.streaming.TransitionState]]), so both keys certify the
    * same aggregation against one oracle and differ only in how pairs
    * were produced. */
  def transitionRollup(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("out_total",
        sum(col("n_transitions")).over(Window.partitionBy("prev_type")))
      .select(col("prev_type"), col("next_type"), col("n_transitions"),
        round2(col("n_transitions").cast("double") / col("out_total"), 4)
          .as("share"))
      .orderBy("prev_type", "next_type")

  /** [[markovStationary]] fixed-point scale and iteration count — shared
    * with the generated mirror (the q_pagerank_exact discipline). */
  val MarkovScale = 1000000000L
  val MarkovIters = 12

  /** State-count ceiling for [[markovStationary]]'s DRIVER fold: at or
    * under it the ≤ k² transition matrix collects (≤ 4096 rows — the
    * zone-map bounded-scalar rule) and the twelve rounds run as a pure
    * driver loop; above it the distributed per-round loop stands. The
    * event-TYPE domain is semantically tiny (a handful of interaction
    * verbs), so the driver route is the one that runs in practice —
    * VERDICT r16 #4 measured the distributed loop's 2.96 s wall at
    * cpu_par 0.20: ten Spark jobs of round-coordination latency over a
    * constants-bounded matrix. */
  val MarkovDriverFoldMaxStates = 64L

  /** Stationary distribution of the event-type Markov chain — the
    * long-run "where does a user's attention settle" readout over the
    * q_event_transitions matrix: fixed-point power iteration
    * `x' = x·P` with P's row probabilities kept as RATIONALS
    * (count/row-total) and mass in scale-[[MarkovScale]] longs, floored
    * per multiplication (`(w·n) div tot` ≡ DuckDB `//` on non-negatives)
    * — the q_pagerank_exact fixed-point discipline on a transition
    * matrix. Fixed [[MarkovIters]] rounds, no convergence gate
    * (idempotence at the fixed point is spec evidence); states with no
    * inbound transitions re-enter each round with mass 0 via the
    * state-universe left join. The state set is the event-type domain —
    * a tiny frame, so each round is a broadcast-sized join; the only
    * corpus pass is the lag-pair aggregate. */
  def markovStationary(events: DataFrame,
      iters: Int = MarkovIters): DataFrame = {
    val p = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
      .filter(col("prev_type").isNotNull)
    val t = p.groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumnRenamed("event_type", "next_type")
      .localCheckpoint(true)
    val tot = t.groupBy("prev_type").agg(sum(col("n")).as("tot"))
    val tm = t.join(tot, "prev_type").localCheckpoint(true)
    val states = t.select(col("prev_type").as("state"))
      .union(t.select(col("next_type")))
      .distinct().localCheckpoint(true)
    val k = states.count() // pre-loop driver count (the pagerank rule)
    if (k <= MarkovDriverFoldMaxStates) {
      // DRIVER fold (r17): the transition matrix is ≤ k² ≤ 4096 rows —
      // one bounded collect, then twelve rounds of exact long
      // arithmetic on the driver. `w * n / tot` on non-negative longs
      // truncates ≡ Spark `div` ≡ DuckDB `//`, so the mirror's
      // unrolled rounds are untouched. Null states (a null event_type)
      // key the map like any other value; the final orderBy runs in
      // Spark, so null-first output ordering is unchanged.
      val spark = events.sparkSession
      val tRows = tm.select(col("prev_type"), col("next_type"), col("n"),
          col("tot")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3)))
      val stateList = states.collect().map(_.getString(0))
      val w0 = MarkovScale / math.max(k, 1L)
      var w = stateList.map(_ -> w0).toMap
      for (_ <- 1 to iters) {
        val contrib = new scala.collection.mutable.HashMap[String, Long]()
        tRows.foreach { case (prev, next, n, tot) =>
          contrib.update(next,
            contrib.getOrElse(next, 0L) + w(prev) * n / tot)
        }
        w = stateList.map(st => st -> contrib.getOrElse(st, 0L)).toMap
      }
      import spark.implicits._
      val out = stateList.map { st =>
        val m = w(st)
        val p = math.floor(
          m.toDouble / MarkovScale.toDouble * 10000.0 + 0.5) / 10000.0
        (st, m, p)
      }.toSeq
      out.toDF("state", "mass_fp", "prob").orderBy("state")
    } else {
      var x = states.select(col("state"),
        lit(MarkovScale / math.max(k, 1L)).as("w"))
      for (_ <- 1 to iters) {
        val contrib = tm.join(x, tm("prev_type") === x("state"))
          .select(col("next_type").as("state"),
            expr("(w * n) div tot").as("c"))
          .groupBy("state").agg(sum(col("c")).as("w"))
        x = states.join(contrib, Seq("state"), "left")
          .select(col("state"), coalesce(col("w"), lit(0L)).as("w"))
          .localCheckpoint(true)
      }
      x.select(col("state"), col("w").as("mass_fp"),
          round2(col("w").cast("double") / lit(MarkovScale.toDouble), 4)
            .as("prob"))
        .orderBy("state")
    }
  }

  /** Kaplan-Meier survival curve over user LIFETIMES (tenure = days
    * between first and last activity; "event" at the last active day —
    * the uncensored engagement-survival readout churn analyses start
    * from): at-risk counts `n_t` and event counts `d_t` per tenure day,
    * and the product-limit estimator
    * `S(t) = Π_{i ≤ t} (1 − d_i / n_i)`.
    *
    * Numeric discipline: n/d are exact longs (a reverse cumulative sum
    * over the BOUNDED distinct-tenure frame); each factor divides two
    * exact longs (correctly-rounded double), and the running product is
    * a SEQUENTIAL left-associative fold — sorted collect_list +
    * aggregate HOF here, a recursive CTE in the mirror — so both engines
    * execute the identical IEEE op sequence (the EWMA discipline with
    * multiplication instead of addition; an order-free product would be
    * engine-dependent). Scale: one user-keyed shuffle for tenures; the
    * curve frame is bounded by the observation window. */
  def survivalCurve(events: DataFrame): DataFrame =
    survivalFromTenures(userTenures(events))

  /** Per-user activity tenure in days — the aggregation half of
    * [[survivalCurve]], shared with the streaming twin (which runs THIS
    * aggregate incrementally in complete mode and feeds the same
    * finisher — the shared-oracle certification pattern). */
  def userTenures(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
        .cast(LongType).as("t"))

  /** Finisher half of [[survivalCurve]] over a `(user_id, t)` frame. */
  def survivalFromTenures(tenure: DataFrame): DataFrame = {
    val byT = tenure.groupBy("t").agg(count(lit(1)).as("d"))
    // at-risk = users whose tenure is ≥ t: reverse cumsum on the bounded
    // distinct-tenure frame
    val wRisk = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = byT.withColumn("n", sum(col("d")).over(wRisk))
    val folded = curve
      .agg(array_sort(collect_list(struct(col("t"), col("d"), col("n"))))
        .as("xs"))
      .select(aggregate(
        col("xs"),
        expr("CAST(array() AS ARRAY<STRUCT<t: BIGINT, d: BIGINT, " +
          "n: BIGINT, s: DOUBLE>>)"),
        (acc, x) => {
          val prevS = when(size(acc) === 0, lit(1.0))
            .otherwise(element_at(acc, -1).getField("s"))
          val s = prevS * (lit(1.0) -
            x.getField("d").cast("double") / x.getField("n").cast("double"))
          concat(acc, array(struct(
            x.getField("t").as("t"), x.getField("d").as("d"),
            x.getField("n").as("n"), s.as("s"))))
        }).as("res"))
    folded.select(explode(col("res")).as("r"))
      .select(col("r.t").as("tenure_days"), col("r.n").as("n_risk"),
        col("r.d").as("n_events"), round2(col("r.s"), 4).as("survival"))
      .orderBy("tenure_days")
  }

  /** Per-user ML feature matrix — the feature-store extraction pass a
    * churn/LTV model trains on: engagement volume, purchase behaviour in
    * exact integer cents, activity span, and recency against the corpus
    * anchor date (a 1-row broadcast scalar, never a driver round-trip).
    *
    * One hash aggregate over the events scan; the two distinct
    * aggregates (active days, categories) Expand the projection ×3, but
    * over a three-narrow-column frame — the wide-text discipline
    * (md5-digest distincts) is unnecessary for date/short-string keys.
    * The purchase rate divides exact longs as doubles (shared 4dp
    * rounding), so the matrix rides the hash gate. */
  def userFeatures(events: DataFrame): DataFrame = {
    val anchor = events.agg(max(to_date(col("ts"))).as("anchor"))
    val feats = events.groupBy("user_id").agg(
      count(lit(1)).as("n_events"),
      count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
      sum(when(col("event_type") === "purchase",
        floor(col("value") * 100 + 0.5).cast(LongType)).otherwise(0L))
        .as("monetary_cents"),
      min(to_date(col("ts"))).as("first_seen"),
      max(to_date(col("ts"))).as("last_seen"),
      countDistinct(to_date(col("ts"))).as("active_days"),
      countDistinct(get_json_object(col("props"), "$.k")).as("n_categories"))
    feats.crossJoin(broadcast(anchor))
      .select(col("user_id"), col("n_events"), col("n_purchases"),
        col("monetary_cents"), col("first_seen"), col("last_seen"),
        col("active_days"), col("n_categories"),
        datediff(col("anchor"), col("last_seen")).as("recency_days"),
        (datediff(col("last_seen"), col("first_seen")) + 1).as("tenure_days"),
        round2(col("n_purchases").cast("double") / col("n_events"), 4)
          .as("purchase_rate"))
      .orderBy("user_id")
  }

  /** Smoothed target encoding of the category attribute against purchase
    * value (the Micci-Barreca encoder feature pipelines apply before
    * gradient boosting): `enc = (sum + m·prior) / (n + m)` with
    * pseudo-count [[TargetEncodingM]], where the global prior rides a
    * 1-row broadcast frame. Sums are exact integer cents; the encoder
    * arithmetic then runs the IDENTICAL double op sequence in both
    * engines (prior division, multiply, add, divide) with shared 4dp
    * floor rounding — so a trained-feature transform rides the hash
    * gate. One category-keyed shuffle over the pruned purchase scan. */
  def targetEncoding(events: DataFrame, m: Long = TargetEncodingM): DataFrame = {
    val p = events
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(get_json_object(col("props"), "$.k").as("category"),
        floor(col("value") * 100 + 0.5).cast(LongType).as("cents"))
      .filter(col("category").isNotNull)
    val per = p.groupBy("category")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val glob = p.agg(count(lit(1)).as("g_n"), sum("cents").as("g_sum"))
    per.crossJoin(broadcast(glob))
      .select(col("category"), col("n"), col("sum_cents"),
        round2((col("sum_cents").cast("double") +
          lit(m) * (col("g_sum").cast("double") / col("g_n"))) /
          (col("n") + m), 4)
          .as("encoded_cents"))
      .orderBy("category")
  }

  /** JSON attribute flatten + profile: parse the `props` document with a
    * declared schema (`from_json`, codegen'd — never a per-row UDF),
    * project the typed attribute, and profile it per event type (count,
    * coverage, sum/min/max, exact distinct). The schema-on-read pattern
    * every semi-structured ingest needs; the parse prunes to the one
    * declared field. Longs only, so it rides the hash gate. */
  def propsFlatten(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        from_json(col("props"), lit("k BIGINT")).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy("event_type")

  /** Holt double-exponential smoothing (level + trend) over daily
    * revenue, entirely in FIXED-POINT integer cents — [[ewmaDailyRevenue]]
    * extended with a trend state, so the one-day-ahead forecast
    * `level + trend` rides the hash gate too:
    * `level_t = (α·cents_t + (1-α)(level+trend)) ;
    *  trend_t = (β·(level_t - level_{t-1}) + (1-β)·trend)` with α,β as
    * shared rationals and TRUE floor division (pmod remainders) on both
    * sides — the trend state goes NEGATIVE on declines, exactly where a
    * truncating `div` would desync from the mirror's flooring `//`.
    * Same calendar-bounded fold as the EWMA: sorted collect_list +
    * aggregate HOF on one row, corpus-sized work stays in the daily
    * aggregate shuffle. */
  def holtDailyRevenue(events: DataFrame,
      aNum: Long = HoltANum, aDen: Long = HoltADen,
      bNum: Long = HoltBNum, bDen: Long = HoltBDen): DataFrame = {
    require(aNum > 0 && aDen > aNum && bNum > 0 && bDen > bNum,
      s"smoothing factors $aNum/$aDen, $bNum/$bDen outside (0,1)")
    def floorDiv(c: org.apache.spark.sql.Column, den: Long) =
      ((c - pmod(c, lit(den))) / den).cast(LongType)
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(day)
      .agg(moneySum(col("value")).as("rev"))
      .select(col("event_date"),
        floor(col("rev") * 100 + 0.5).cast(LongType).as("cents"))
    val folded = daily
      .agg(array_sort(collect_list(struct(col("event_date"), col("cents"))))
        .as("xs"))
      .select(aggregate(
        col("xs"),
        expr("CAST(array() AS ARRAY<STRUCT<event_date: DATE, " +
          "cents: BIGINT, level: BIGINT, trend: BIGINT>>)"),
        (acc, x) => {
          val prevL = element_at(acc, -1).getField("level")
          val prevT = element_at(acc, -1).getField("trend")
          val lvl = when(size(acc) === 0, x.getField("cents"))
            .otherwise(floorDiv(x.getField("cents") * aNum +
              (prevL + prevT) * (aDen - aNum), aDen))
          val tr = when(size(acc) === 0, lit(0L))
            .otherwise(floorDiv((lvl - prevL) * bNum +
              prevT * (bDen - bNum), bDen))
          concat(acc, array(struct(
            x.getField("event_date").as("event_date"),
            x.getField("cents").as("cents"),
            lvl.as("level"), tr.as("trend"))))
        }).as("res"))
    folded.select(explode(col("res")).as("r"))
      .select(col("r.event_date").as("event_date"), col("r.cents").as("cents"),
        col("r.level").as("level_cents"), col("r.trend").as("trend_cents"),
        (col("r.level") + col("r.trend")).as("forecast_cents"))
      .orderBy("event_date")
  }

  /** Bounded-capacity order backlog: a CLAMPED running sum —
    * `backlog_t = max(0, backlog_{t-1} + arrivals_t − capacity)` — the
    * first NON-LINEAR recurrence on the hash gate (the EWMA/Holt folds
    * are linear; the max() clamp destroys prefix-sum decomposability, so
    * the sequential fold is the only exact shape). Daily capacity is the
    * floored mean arrival rate, computed as a 1-row scalar that rides
    * INSIDE each folded element (both engines floor-divide the same
    * exact longs). `served_t = backlog_{t-1} + arrivals_t − backlog_t`
    * closes the conservation identity (spec-pinned:
    * Σserved + final backlog ≡ Σarrivals). Calendar-bounded fold, same
    * scale shape as [[ewmaDailyRevenue]]. */
  def backlogQueue(events: DataFrame): DataFrame = {
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(day)
      .agg(count(lit(1)).as("arrivals"))
    val cap = daily.agg(sum("arrivals").as("t"), count(lit(1)).as("nd"))
      .select(expr("t div nd").as("cap"))
    val folded = daily.crossJoin(broadcast(cap))
      .agg(array_sort(collect_list(
        struct(col("event_date"), col("arrivals"), col("cap")))).as("xs"))
      .select(aggregate(
        col("xs"),
        expr("CAST(array() AS ARRAY<STRUCT<event_date: DATE, " +
          "arrivals: BIGINT, backlog: BIGINT, served: BIGINT>>)"),
        (acc, x) => {
          val prevB = when(size(acc) === 0, 0L)
            .otherwise(element_at(acc, -1).getField("backlog"))
          val avail = prevB + x.getField("arrivals")
          val backlog = greatest(avail - x.getField("cap"), lit(0L))
          concat(acc, array(struct(
            x.getField("event_date").as("event_date"),
            x.getField("arrivals").as("arrivals"),
            backlog.as("backlog"), (avail - backlog).as("served"))))
        }).as("res"))
    folded.select(explode(col("res")).as("r"))
      .select(col("r.event_date").as("event_date"),
        col("r.arrivals").as("arrivals"), col("r.backlog").as("backlog"),
        col("r.served").as("served"))
      .orderBy("event_date")
  }

  /** [[revenueAcf]] maximum lag — shared with the mirror. */
  val AcfMaxLag = 7

  /** Lag-1..[[AcfMaxLag]] autocorrelation of the daily-revenue series —
    * the seasonality screen that tells a pipeline whether the weekday
    * model (q_weekday_seasonality) is even warranted: ACF(7) ≫ ACF(1-6)
    * confirms a weekly cycle.
    *
    * Numeric discipline: deviations are EXACT LONGS around the
    * floor-cent mean (`t div n` — quantizing the mean to whole cents
    * changes the statistic by < 1 cent/day, and buys bit-exactness:
    * dev products and their sums stay in int64 for daily revenue up to
    * ~5×10^8 cents over a 31-day frame; beyond that the products
    * escalate to DECIMAL the way q_revenue_anomalies' moments do). The
    * final r_k divides two correctly-rounded long→double conversions —
    * identical bits in both engines, so the 4dp readout rides the gate.
    *
    * Scale shape: one shuffle (per-day aggregate); the series frame is
    * calendar-bounded, so the rn window and the lag self-join run on a
    * ≤|days| frame — never the event stream. */
  def revenueAcf(events: DataFrame, maxLag: Int = AcfMaxLag): DataFrame = {
    val spark = events.sparkSession
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(day)
      .agg(moneySum(col("value")).as("rev"))
      .select(col("event_date"),
        floor(col("rev") * 100 + 0.5).cast(LongType).as("cents"))
    // bounded calendar frame: the unpartitioned window runs on ≤|days|
    val s = daily.withColumn("rn",
      row_number().over(Window.orderBy("event_date")).cast(LongType))
    val stats = s.agg(count(lit(1)).as("n"), sum(col("cents")).as("t"))
      .select(expr("t div n").as("mean_cents"))
    val v = s.crossJoin(broadcast(stats))
      .select(col("rn"), (col("cents") - col("mean_cents")).as("dev"))
    val den = v.agg(sum(col("dev") * col("dev")).as("den"))
    val lags = spark.range(1, maxLag + 1).select(col("id").as("k"))
    val num = v.as("a").crossJoin(lags)
      .join(v.as("b"), col("b.rn") === col("a.rn") + col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a.dev") * col("b.dev")).as("num"))
    num.crossJoin(broadcast(den))
      // den = 0 (a zero-variance series) must yield NULL in BOTH engines:
      // Spark's 0.0/0.0 is NaN while DuckDB's x/0 is NULL — force the
      // NULL semantics here (the null-parity discipline)
      .select(col("k"), col("n_pairs"),
        when(col("den") === 0L, lit(null).cast("double"))
          .otherwise(round2(
            col("num").cast("double") / col("den").cast("double"), 4))
          .as("acf"))
      .orderBy("k")
  }

  /** One-sided CUSUM drift detector over daily revenue — the changepoint
    * screen (persistent upward shift) complementing the pointwise z-score
    * of q_revenue_anomalies: `S_t = max(0, S_{t-1} + dev_t − slack)`
    * accumulates deviations that EXCEED half a standard deviation and
    * flags days where the accumulation passes 4σ.
    *
    * The recurrence is the [[backlogQueue]] clamped fold (non-linear —
    * prefix sums don't decompose; sorted collect_list + aggregate HOF on
    * the calendar-bounded frame). All state is integer cents: slack and
    * threshold quantize σ (computed from exact long moments via
    * correctly-rounded IEEE double ops, identical bits in both engines)
    * to whole cents with the shared floor trick, so the fold itself never
    * touches a double and the drift verdict is an integer compare. */
  def revenueCusum(events: DataFrame): DataFrame = {
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(day)
      .agg(moneySum(col("value")).as("rev"))
      .select(col("event_date"),
        floor(col("rev") * 100 + 0.5).cast(LongType).as("cents"))
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("cents")).as("t"),
      sum(col("cents") * col("cents")).as("q"))
    val sigma = {
      val mean = col("t").cast("double") / col("n")
      sqrt(greatest(col("q").cast("double") / col("n") - mean * mean,
        lit(0.0)))
    }
    val params = stats.select(
      expr("t div n").as("mean_cents"),
      floor(lit(0.5) * sigma + 0.5).cast(LongType).as("slack"),
      floor(lit(4.0) * sigma + 0.5).cast(LongType).as("thr"))
    val folded = daily.crossJoin(broadcast(params))
      .agg(array_sort(collect_list(struct(col("event_date"), col("cents"),
        col("mean_cents"), col("slack"), col("thr")))).as("xs"))
      .select(aggregate(
        col("xs"),
        expr("CAST(array() AS ARRAY<STRUCT<event_date: DATE, " +
          "cents: BIGINT, cusum: BIGINT, thr: BIGINT>>)"),
        (acc, x) => {
          val prevS = when(size(acc) === 0, 0L)
            .otherwise(element_at(acc, -1).getField("cusum"))
          val s = greatest(prevS + x.getField("cents") -
            x.getField("mean_cents") - x.getField("slack"), lit(0L))
          concat(acc, array(struct(
            x.getField("event_date").as("event_date"),
            x.getField("cents").as("cents"),
            s.as("cusum"), x.getField("thr").as("thr"))))
        }).as("res"))
    folded.select(explode(col("res")).as("r"))
      .select(col("r.event_date").as("event_date"),
        col("r.cents").as("cents"), col("r.cusum").as("cusum"),
        (col("r.cusum") > col("r.thr")).as("drift_flag"))
      .orderBy("event_date")
  }

  /** Poisson-bootstrap replicate count — shared with the mirror. */
  val BootstrapReps = 200

  /** Cumulative Poisson(1) probabilities F(0)…F(7), rendered ONCE as
    * 8-hex-digit thresholds on the md5-derived uniform. Both the Spark
    * when-chain and the SQL CASE chain render from THIS list (the
    * shared-constant discipline) — the literals need not equal the true
    * CDF to the last ulp, they only need to be the SAME in both engines. */
  val PoissonHexThresholds: Seq[String] = {
    val pmf = Iterator.iterate((math.exp(-1.0), 0)) {
      case (p, k) => (p / (k + 1), k + 1)
    }.map(_._1).take(8).toSeq
    pmf.scanLeft(0.0)(_ + _).drop(1)
      .map(f => f"${(f * 4294967296.0).toLong}%08x")
  }

  /** Poisson(1) draw from the first 8 md5 hex digits: hex-string compare
    * against the shared thresholds — a uniform [0,1) comparison that is
    * pure string collation, identical in any engine. */
  private def poissonWeight(u: Column): Column =
    PoissonHexThresholds.zipWithIndex.reverse.foldLeft(lit(8L)) {
      case (acc, (t, k)) => when(u < lit(t), lit(k.toLong)).otherwise(acc)
    }

  /** SQL rendering of [[poissonWeight]] over expression `u`. */
  private[graft] def poissonWeightSql(u: String): String =
    PoissonHexThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN $u < '$t' THEN $k" }
      .mkString("CASE ", " ", " ELSE 8 END")

  /** Poisson bootstrap confidence interval for mean daily revenue — the
    * resampling-uncertainty readout (n_days, point estimate in cents,
    * replicate count, 2.5%/97.5% percentile bounds), fully DETERMINISTIC:
    * replicate weights are Poisson(1) draws from md5(day:rep) — the
    * hash-based resampling that survives reprocessing at 100 TB exactly
    * like [[graft.ext.TextOps.splitExpr]]'s split (rand() never appears).
    *
    * Every replicate mean divides two exact longs (weighted cents sum /
    * weight sum) with the identical op sequence, 4dp-rounds, and the
    * percentile bounds are RANK SELECTIONS over the rounded means
    * (quantile-parity discipline — never an interpolated percentile).
    * Scale: the corpus collapses to the calendar-bounded daily frame
    * FIRST; the ×[[BootstrapReps]] fan-out (a bounded per-row explode)
    * and everything after runs on days×reps rows, and the rank window is
    * over the reps-sized frame (the mixture-allocation argument). */
  def bootstrapCi(events: DataFrame, reps: Int = BootstrapReps): DataFrame = {
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(day).agg(moneySum(col("value")).as("rev"))
      .select(col("event_date"),
        floor(col("rev") * 100 + 0.5).cast(LongType).as("cents"))
    val point = daily
      .agg(count(lit(1)).as("n_days"), sum(col("cents")).as("total_cents"))
      .select(col("n_days"),
        round2(col("total_cents").cast("double") / col("n_days"), 4)
          .as("mean_daily_cents"))
    val repMeans = daily
      .withColumn("rep", explode(sequence(lit(1), lit(reps))))
      .withColumn("w", poissonWeight(substring(md5(concat_ws(":",
        col("event_date").cast("string"), col("rep").cast("string"))), 1, 8)))
      .groupBy("rep")
      .agg(sum(col("w") * col("cents")).as("num"), sum(col("w")).as("den"))
      // an all-zero-weight replicate (P ≈ e^(−n_days)) drops in BOTH
      // engines — loud in n_reps, never a fabricated 0/0
      .filter(col("den") > 0)
      .select(col("rep"),
        round2(col("num").cast("double") / col("den"), 4).as("m"))
    val nr = repMeans.agg(count(lit(1)).as("n_reps"))
    val ranked = repMeans.withColumn("rk",
      row_number().over(Window.orderBy(col("m"), col("rep"))).cast(LongType))
    ranked.crossJoin(broadcast(nr))
      .agg(max(col("n_reps")).as("n_reps"),
        max(when(col("rk") ===
          greatest(lit(1L), expr("(n_reps * 25) div 1000")), col("m")))
          .as("ci_lo"),
        max(when(col("rk") === col("n_reps") -
          greatest(lit(1L), expr("(n_reps * 25) div 1000")) + 1, col("m")))
          .as("ci_hi"))
      .crossJoin(broadcast(point))
      .select(col("n_days"), col("mean_daily_cents"), col("n_reps"),
        col("ci_lo"), col("ci_hi"))
      .orderBy("n_days")
  }

  /** Additive seasonal decomposition of daily revenue — trend (centered
    * 7-day moving average, NULL at the 3-day edges rather than a
    * fabricated partial mean), seasonal (weekday mean − overall mean, the
    * additive twin of [[weekdaySeasonality]]'s index) and residual
    * (revenue − trend − seasonal) — the STL-lite readout an anomaly
    * baseline subtracts before thresholding.
    *
    * The trend frame sums the EXACT decimal daily revenue (order-fixed
    * ROWS frame + exact accumulator, the runningRevenue discipline) and
    * divides once as double; seasonal and residual are fixed double op
    * sequences over exact-derived inputs, 4dp floor-rounded for display
    * while the residual subtracts the RAW (unrounded) components — the
    * mirror states the identical structure. Scale: everything after the
    * events-sized daily aggregate runs on the calendar-bounded frame. */
  def seasonalDecomposition(events: DataFrame): DataFrame = {
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(day).agg(exactSum(col("value")).as("rev"))
      .localCheckpoint(true)
    val w = Window.orderBy("event_date").rowsBetween(-3, 3)
    val wd = daily.groupBy(dayofweek(col("event_date")).as("weekday"))
      .agg(count(lit(1)).as("wd_days"),
        round(sum(col("rev")), 2).cast("double").as("wd_rev"))
      .select(col("weekday"),
        (col("wd_rev") / col("wd_days")).as("wd_mean"))
    val overall = daily.agg(
      (round(sum(col("rev")), 2).cast("double") / count(lit(1)))
        .as("om"))
    daily
      .withColumn("trend_raw",
        when(count(lit(1)).over(w) === 7,
          round(sum(col("rev")).over(w), 2).cast("double") / 7))
      .withColumn("weekday", dayofweek(col("event_date")))
      .join(broadcast(wd), Seq("weekday"))
      .crossJoin(broadcast(overall))
      .select(col("event_date"),
        round(col("rev"), 2).cast("double").as("revenue"),
        round2(col("trend_raw"), 4).as("trend"),
        round2(col("wd_mean") - col("om"), 4).as("seasonal"),
        round2(round(col("rev"), 2).cast("double") - col("trend_raw") -
          (col("wd_mean") - col("om")), 4).as("residual"))
      .orderBy("event_date")
  }

  /** OLS trend of daily revenue against the day index — slope
    * (cents/day), intercept and r² from the closed-form normal equations
    * over EXACT integer moment sums (Σx, Σy, Σxy, Σx², Σy² accumulate in
    * DECIMAL(38,0) ≡ HUGEINT — the q_revenue_concentration discipline;
    * x·y and y² overflow a long at warehouse scale), divided once as
    * doubles with the identical op sequence and 4dp floor-rounded. The
    * day index anchors to the first purchase day via a 1-row broadcast.
    * Scale: one events-sized aggregate to the daily frame, then a
    * five-sum aggregate to ONE row. */
  def revenueTrend(events: DataFrame): DataFrame = {
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(day).agg(moneySum(col("value")).as("rev"))
      .select(col("event_date"),
        floor(col("rev") * 100 + 0.5).cast(LongType).as("cents"))
    val first = daily.agg(min(col("event_date")).as("d0"))
    val xy = daily.crossJoin(broadcast(first))
      .select((datediff(col("event_date"), col("d0")) + 1)
        .cast("decimal(19,0)").as("x"),
        col("cents").cast("decimal(19,0)").as("y"))
    val sums = xy.agg(
      count(lit(1)).cast("decimal(19,0)").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    sums
      .withColumn("d1", (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("decimal(38,0)"))
      .withColumn("d2", (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("decimal(38,0)"))
      .withColumn("d3", (col("n") * col("syy") - col("sy") * col("sy"))
        .cast("decimal(38,0)"))
      .withColumn("slope_raw",
        col("d1").cast("double") / col("d2").cast("double"))
      .select(col("n").cast("long").as("n_days"),
        round2(col("slope_raw"), 4).as("slope_cents_per_day"),
        round2((col("sy").cast("double") -
          col("slope_raw") * col("sx").cast("double")) /
          col("n").cast("double"), 4).as("intercept_cents"),
        round2((col("d1").cast("double") * col("d1").cast("double")) /
          (col("d2").cast("double") * col("d3").cast("double")), 4)
          .as("r2"))
      .orderBy("n_days")
  }

  /** Z-order curve bit width per dimension (8 → a 16-bit Morton code)
    * and the block shift (top 6 bits → 64 layout blocks) — shared with
    * the generated mirror. */
  val ZOrderBits = 8
  val ZOrderBlockShift = 10

  /** Morton (Z-order) interleave of two [[ZOrderBits]]-bit dimensions —
    * x on even bit positions, y on odd. Pure integer bit arithmetic
    * (shift / mask / multiply-by-power-of-two / add), generated from one
    * Scala loop for BOTH engines. */
  private def mortonCol(x: Column, y: Column): Column =
    (0 until ZOrderBits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduceLeft(_ + _)

  /** SQL rendering of [[mortonCol]] — the same loop, the same constants. */
  private[graft] def mortonSql(x: String, y: String): String =
    (0 until ZOrderBits).map { i =>
      s"((($x >> $i) & 1) * ${1L << (2 * i)} + " +
        s"(($y >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")

  /** Z-order data-layout report — the data-skipping diagnostic behind a
    * lakehouse Z-ORDER/cluster-by decision: events map onto a 2-D Morton
    * curve over (user bucket, day number), the curve splits into 64
    * blocks (the would-be file boundaries), and each block reports its
    * row count and per-dimension min/max envelope. Tight envelopes on
    * BOTH dimensions are exactly what lets min/max zone maps skip files
    * for either a user- or a date-predicate — the report a layout
    * optimizer reads before rewriting. All arithmetic is integer
    * shift/mask/add — bit-exact in any engine; one events-sized
    * aggregate to ≤ 64 rows. */
  def zorderLayout(events: DataFrame): DataFrame = {
    val coords = events.select(
      pmod(col("user_id"), lit(1L << ZOrderBits)).as("x"),
      (datediff(to_date(col("ts")), lit("1970-01-01").cast(DateType)) %
        (1 << ZOrderBits)).cast(LongType).as("y"))
    coords
      .select(col("x"), col("y"),
        shiftright(mortonCol(col("x"), col("y")), ZOrderBlockShift)
          .as("block"))
      .groupBy("block")
      .agg(count(lit(1)).as("n_events"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .orderBy("block")
  }

  /** Probe user-bucket for the [[zorderPrune]] demo — shared with the
    * mirror. */
  val ZOrderProbeX = 5L

  /** Zone-map-driven scan pruning over a Z-ordered layout — the payoff
    * end of [[zorderLayout]]: events land in a parquet table PARTITIONED
    * by Morton block (a fresh temp dir per invocation — the round-6
    * side-effect rule), the per-block x-envelopes become the zone map,
    * and a probe predicate `x = [[ZOrderProbeX]]` reads ONLY the blocks
    * whose envelope can match (a partition-column IN filter Spark prunes
    * at listing time — the spec pins `PartitionFilters` in the plan).
    * Output: one row (probe, total blocks, candidate blocks, matched
    * rows) — all mirrorable from the same Morton arithmetic, so the gate
    * certifies the candidate selection is LOSSLESS (the pruned count
    * equals the full-scan predicate count). The candidate-block collect
    * is ≤ 64 rows (a bounded driver scalar, like the erasure key list). */
  def zorderPrune(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-zorder")
    try {
      val coords = events.select(
          pmod(col("user_id"), lit(1L << ZOrderBits)).as("x"),
          (datediff(to_date(col("ts")), lit("1970-01-01").cast(DateType)) %
            (1 << ZOrderBits)).cast(LongType).as("y"))
        .withColumn("block",
          shiftright(mortonCol(col("x"), col("y")), ZOrderBlockShift))
      coords.write.partitionBy("block").parquet(s"$tmp/t")
      val table = graft.ingest.Sources.parquet(spark, s"$tmp/t")
        .withColumn("block", col("block").cast(LongType))
      val layout = table.groupBy("block")
        .agg(min(col("x")).as("x_min"), max(col("x")).as("x_max"))
        .localCheckpoint(true)
      val nBlocks = layout.count()
      val cands = layout
        .filter(col("x_min") <= ZOrderProbeX && col("x_max") >= ZOrderProbeX)
        .select(col("block")).as[Long].collect().toSeq.sorted
      val matched = table
        .filter(col("block").isin(cands: _*) && col("x") === ZOrderProbeX)
        .count()
      spark.range(1).select(
          lit(ZOrderProbeX).as("x_target"),
          lit(nBlocks).as("n_blocks"),
          lit(cands.size.toLong).as("n_candidate_blocks"),
          lit(matched).as("n_rows_matched"))
        .orderBy("x_target")
        .localCheckpoint(true)
    } finally graft.Fs.deleteRecursively(tmp)
  }

  /** Velocity-rule window: events within the trailing
    * [[VelocityWindowSec]] seconds (inclusive) per user; flag at
    * ≥ [[VelocityMinEvents]]. Shared with the mirror. */
  val VelocityWindowSec = 3600L
  val VelocityMinEvents = 3L

  /** Velocity fraud flags — the rate-limit/fraud rule every risk engine
    * runs: events whose trailing one-hour per-user window (RANGE frame
    * over epoch seconds — a true time window even across idle gaps, the
    * rollingUserRevenue discipline) contains ≥ [[VelocityMinEvents]]
    * events. Counts are exact longs; the flag is an integer comparison —
    * nothing to round. The window partitions by user (hot partition
    * bounded by the busiest user, the interPurchaseGaps argument). */
  def velocityFlags(events: DataFrame): DataFrame = {
    val base = events.select(col("event_id"), col("user_id"),
      expr("unix_micros(ts) div 1000000").cast(LongType).as("sec"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-VelocityWindowSec, Window.currentRow)
    velocityRollup(base.withColumn("n_in_window", count(lit(1)).over(w)))
  }

  /** Shared threshold/order finisher over a
    * `(event_id, user_id, sec, n_in_window)` frame — called by
    * [[velocityFlags]] (batch RANGE window) and the stateful streaming
    * twin `q_stream_velocity`, which share one oracle verbatim. */
  def velocityRollup(flags: DataFrame): DataFrame =
    flags.filter(col("n_in_window") >= VelocityMinEvents)
      .select(col("event_id"), col("user_id"), col("sec"),
        col("n_in_window"))
      .orderBy("event_id")

  /** Benford first-digit expected probabilities log₁₀(1 + 1/d), d = 1…9 —
    * ONE Scala list renders both the Spark array literal and the mirror's
    * list literal (shared-constant discipline; Double.toString roundtrips,
    * so both engines parse the identical binary double). */
  val BenfordP: Seq[Double] = (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** χ²(8 df, α = 0.01) critical value for the Benford verdict — the
    * comparison runs on the 4dp-ROUNDED statistic in both engines. */
  val BenfordChiCrit = 20.09

  /** Benford's-law first-digit screen over purchase amounts — the classic
    * fraud/data-fabrication detector: per leading cent digit the observed
    * count, expected Benford probability, χ² contribution, plus the
    * corpus-level χ² statistic and its α = 0.01 verdict replicated onto
    * each row (the one-report shape).
    *
    * Digit extraction is pure string arithmetic (first char of the
    * rendered positive cents long — engines render integers identically);
    * counts are exact; each χ² contribution is the identical double op
    * sequence ((obs − n·p)² / (n·p)) from exact inputs, and the total
    * adds the NINE contributions left-associatively in digit order via a
    * generated c₁+c₂+…+c₉ expression — never an order-free SUM of
    * doubles. The digit spine (explode 1…9) makes absent digits
    * contribute (0 − n·p)²/(n·p) in both engines. Scale: one events-sized
    * aggregate to ≤ 9 rows; everything after is digit-frame arithmetic. */
  def benford(events: DataFrame): DataFrame =
    benfordRollup(benfordDigitCounts(events))

  /** The ONE corpus aggregate under [[benford]]: per-leading-digit
    * purchase counts — also runnable unchanged as a streaming
    * complete-mode aggregation (`q_stream_benford` shares the batch
    * oracle verbatim through [[benfordRollup]]). */
  def benfordDigitCounts(events: DataFrame): DataFrame = events
    .filter(col("event_type") === "purchase" && col("value").isNotNull)
    .select(floor(col("value") * 100 + 0.5).cast(LongType).as("cents"))
    .filter(col("cents") > 0)
    .select(substring(col("cents").cast("string"), 1, 1).cast("int")
      .as("digit"))
    .groupBy("digit").agg(count(lit(1)).as("observed"))

  /** Shared finisher over a `(digit, observed)` count frame — n and the
    * digit spine derive from the ≤ 9-row frame (pinned for its three
    * consumers). */
  def benfordRollup(countsIn: DataFrame): DataFrame = {
    val counts = countsIn.localCheckpoint(true)
    val n = counts.agg(sum(col("observed")).as("n"))
    val spine = counts.agg(count(lit(1)).as("_c"))
      .select(explode(sequence(lit(1), lit(9))).as("digit"))
    val perDigit = spine.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("observed"), lit(0L)).as("observed"))
      .crossJoin(broadcast(n))
      .withColumn("expected_p",
        element_at(array(BenfordP.map(lit): _*), col("digit")))
      .withColumn("np", col("n").cast("double") * col("expected_p"))
      .withColumn("diff", col("observed").cast("double") - col("np"))
      .withColumn("contrib_raw", col("diff") * col("diff") / col("np"))
      .localCheckpoint(true)
    val pivots = (1 to 9).map(d =>
      max(when(col("digit") === d, col("contrib_raw"))).as(s"c$d"))
    val chi2 = perDigit.groupBy()
      .agg(pivots.head, pivots.tail: _*)
      .select(round2((1 to 9).map(d => col(s"c$d"))
        .reduceLeft(_ + _), 4).as("chi2"))
      .select(col("chi2"),
        when(col("chi2") > BenfordChiCrit, "reject")
          .otherwise("consistent").as("verdict"))
    perDigit.crossJoin(broadcast(chi2))
      .select(col("digit"), col("observed"), col("expected_p"),
        round2(col("contrib_raw"), 4).as("contrib"),
        col("chi2"), col("verdict"))
      .orderBy("digit")
  }

  /** Compaction bin capacity (logical payload bytes) — shared with the
    * recursive mirror. */
  val CompactionCapBytes = 16L * 1024

  /** Small-file compaction plan — next-fit-DECREASING bin packing of
    * per-day logical partition sizes (Σ payload bytes, a pure data
    * computation both engines can evaluate) into ≤ [[CompactionCapBytes]]
    * target bins: the lakehouse maintenance step that decides which
    * partitions coalesce into one rewrite task.
    *
    * Next-fit's single (bin, fill) state makes this a SEQUENTIAL
    * NON-LINEAR recurrence over the size-sorted day frame — exactly the
    * [[backlogQueue]] shape, so it folds via sorted collect_list +
    * aggregate HOF (calendar-bounded elements) and mirrors as a DuckDB
    * recursive CTE stepping the identical CASE. A day larger than the cap
    * opens its own (overflowing) bin — deterministic in both engines.
    * The descending sort rides the ascending array_sort via a negated
    * leading key. */
  def compactionPlan(events: DataFrame,
      cap: Long = CompactionCapBytes): DataFrame = {
    val sizes = events.groupBy(day)
      .agg(sum(coalesce(length(col("props")), lit(0)) + 64).as("bytes"))
    val folded = sizes
      .select(struct((-col("bytes")).as("nb"),
        col("event_date").as("event_date"), col("bytes").as("bytes")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("xs"))
      .select(aggregate(
        col("xs"),
        expr("CAST(array() AS ARRAY<STRUCT<event_date: DATE, " +
          "bytes: BIGINT, bin: BIGINT, fill: BIGINT>>)"),
        (acc, x) => {
          val b = x.getField("bytes")
          val prevBin = element_at(acc, -1).getField("bin")
          val prevFill = element_at(acc, -1).getField("fill")
          val bin = when(size(acc) === 0, 1L)
            .otherwise(when(prevFill + b <= cap, prevBin)
              .otherwise(prevBin + 1))
          val fill = when(size(acc) === 0, b)
            .otherwise(when(prevFill + b <= cap, prevFill + b).otherwise(b))
          concat(acc, array(struct(
            x.getField("event_date").as("event_date"), b.as("bytes"),
            bin.as("bin"), fill.as("fill"))))
        }).as("res"))
    folded.select(explode(col("res")).as("r"))
      .select(col("r.event_date").as("event_date"), col("r.bytes").as("bytes"),
        col("r.bin").as("bin"))
      .orderBy("event_date")
  }

  /** Median-absolute-deviation anomaly flags over daily revenue — the
    * ROBUST twin of [[revenueAnomalies]] (a z-score's mean/σ are dragged
    * by the very outliers it hunts; median/MAD are 50%-breakdown).
    *
    * Exact-median discipline: revenues are exact-decimal-derived 2dp
    * doubles; the median is the average of the two middle ranks (IEEE
    * addition of two identical doubles — commutative, order-free), and
    * per the quantile-parity rule both the median and the MAD are
    * 4dp-floor-rounded in BOTH engines BEFORE any deviation or
    * comparison, so the ≥σ·MAD flag predicate can never flip on a
    * last-ulp disagreement. The rank windows run over the
    * calendar-bounded daily frame (the [[revenueDayOverDay]] scale
    * argument); medians broadcast back as 1-row frames. */
  /** 4dp-rounded two-middle-ranks median of `valueCol` over a
    * calendar-bounded frame keyed by `event_date` — shared by
    * [[madAnomalies]] and [[residualAnomalies]]. */
  private def medianOf(df: DataFrame, valueCol: String): DataFrame = {
    val ranked = df.withColumn("rk",
      row_number().over(Window.orderBy(col(valueCol), col("event_date"))))
    val n = df.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(n))
      .filter(col("rk") === expr("(n + 1) div 2") ||
        col("rk") === expr("(n + 2) div 2"))
      .agg(round2(avg(col(valueCol)), 4).as("med"))
  }

  def madAnomalies(events: DataFrame, sigma: Long = MadSigma): DataFrame = {
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(day).agg(moneySum(col("value")).as("revenue"))
    val med = medianOf(daily, "revenue")
    val devs = daily.crossJoin(broadcast(med))
      .select(col("event_date"), col("revenue"), col("med"),
        round2(abs(col("revenue") - col("med")), 4).as("dev"))
    val mad = medianOf(devs.select(col("event_date"), col("dev")), "dev")
      .select(col("med").as("mad"))
    devs.crossJoin(broadcast(mad))
      .select(col("event_date"), col("revenue"), col("dev"),
        (col("dev") > lit(sigma) * col("mad")).as("is_anomaly"))
      .orderBy("event_date")
  }

  /** Seasonal-adjusted anomaly flags — [[madAnomalies]]' robust
    * median/MAD screen applied to [[seasonalDecomposition]]'s RESIDUALS
    * instead of raw revenue: a strong-but-expected weekday peak no
    * longer trips the detector, a modest off-pattern day does. Inputs
    * are the decomposition's 4dp-rounded residuals (exact after
    * rounding); median and MAD re-use the shared two-middle-ranks
    * helper, and the flag compares the rounded dev against σ·MAD — the
    * quantile-parity discipline end to end. Edge days (NULL trend →
    * NULL residual) are excluded by a stated filter in both engines. */
  def residualAnomalies(events: DataFrame,
      sigma: Long = MadSigma): DataFrame = {
    val resid = seasonalDecomposition(events)
      .filter(col("residual").isNotNull)
      .select(col("event_date"), col("residual"))
      .localCheckpoint(true)
    val med = medianOf(resid, "residual")
    val devs = resid.crossJoin(broadcast(med))
      .select(col("event_date"), col("residual"),
        round2(abs(col("residual") - col("med")), 4).as("dev"))
    val mad = medianOf(devs.select(col("event_date"), col("dev")), "dev")
      .select(col("med").as("mad"))
    devs.crossJoin(broadcast(mad))
      .select(col("event_date"), col("residual"), col("dev"), col("mad"),
        (col("dev") > lit(sigma) * col("mad")).as("is_anomaly"))
      .orderBy("event_date")
  }

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands engagement metric: distinct active day numbers,
    * island key = day_num − row_number (constant within a consecutive
    * run), per-island lengths, then the per-user rollup (active days,
    * longest streak, streak count). All integer arithmetic; the windows
    * partition by user (bounded by the busiest user's distinct days ≤
    * calendar). */
  def userStreaks(events: DataFrame): DataFrame =
    streaksFromDays(events.select(col("user_id"),
      to_date(col("ts")).as("event_date")))

  /** Shared finisher over a `(user_id, event_date)` frame (distinct
    * applied here, so a pre-shrunk streamed dedup feeds it unchanged) —
    * called by [[userStreaks]] (batch) and the streaming twin
    * `q_stream_user_streaks`, which share one oracle verbatim. */
  def streaksFromDays(daysIn: DataFrame): DataFrame = {
    val days = daysIn.select(col("user_id"),
        datediff(col("event_date"), lit("1970-01-01").cast(DateType))
          .cast(LongType).as("day_num"))
      .distinct()
    val grouped = days.withColumn("grp",
      col("day_num") - row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("day_num"))))
    grouped.groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }

  /** Decile lift — the marketing/model-eval gains table: users ranked by
    * engagement score (event count) into deciles via the distributed
    * global ordinal (the RFM arithmetic — never a one-task ntile), per
    * decile the purchase-conversion rate and its lift over the overall
    * rate. Counts are exact; rate and lift are raw double divisions of
    * exact longs in the IDENTICAL order (rate = c/n, lift =
    * (c/n)/(C/N)), 4dp floor-rounded for output — the fourth gate
    * certification of the Ordinals machinery. */
  def decileLift(events: DataFrame): DataFrame = {
    val users = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
    val ranked = Ordinals.globalRowNumbers(users,
        Seq(col("score").desc, col("user_id")), "rn")
      .localCheckpoint(true)
    val tot = ranked.agg(count(lit(1)).as("n_total"),
      sum(col("converted")).as("c_total"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("(rn - 1) * 10 div n_total + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).as("n_converters"),
        max(col("n_total")).as("nt"), max(col("c_total")).as("ct"))
      .select(col("decile"), col("n_users"), col("n_converters"),
        round2(col("n_converters").cast("double") / col("n_users"), 4)
          .as("conv_rate"),
        round2((col("n_converters").cast("double") / col("n_users")) /
          (col("ct").cast("double") / col("nt")), 4).as("lift"))
      .orderBy("decile")
  }

  /** [[revenueDrift]] bucket count and L1 alarm threshold — shared with
    * the generated mirror. */
  val DriftBuckets = 10
  val DriftThreshold = 0.25

  /** Distribution-drift monitor — the training/serving-skew check every
    * ML pipeline runs before trusting a model on fresh data: daily
    * revenue split into a reference half and a current half (by the
    * calendar midpoint), bucketed into [[DriftBuckets]] equi-width bins
    * over the COMBINED range (pure integer arithmetic), per-bin shares,
    * and the L1 distance between the two distributions with a verdict on
    * the 4dp-rounded statistic.
    *
    * No logs anywhere (a PSI's ln is not correctly-rounded-guaranteed
    * cross-engine; L1 needs only subtraction and abs): shares divide
    * exact longs, and the L1 total adds the ten |p−q| terms
    * LEFT-ASSOCIATIVELY via a generated chain (the q_benford
    * discipline). Empty bins zero-fill through the bucket spine in both
    * engines. Scale: one events-sized aggregate to the daily frame;
    * everything after is bucket-frame arithmetic. */
  def revenueDrift(events: DataFrame): DataFrame = {
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(day).agg(moneySum(col("value")).as("rev"))
      .select(col("event_date"),
        datediff(col("event_date"), lit("1970-01-01").cast(DateType))
          .cast(LongType).as("day_num"),
        floor(col("rev") * 100 + 0.5).cast(LongType).as("cents"))
      .localCheckpoint(true)
    val bounds = daily.agg(
      min(col("day_num")).as("d_mn"), max(col("day_num")).as("d_mx"),
      min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    val bucketed = daily.crossJoin(broadcast(bounds))
      .select(
        when(col("day_num") <= expr("(d_mn + d_mx) div 2"), "ref")
          .otherwise("cur").as("half"),
        expr(s"((cents - mn) * $DriftBuckets) div (mx - mn + 1)")
          .cast(LongType).as("bucket"))
    val counts = bucketed.groupBy("half", "bucket")
      .agg(count(lit(1)).as("n")).localCheckpoint(true)
    val totals = counts.groupBy("half").agg(sum(col("n")).as("t"))
    val spine = counts.agg(count(lit(1)).as("_c"))
      .select(explode(sequence(lit(0), lit(DriftBuckets - 1))).as("b"))
      .select(col("b").cast(LongType).as("bucket"))
    def side(h: String, out: String) = counts.filter(col("half") === h)
      .crossJoin(broadcast(totals.filter(col("half") === h)
        .select(col("t"))))
      .select(col("bucket"), col("n").as(s"n_$out"),
        (col("n").cast("double") / col("t")).as(s"${out}_share_raw"))
    val joined = spine
      .join(side("ref", "ref"), Seq("bucket"), "left")
      .join(side("cur", "cur"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        coalesce(col("ref_share_raw"), lit(0.0)).as("p"),
        coalesce(col("cur_share_raw"), lit(0.0)).as("q"))
      .localCheckpoint(true)
    val pivots = (0 until DriftBuckets).map(b =>
      max(when(col("bucket") === b, abs(col("p") - col("q")))).as(s"a$b"))
    val l1 = joined.groupBy().agg(pivots.head, pivots.tail: _*)
      .select(round2((0 until DriftBuckets).map(b => col(s"a$b"))
        .reduceLeft(_ + _), 4).as("l1"))
      .select(col("l1"),
        when(col("l1") > DriftThreshold, "drift").otherwise("stable")
          .as("verdict"))
    joined.crossJoin(broadcast(l1))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round2(col("p"), 4).as("ref_share"),
        round2(col("q"), 4).as("cur_share"),
        col("l1"), col("verdict"))
      .orderBy("bucket")
  }

  /** Critical z for the [[abTest]] significance flag (two-sided 95%). */
  val AbZCrit = 1.96

  /** Two-proportion z-test between DETERMINISTIC experiment arms
    * (`user_id % 2` — the hash-bucket assignment every A/B platform
    * uses, reproducible across engines): did arm A's user-level purchase
    * conversion differ significantly from arm B's?
    *
    * Counts are exact longs from one user-keyed aggregate + one
    * single-row rollup; the z statistic then runs the IDENTICAL double
    * op sequence in both engines (pooled rate, standard error via
    * correctly-rounded sqrt, difference over SE), and the significance
    * flag compares the 4dp-ROUNDED z against [[AbZCrit]] (the
    * quantile-parity discipline) — so the whole test report, verdict
    * included, rides the hash gate. Zero-variance pools (all or none
    * converted) yield NULL z/verdict rather than a division blowup. */
  def abTest(events: DataFrame): DataFrame = {
    val per = events.filter(col("user_id").isNotNull)
      .select(pmod(col("user_id"), lit(2)).as("grp"), col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("c"))
      .groupBy("grp", "user_id")
      .agg(max(col("c")).as("conv"))
    val wide = per.agg(
      count(when(col("grp") === 0, 1)).as("n_a"),
      sum(when(col("grp") === 0, col("conv")).otherwise(0L)).as("conv_a"),
      count(when(col("grp") === 1, 1)).as("n_b"),
      sum(when(col("grp") === 1, col("conv")).otherwise(0L)).as("conv_b"))
    val pA = col("conv_a").cast("double") / col("n_a")
    val pB = col("conv_b").cast("double") / col("n_b")
    val pool = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    wide.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round2(pA, 4).as("p_a"), round2(pB, 4).as("p_b"),
      when(se > 0, round2((pA - pB) / se, 4)).as("z_score"),
      when(se > 0, abs(round2((pA - pB) / se, 4)) > AbZCrit)
        .as("significant"))
  }

  /** Feature normalization — the three standard scalings of a per-user
    * monetary feature in ONE report: min-max to [0,1], z-score against
    * exact moments, and rank-percentile via the DISTRIBUTED global
    * ordinal (never a one-task window over users). Min/max/moments ride
    * a 1-row broadcast frame; the moment discipline is
    * [[revenueAnomalies]]'s (exact integer sums and sums-of-squares —
    * cents² accumulate in DECIMAL(38,0) ≡ DuckDB's HUGEINT — then
    * identical IEEE mean/var/sqrt), and the ordinal machinery is
    * certified against the mirror's naive global row_number a THIRD time
    * (after q_global_rownum and q_rfm_segments) on a new shape. */
  def featureScaling(events: DataFrame): DataFrame = {
    val per = events
      .filter(col("event_type") === "purchase" && col("value").isNotNull &&
        col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(sum(floor(col("value") * 100 + 0.5).cast(LongType)).as("cents"))
    val stats = per.agg(
      count(lit(1)).as("n"),
      sum(col("cents")).cast("double").as("s"),
      sum((col("cents") * col("cents")).cast("decimal(38,0)"))
        .cast("double").as("q"),
      min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    val numbered = Ordinals.globalRowNumbers(per,
      Seq(col("cents"), col("user_id")))
    val mean = col("s") / col("n")
    val variance = col("q") / col("n") - mean * mean
    numbered.crossJoin(broadcast(stats))
      .select(col("user_id"), col("cents"),
        when(col("mx") > col("mn"),
          round2((col("cents") - col("mn")).cast("double") /
            (col("mx") - col("mn")), 6)).as("minmax"),
        when(variance > 0,
          round2((col("cents").cast("double") - mean) / sqrt(variance), 4))
          .as("zscore"),
        when(col("n") > 1,
          round2((col("rn") - 1).cast("double") / (col("n") - 1), 6))
          .as("rank_pct"))
      .orderBy("user_id")
  }

  // ---- data-quality validations (reference:airflow_docker/dags/ecomm_pipeline/snowflake.py) ----

  /** Count of rows with any key column null (`snowflake.py:27-36`). */
  def validateNulls(events: DataFrame): DataFrame =
    events.filter(col("event_id").isNull || col("ts").isNull ||
        col("user_id").isNull || col("event_type").isNull)
      .agg(count(lit(1)).as("null_violations"))

  /** Global row count (`snowflake.py:20`). */
  def validateCount(events: DataFrame): DataFrame =
    events.agg(count(lit(1)).as("row_count"))

  /** Max event date (`snowflake.py:41`, `MAX(create_time::DATE)`). */
  def validateMaxDate(events: DataFrame): DataFrame =
    events.agg(max(col("ts").cast(DateType)).as("max_event_date"))
}
