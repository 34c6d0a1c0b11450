package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.ops.EventQueries

class EventQueriesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // (event_id, ts, user_id, event_type, value, props)
  lazy val events: DataFrame = Seq(
    (1L, ts("2024-01-01 10:00:00"), 1L, "view", 5.0, """{"k": 1}"""),
    (2L, ts("2024-01-01 10:00:00"), 1L, "click", 7.0, """{"k": 1}"""),
    (3L, ts("2024-01-01 11:00:00"), 1L, "purchase", 10.0, """{"k": 1}"""),
    (4L, ts("2024-01-01 12:00:00"), 2L, "click", 3.0, """{"k": 2}"""),
    (5L, ts("2024-01-01 13:00:00"), 2L, "signup", 0.0, """{"k": 2}"""),
    (6L, ts("2024-01-02 09:00:00"), 2L, "click", 4.0, """{"k": 2}"""),
    (7L, ts("2024-01-02 09:30:00"), 2L, "purchase", 20.5, """{"k": 2}"""),
    (8L, ts("2024-01-02 09:30:00"), 3L, "purchase", 0.25, """{"k": 1}"""),
    (9L, ts("2024-01-02 23:59:59"), 3L, "error", 1.0, """{"k": 3}"""))
    .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("dailyRevenue sums purchases per day") {
    val got = EventQueries.dailyRevenue(events)
      .as[(java.sql.Date, Double)].collect()
    assert(got.map(_._2).toSeq == Seq(10.0, 20.75))
  }

  test("cohortRevenue: week buckets close at day 7, users count distinct") {
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 10.0, "{}"), // w0
      (2L, ts("2024-01-07 10:00:00"), 1L, "purchase", 5.0, "{}"),  // day 6 → w0
      (3L, ts("2024-01-08 10:00:00"), 1L, "purchase", 2.0, "{}"),  // day 7 → w1
      (4L, ts("2024-01-01 11:00:00"), 2L, "purchase", 1.0, "{}"))  // same cohort
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.cohortRevenue(df)
      .as[(java.sql.Date, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (java.sql.Date.valueOf("2024-01-01"), 0L, 2L, 16.0),
      (java.sql.Date.valueOf("2024-01-01"), 1L, 1L, 2.0)), got.toString)
  }

  test("basketPairs: support counts baskets, dedupes multiplicity, caps size") {
    def ev(id: Long, day: Int, user: Long, item: String) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), user, "purchase", 1.0,
        s"""{"k": "$item"}""")
    val rows = Seq(
      // basket (day1, u1): {A, B} — A purchased TWICE (multiplicity ignored)
      ev(1, 1, 1, "A"), ev(2, 1, 1, "A"), ev(3, 1, 1, "B"),
      // basket (day2, u1): {A, B} again → support(A,B) = 2
      ev(4, 2, 1, "A"), ev(5, 2, 1, "B"),
      // basket (day1, u2): {A, C} → support(A,C) = 1, below minSupport
      ev(6, 1, 2, "A"), ev(7, 1, 2, "C"))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.basketPairs(df)
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("A", "B", 2L)), got.toString)
    // a basket over the cap contributes NO pairs
    val big = (1 to 50).map(i => ev(100 + i, 5, 9, s"I$i"))
    val capped = EventQueries.basketPairs(
      (rows ++ big).toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      minSupport = 1, maxBasket = 10)
      .as[(String, String, Long)].collect().toSeq
    assert(!capped.exists(p => p._1.startsWith("I")), "capped basket leaked")
    assert(capped.contains(("A", "C", 1L)))
  }

  test("rfmSegments: quintile arithmetic, anchor recency, total coverage") {
    val rows = (1 to 10).map { u =>
      // user u purchases u times, each 10.0, last on day u
      (1 to u).map(k => ((u * 100 + k).toLong,
        ts(f"2024-01-$u%02d 10:00:00"), u.toLong, "purchase", 10.0, "{}"))
    }.flatten
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.rfmSegments(df).collect()
    assert(got.length == 10)
    val byUser = got.map(r => r.getLong(0) -> r).toMap
    // anchor = 2024-01-10; user 10 purchased last that day → recency 0
    assert(byUser(10L).getInt(1) == 0)
    assert(byUser(1L).getInt(1) == 9)
    // user 10: best recency, frequency and spend → segment 555
    assert(byUser(10L).getLong(7) == 555L)
    // user 1: worst on all three → rn=1 in every ordering → quintile 1
    assert(byUser(1L).getLong(7) == 111L)
    // quintiles of 10 users: exactly 2 per bucket on each dimension
    Seq(4, 5, 6).foreach { c =>
      val sizes = got.groupBy(_.getLong(c)).view.mapValues(_.size).toMap
      assert(sizes == Map(1L -> 2, 2L -> 2, 3L -> 2, 4L -> 2, 5L -> 2),
        s"col $c: $sizes")
    }
  }

  test("revenueAnomalies flags only the planted spike day") {
    // 10 quiet days at ~10 plus one 1000.0 spike: only the spike sits
    // ≥ 1.5σ from the mean (the quiet days huddle well inside 1σ)
    val rows = (1 to 10).map { d =>
      (d.toLong, ts(f"2024-01-$d%02d 10:00:00"), 1L, "purchase",
        10.0 + d * 0.01, "{}")
    } :+ ((11L, ts("2024-01-11 10:00:00"), 1L, "purchase", 1000.0, "{}"))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.revenueAnomalies(df)
      .as[(java.sql.Date, Double, Double)].collect()
    assert(got.map(_._1.toString).toSeq == Seq("2024-01-11"), got.toSeq)
    assert(got.head._2 == 1000.0)
    assert(got.head._3 > 3.0, s"spike z was ${got.head._3}")
  }

  test("revenueAnomalies on a constant series flags nothing (zero variance)") {
    val rows = (1 to 5).map { d =>
      (d.toLong, ts(f"2024-01-$d%02d 10:00:00"), 1L, "purchase", 10.0, "{}")
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(EventQueries.revenueAnomalies(df).count() == 0L)
  }

  test("conversionFunnel excludes non-funnel event types") {
    val got = EventQueries.conversionFunnel(events)
      .as[(String, Long)].collect().toMap
    assert(got == Map("click" -> 3L, "purchase" -> 3L, "view" -> 1L))
  }

  test("abandonedCartUsers anti-joins same-day purchasers") {
    // user 1 clicked+purchased on day1 (excluded); user 2 clicked day1 w/o
    // purchase (included), clicked day2 but purchased day2 (excluded)
    val got = EventQueries.abandonedCartUsers(events)
      .select("user_id", "cart_events").as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 1L)))
  }

  test("avgOrderValueDaily divides by exact distinct users") {
    val got = EventQueries.avgOrderValueDaily(events)
      .as[(java.sql.Date, Double)].collect()
    // day1: 10.0/1; day2: (20.5+0.25)/2 = 10.375 -> 10.38 (half-up)
    assert(got.map(_._2).toSeq == Seq(10.0, 10.38))
  }

  test("dailyActiveUsers counts distinct users per (day,type), day desc") {
    val got = EventQueries.dailyActiveUsers(events)
      .as[(java.sql.Date, String, Long)].collect()
    assert(got.head._1.toString == "2024-01-02")
    assert(got.map(r => (r._1.toString, r._2, r._3)).toSet
      .contains(("2024-01-02", "purchase", 2L)))
  }

  test("dailyTopN breaks timestamp ties by event_id") {
    val got = EventQueries.dailyTopN(events, n = 2)
      .select("event_id").as[Long].collect().toSeq
    // day1: ids 1,2 tie at 10:00 -> order (1,2); day2: 6,7
    assert(got == Seq(1L, 2L, 6L, 7L))
  }

  test("validateNulls counts rows with null key columns") {
    val withNull = events.union(Seq(
      (10L, null.asInstanceOf[Timestamp], 9L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val n = EventQueries.validateNulls(withNull).as[Long].head()
    assert(n == 1L)
  }

  test("priceHistogram buckets cover all rows, max clamps to the top bucket") {
    val hist = EventQueries.priceHistogram(events)
      .as[(String, Long, Long)].collect()
    assert(hist.map(_._3).sum == events.count())
    hist.foreach { case (_, b, _) => assert(b >= 0 && b <= 9) }
    // view has a single row (value 5.0): mn == mx → bucket 0
    assert(hist.filter(_._1 == "view").map(_._2).toSeq == Seq(0L))
    // purchase max (20.5) lands in bucket 9, not a phantom bucket 10
    assert(hist.filter(_._1 == "purchase").map(_._2).max == 9L)
  }

  test("newUsersDaily counts first-seen users with a running total") {
    val got = EventQueries.newUsersDaily(events)
      .as[(java.sql.Date, Long, Long)].collect()
    // users 1,2 first seen day 1; user 3 first seen day 2
    assert(got.map(r => (r._1.toString, r._2, r._3)).toSeq == Seq(
      ("2024-01-01", 2L, 2L), ("2024-01-02", 1L, 3L)))
  }

  test("winsorizedRevenue clips exactly one value into each tail and " +
    "reconciles the clamped sum") {
    // type t: 1..100 plus an outlier 1000 → n=101, p01 idx = 1 (frac 0)
    // → lo = 2.0; p99 idx = 99 → hi = 100.0. Clipped: the 1 (low) and
    // the 1000 (high). winsorized = 6050 - 1 + 2 - 1000 + 100 = 5151.
    val vals = (1 to 100).map(_.toDouble) :+ 1000.0
    val ev = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, new java.sql.Timestamp(1704067200000L + i), 1L, "t", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.winsorizedRevenue(ev)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(got.toSeq == Seq(("t", 1L, 1L, 6050.0, 5151.0)), got.toSeq.toString)
  }

  test("priceQuantilesSketch stays within the rank-error bound of exact") {
    val ev = graft.ingest.Sources.events(spark, sf("sf0.01"))
    val sketch = EventQueries.priceQuantilesSketch(ev)
      .as[(String, Double, Double, Double)].collect()
    val byType = ev.select("event_type", "value").as[(String, Double)]
      .collect().groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    assert(sketch.nonEmpty)
    sketch.foreach { case (t, p50, p90, p99) =>
      val vs = byType(t)
      val n = vs.length
      // scaladoc contract: rank error ≤ n/accuracy (accuracy = 10000);
      // +1 rank covers the exact path's interpolation between brackets,
      // 1e-4 covers the shared 4dp rounding of both variants
      val slack = n / 10000 + 1
      Seq(0.5 -> p50, 0.9 -> p90, 0.99 -> p99).foreach { case (p, got) =>
        val target = p * (n - 1)
        val lo = vs(math.max(0, math.floor(target).toInt - slack))
        val hi = vs(math.min(n - 1, math.ceil(target).toInt + slack))
        assert(got >= lo - 1e-4 && got <= hi + 1e-4,
          s"$t p$p: $got outside rank-bound [$lo, $hi] (n=$n)")
      }
    }
  }

  test("predicate pushdown reaches the parquet scan") {
    val plan = EventQueries.dailyRevenue(
      ingest.Sources.events(spark, sf("sf0.001")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)"),
      s"expected pushed filters in:\n$plan")
  }

  test("rolling HLL-union DAU tracks the exact rolling distinct") {
    val ev = ingest.Sources.events(spark, sf("sf0.001"))
    val got = EventQueries.rollingDauSketch(ev, days = 7)
      .as[(java.sql.Date, Long)].collect().toMap
    val raw = ev.select(
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("ts")).as("d"),
        org.apache.spark.sql.functions.col("user_id"))
      .as[(java.sql.Date, Long)].collect()
    val exact = raw.map(_._1).distinct.map { d =>
      val dayUs = d.toLocalDate.toEpochDay
      d -> raw.filter { case (dd, _) =>
        val x = dd.toLocalDate.toEpochDay
        x <= dayUs && x > dayUs - 7
      }.map(_._2).distinct.length.toLong
    }.toMap
    assert(got.keySet == exact.keySet)
    exact.foreach { case (d, n) =>
      val est = got(d)
      assert(math.abs(est - n) <= math.max(2.0, 0.05 * n),
        s"$d: estimate $est vs exact $n")
    }
  }

  test("equidepthHistogram: near-equal depths, ordered disjoint bands, " +
    "exact total") {
    // 23 purchase rows over k=4 → depths 6,6,6,5 by the ordinal arithmetic
    val rows = (1 to 23).map(i =>
      (i.toLong, ts("2024-01-01 10:00:00"), i.toLong, "purchase",
        (i * 1.5) % 7 + 0.25, "{}")) :+
      (99L, ts("2024-01-01 11:00:00"), 99L, "view", 100.0, "{}")
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.equidepthHistogram(df, k = 4)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L))
    assert(got.map(_._2) == Seq(6L, 6L, 6L, 5L))
    // buckets slice the SORTED order, so bands can never interleave
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(a._4 <= b._3, s"bands overlap: $a then $b")
    }
    got.foreach { case (_, _, lo, hi, _) => assert(lo <= hi) }
    // depth totals and value totals are exact
    assert(got.map(_._2).sum == 23L)
    val want = rows.dropRight(1).map(_._5).sum
    assert(math.abs(got.map(_._5).sum - want) < 1e-6)
  }

  test("ewmaDailyRevenue: fixed-point recurrence matches a reference fold") {
    // day1 cents 1000 → ewma 1000; day2 2075 → (2075 + 3·1000)//4 = 1268
    val got = EventQueries.ewmaDailyRevenue(events)
      .as[(java.sql.Date, Long, Long)].collect().toSeq
    assert(got.map(_._2) == Seq(1000L, 2075L))
    assert(got.map(_._3) == Seq(1000L, 1268L))
    // randomized: the HOF fold equals a plain Scala fold of the same rule
    val rnd = new scala.util.Random(11)
    // negatives included: refund-heavy days must FLOOR like the mirror's
    // `//`, not truncate toward zero
    val many = (1 to 40).map { i =>
      (i.toLong, ts(f"2024-${1 + i % 3}%02d-${1 + rnd.nextInt(28)}%02d 09:00:00"),
        i.toLong, "purchase", (rnd.nextInt(10000) - 4000) / 100.0, "{}")
    }
    val df = many.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val res = EventQueries.ewmaDailyRevenue(df)
      .as[(java.sql.Date, Long, Long)].collect().toSeq
    val refEwma = res.map(_._2).scanLeft(Option.empty[Long]) {
      case (None, c)       => Some(c)
      case (Some(prev), c) => Some(Math.floorDiv(c + 3 * prev, 4L))
    }.flatten
    assert(res.map(_._3) == refEwma)
    assert(res.map(_._1) == res.map(_._1).sorted(
      Ordering.by((d: java.sql.Date) => d.getTime)))
  }

  test("revenueDayOverDay: first day NULLs, exact delta and pct change") {
    val got = EventQueries.revenueDayOverDay(events).collect()
    assert(got.length == 2)
    assert(got(0).isNullAt(2) && got(0).isNullAt(3))
    assert(got(1).getDouble(2) == 10.75)
    assert(got(1).getDouble(3) == 1.075)
  }

  test("categoryMovers ranks |delta| across categories, skipping first days") {
    def e(id: Long, day: Int, typ: String, v: Double, k: String) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), 1L, typ, v, s"""{"k": "$k"}""")
    val rows = Seq(
      e(1, 1, "purchase", 10.0, "a"), e(2, 2, "purchase", 50.0, "a"), // +40
      e(3, 1, "purchase", 30.0, "b"), e(4, 2, "purchase", 25.0, "b"), // -5
      e(5, 1, "purchase", 7.0, "c")) // single day: no mover row
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.categoryMovers(df)
      .as[(String, java.sql.Date, Double, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._4)) == Seq(("a", 40.0), ("b", -5.0)),
      got.toString)
  }

  test("userPaths: orders by (ts, event_id), caps length, counts user-days") {
    def e(id: Long, t: String, u: Long, typ: String) =
      (id, ts(t), u, typ, 0.0, "{}")
    val rows = Seq(
      // u1 and u2 share the path view>click>purchase on the same day
      e(1, "2024-01-01 10:00:00", 1, "view"),
      e(2, "2024-01-01 10:01:00", 1, "click"),
      e(3, "2024-01-01 10:02:00", 1, "purchase"),
      e(4, "2024-01-01 11:00:00", 2, "view"),
      e(5, "2024-01-01 11:01:00", 2, "click"),
      e(6, "2024-01-01 11:02:00", 2, "purchase"),
      // same-ts tie broken by event_id: 8 before 9
      e(8, "2024-01-02 09:00:00", 1, "view"),
      e(9, "2024-01-02 09:00:00", 1, "signup"))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.userPaths(df)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("view>click>purchase", 2L), ("view>signup", 1L)))
    // cap: a 5-event day under maxLen=3 keeps only the first three
    val long = (1 to 5).map(i =>
      e(10L + i, s"2024-01-03 09:0$i:00", 7, if (i <= 2) "view" else "click"))
    val capped = EventQueries.userPaths(
      long.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      maxLen = 3)
      .as[(String, Long)].collect().toSeq
    assert(capped == Seq(("view>view>click", 1L)))
  }

  test("multiTouchAttribution: Hamilton credit conserves every cent and " +
    "routes untouched purchases to direct") {
    def e(id: Long, t: String, u: Long, typ: String, v: Double) =
      (id, ts(t), u, typ, v, "{}")
    val rows = Seq(
      // u1: three touches inside 30min before a 10.00 purchase →
      // 1000 cents over 3 = 334 (earliest), 333, 333
      e(1, "2024-01-01 09:35:00", 1, "view", 0.0),
      e(2, "2024-01-01 09:45:00", 1, "click", 0.0),
      e(3, "2024-01-01 09:55:00", 1, "view", 0.0),
      e(4, "2024-01-01 10:00:00", 1, "purchase", 10.0),
      // u2: touch OUTSIDE the window (31 min) → direct
      e(5, "2024-01-01 09:29:00", 2, "view", 0.0),
      e(6, "2024-01-01 10:00:00", 2, "purchase", 5.0),
      // u3: touch exactly AT purchase ts is NOT attributable (strict <)
      e(7, "2024-01-02 10:00:00", 3, "click", 0.0),
      e(8, "2024-01-02 10:00:00", 3, "purchase", 2.5),
      // u4: a REFUND (-10.00) with 3 touches — floored quotient +
      // non-negative remainder must conserve the negative cents too
      e(9, "2024-01-03 09:35:00", 4, "view", 0.0),
      e(10, "2024-01-03 09:45:00", 4, "view", 0.0),
      e(11, "2024-01-03 09:55:00", 4, "view", 0.0),
      e(12, "2024-01-03 10:00:00", 4, "purchase", -10.0))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.multiTouchAttribution(df)
      .as[(java.sql.Date, String, Long, Long)].collect().toSeq
    val byType = got.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    // day1: view gets 334 (earliest remainder cent) + 333; click 333
    // day3 refund: -1000 = 3·(-334) + 2 remainder cents to the earliest
    assert(byType("view") == 667L - 1000L, got.toString)
    assert(byType("click") == 333L)
    assert(byType("direct") == 500L + 250L)
    // every purchase cent lands somewhere, none minted — refunds included
    assert(got.map(_._4).sum == 1000L + 500L + 250L - 1000L)
  }

  test("holtDailyRevenue: level+trend recurrence matches a reference fold, " +
      "trend goes negative on declines") {
    // steadily declining revenue → negative trend (the floor-vs-truncate
    // trap the mirror's divisibility reduction exists for)
    val rows = Seq(100.0, 80.0, 60.0, 40.0, 20.0, 10.0).zipWithIndex.map {
      case (v, i) =>
        (i.toLong, ts(f"2024-01-${i + 1}%02d 10:00:00"), 1L, "purchase", v, "{}")
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.holtDailyRevenue(df)
      .as[(java.sql.Date, Long, Long, Long, Long)].collect().toSeq
    // reference Scala fold of the identical fixed-point rule
    var (l, t) = (0L, 0L)
    val ref = got.map(_._2).zipWithIndex.map { case (c, i) =>
      if (i == 0) { l = c; t = 0L }
      else {
        val nl = Math.floorDiv(1L * c + 3L * (l + t), 4L)
        t = Math.floorDiv(1L * (nl - l) + 7L * t, 8L)
        l = nl
      }
      (l, t, l + t)
    }
    assert(got.map(r => (r._3, r._4, r._5)) == ref, got.toString)
    assert(got.last._4 < 0, s"declining series must show negative trend: $got")
  }

  test("backlogQueue: clamps at zero and conserves arrivals " +
      "(served + final backlog)") {
    // arrivals 10,1,9,2 → cap = 22 div 4 = 5
    val rows = Seq(10, 1, 9, 2).zipWithIndex.flatMap { case (n, d) =>
      (1 to n).map(j => ((d * 100 + j).toLong,
        ts(f"2024-01-${d + 1}%02d 10:00:00"), j.toLong, "purchase", 1.0, "{}"))
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.backlogQueue(df)
      .as[(java.sql.Date, Long, Long, Long)].collect().toSeq
    assert(got.map(_._2) == Seq(10L, 1L, 9L, 2L))
    assert(got.map(_._3) == Seq(5L, 1L, 5L, 2L), got.toString) // backlog
    assert(got.map(_._4) == Seq(5L, 5L, 5L, 5L))               // served
    assert(got.map(_._4).sum + got.last._3 == got.map(_._2).sum)
  }

  test("backlogQueue: capacity above demand keeps backlog at zero") {
    val rows = Seq(1, 3).zipWithIndex.flatMap { case (n, d) =>
      (1 to n).map(j => ((d * 100 + j).toLong,
        ts(f"2024-01-${d + 1}%02d 10:00:00"), j.toLong, "purchase", 1.0, "{}"))
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.backlogQueue(df)
      .as[(java.sql.Date, Long, Long, Long)].collect().toSeq
    // cap = 4 div 2 = 2: day1 serves its 1; day2 backlog 1, serves 2
    assert(got.map(_._3) == Seq(0L, 1L))
    assert(got.map(_._4) == Seq(1L, 2L))
  }

  test("madAnomalies flags the planted spike; the median ignores it") {
    val vals = Seq(100.0, 101.0, 99.0, 100.0, 102.0, 98.0, 100.0, 1000.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, ts(f"2024-01-${i + 1}%02d 10:00:00"), 1L, "purchase", v, "{}")
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.madAnomalies(df)
      .as[(java.sql.Date, Double, Double, Boolean)].collect().toSeq
    assert(got.count(_._4) == 1, got.toString)
    assert(got.find(_._4).get._2 == 1000.0)
    // robustness: the spike's own deviation is measured against a median
    // (≈100) the spike did not drag — a mean would sit at ~212
    assert(got.find(_._4).get._3 > 850.0)
  }

  test("cohortRetention: week-0 share is 1.0, later weeks dedup user-days") {
    def e(id: Long, t: String, u: Long) = (id, ts(t), u, "view", 0.0, "{}")
    val rows = Seq(
      e(1, "2024-01-01 10:00:00", 1), e(2, "2024-01-01 11:00:00", 2),
      // u1 active twice in week 1 → one retained user, not two
      e(3, "2024-01-08 10:00:00", 1), e(4, "2024-01-09 10:00:00", 1))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.cohortRetention(df)
      .as[(java.sql.Date, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (java.sql.Date.valueOf("2024-01-01"), 0L, 2L, 2L, 1.0),
      (java.sql.Date.valueOf("2024-01-01"), 1L, 1L, 2L, 0.5)), got.toString)
  }

  test("eventTransitions: per-user consecutive pairs, out-shares per source") {
    val got = EventQueries.eventTransitions(events)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("click", "purchase", 2L, 0.6667), ("click", "signup", 1L, 0.3333),
      ("purchase", "error", 1L, 1.0), ("signup", "click", 1L, 1.0),
      ("view", "click", 1L, 1.0)), got.toString)
  }

  test("userFeatures: exact per-user engagement/monetary/recency features") {
    val got = EventQueries.userFeatures(events)
      .as[(Long, Long, Long, Long, java.sql.Date, java.sql.Date, Long, Long,
        Int, Int, Double)].collect().toSeq
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    assert(got == Seq(
      (1L, 3L, 1L, 1000L, d1, d1, 1L, 1L, 1, 1, 0.3333),
      (2L, 4L, 1L, 2050L, d1, d2, 2L, 1L, 0, 2, 0.25),
      (3L, 2L, 1L, 25L, d2, d2, 1L, 2L, 0, 1, 0.5)), got.toString)
  }

  test("targetEncoding: smoothed encoder pulls small categories to the prior") {
    val got = EventQueries.targetEncoding(events)
      .as[(String, Long, Long, Double)].collect().toSeq
    // prior = 3075/3 = 1025; enc = (sum + 10·prior) / (n + 10)
    assert(got == Seq(
      ("1", 2L, 1025L, 939.5833), ("2", 1L, 2050L, 1118.1818)), got.toString)
  }

  test("abTest: two-proportion z-test matches the hand-computed statistic") {
    def e(id: Long, u: Long, typ: String) =
      (id, ts("2024-01-01 10:00:00"), u, typ, 1.0, "{}")
    // arm A (even users): u0 converts, u2 does not → p_a = 0.5
    // arm B (odd users): u1, u3 convert → p_b = 1.0
    val rows = Seq(e(1, 0, "purchase"), e(2, 2, "view"),
      e(3, 1, "purchase"), e(4, 3, "purchase"), e(5, 3, "view"))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.abTest(df)
      .as[(Long, Long, Long, Long, Double, Double, Double, Boolean)]
      .collect().head
    assert((got._1, got._2, got._3, got._4) == ((2L, 1L, 2L, 2L)))
    assert((got._5, got._6) == ((0.5, 1.0)))
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val se = math.sqrt(0.75 * 0.25 * 1.0)
    assert(got._7 == r4((0.5 - 1.0) / se), got.toString) // -1.1547
    assert(!got._8) // |z| < 1.96
  }

  test("featureScaling: min-max, z-score and rank-percentile agree with " +
      "reference arithmetic") {
    val rows = Seq((1L, 0.10), (2L, 0.20), (3L, 0.20), (4L, 0.30), (5L, 0.40))
      .map { case (u, v) =>
        (u, ts("2024-01-01 10:00:00"), u, "purchase", v, "{}") }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.featureScaling(df)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(got.map(_._2) == Seq(10L, 20L, 20L, 30L, 40L))
    def r(x: Double, dp: Int) = {
      val s = math.pow(10, dp); math.floor(x * s + 0.5) / s
    }
    val mean = 120.0 / 5
    val std = math.sqrt(3400.0 / 5 - mean * mean)
    got.foreach { case (_, c, mm, z, _) =>
      assert(mm == r((c - 10.0) / 30.0, 6), s"minmax $c")
      assert(z == r((c - mean) / std, 4), s"zscore $c")
    }
    // ties rank by (cents, user_id): u2 before u3
    assert(got.map(_._5) == Seq(0.0, 0.25, 0.5, 0.75, 1.0))
  }

  test("assocRules: both directed rules, confidence and lift from exact counts") {
    def ev(id: Long, day: Int, user: Long, item: String) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), user, "purchase", 1.0,
        s"""{"k": "$item"}""")
    val rows = Seq(
      ev(1, 1, 1, "A"), ev(2, 1, 1, "B"),   // basket 1: {A,B}
      ev(3, 2, 1, "A"), ev(4, 2, 1, "B"),   // basket 2: {A,B}
      ev(5, 1, 2, "A"), ev(6, 1, 2, "C"))   // basket 3: {A,C}
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.assocRules(df)
      .as[(String, String, Long, Double, Double)].collect().toSeq
    // counts: A=3, B=2, C=1; baskets=3; supported pair (A,B): 2
    // A→B: conf 2/3 → 0.6667, lift (2·3)/(3·2) = 1.0
    // B→A: conf 2/2 = 1.0,    lift 1.0
    assert(got == Seq(
      ("A", "B", 2L, 0.6667, 1.0),
      ("B", "A", 2L, 1.0, 1.0)), got.toString)
  }

  test("weekdaySeasonality: index = weekday mean over overall mean") {
    // fixture purchases: Mon 2024-01-01 → 10.0, Tue 2024-01-02 → 20.75
    val got = EventQueries.weekdaySeasonality(events)
      .as[(Int, Long, Double, Double)].collect().toSeq
    // overall mean 30.75/2 = 15.375; Mon 10/15.375 = 0.6504,
    // Tue 20.75/15.375 = 1.3496; Spark dayofweek: Mon=2, Tue=3
    assert(got == Seq((2, 1L, 10.0, 0.6504), (3, 1L, 20.75, 1.3496)),
      got.toString)
  }

  test("interPurchaseGaps: median is the mean of the two middle ranks") {
    def p(id: Long, user: Long, t: String) =
      (id, ts(t), user, "purchase", 1.0, "{}")
    val rows = Seq(
      // u1: gaps 10 s and 20 s → median 15.0 (even count)
      p(1, 1, "2024-01-01 10:00:00"), p(2, 1, "2024-01-01 10:00:10"),
      p(3, 1, "2024-01-01 10:00:30"),
      // u2: one purchase → no gaps, excluded
      p(4, 2, "2024-01-01 11:00:00"),
      // u3: gaps 5, 100, 10 → sorted 5,10,100, median 10.0 (odd count)
      p(5, 3, "2024-01-01 12:00:00"), p(6, 3, "2024-01-01 12:00:05"),
      p(7, 3, "2024-01-01 12:01:45"), p(8, 3, "2024-01-01 12:01:55"))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.interPurchaseGaps(df)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 10L, 20L, 15.0),
      (3L, 3L, 5L, 100L, 10.0)), got.toString)
  }

  test("revenueConcentration: Gini rank formula and top-k% shares") {
    def p(id: Long, user: Long, v: Double) =
      (id, ts("2024-01-01 10:00:00"), user, "purchase", v, "{}")
    val df = Seq(p(1, 1, 1.0), p(2, 2, 2.0), p(3, 3, 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.revenueConcentration(df)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    // cents 100,200,300 asc → S1 = 1·100+2·200+3·300 = 1400, S0 = 600
    // gini = (2800 − 4·600)/(3·600) = 0.2222…; top-1% and top-10% cutoffs
    // both floor to 1 user → share 300/600 = 0.5
    assert(got == Seq((3L, 600L, 0.2222, 0.5, 0.5)), got.toString)
  }

  test("compactionPlan: next-fit-decreasing packs into capped bins") {
    def ev(id: Long, day: Int, propLen: Int) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), 1L, "view", 1.0, "a" * propLen)
    // per-day bytes = len + 64: d1 → 150, d2 → 100, d3 → 70; cap 200:
    // NFD order 150,100,70 → bins 1, 2, 2
    val df = Seq(ev(1, 1, 86), ev(2, 2, 36), ev(3, 3, 6))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.compactionPlan(df, cap = 200L)
      .as[(java.sql.Date, Long, Long)].collect().toSeq
    def d(s: String) = java.sql.Date.valueOf(s)
    assert(got == Seq(
      (d("2024-01-01"), 150L, 1L),
      (d("2024-01-02"), 100L, 2L),
      (d("2024-01-03"), 70L, 2L)), got.toString)
  }

  test("compactionPlan: an oversized day opens its own overflowing bin") {
    def ev(id: Long, day: Int, propLen: Int) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), 1L, "view", 1.0, "a" * propLen)
    // bytes: 250, 180, 100; cap 200 → 250 overflows bin 1 alone, 180
    // opens bin 2, 100 doesn't fit after 180 → bin 3
    val df = Seq(ev(1, 1, 186), ev(2, 2, 116), ev(3, 3, 36))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.compactionPlan(df, cap = 200L)
      .as[(java.sql.Date, Long, Long)].collect().toSeq
    assert(got.map(_._3) == Seq(1L, 2L, 3L), got.toString)
  }

  test("bootstrapCi: deterministic hash resampling brackets the mean") {
    def p(id: Long, day: Int, v: Double) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), id, "purchase", v, "{}")
    val df = (1 to 20).map(i => p(i.toLong, (i % 10) + 1, 10.0 + (i % 7)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.bootstrapCi(df)
      .as[(Long, Double, Long, Double, Double)].collect().toSeq
    val (nDays, mean, nReps, lo, hi) = got.head
    assert(nDays == 10L)
    assert(nReps == EventQueries.BootstrapReps.toLong) // no empty replicate
    assert(lo <= hi, s"lo $lo hi $hi")
    assert(lo <= mean && mean <= hi, s"CI [$lo,$hi] should bracket $mean")
    // hash-determinism: a second evaluation is bit-identical
    val again = EventQueries.bootstrapCi(df)
      .as[(Long, Double, Long, Double, Double)].collect().toSeq
    assert(again == got)
  }

  test("poisson hex thresholds are ascending 8-hex-digit strings") {
    val ts0 = EventQueries.PoissonHexThresholds
    assert(ts0.size == 8)
    assert(ts0.forall(_.length == 8))
    assert(ts0 == ts0.sorted)
    // F(0) ≈ e^−1 and F(7) ≈ 1 as 32-bit hex fractions
    assert(math.abs(java.lang.Long.parseLong(ts0.head, 16) / 4294967296.0 -
      math.exp(-1.0)) < 1e-9)
    assert(java.lang.Long.parseLong(ts0.last, 16) / 4294967296.0 > 0.9999)
  }

  test("benford: uniform digits, exact chain-summed chi-square, verdict") {
    def p(id: Long, v: Double) =
      (id, ts("2024-01-01 10:00:00"), id, "purchase", v, "{}")
    // one purchase per leading digit (1.00 … 9.00) + an excluded zero
    val df = ((1 to 9).map(d => p(d.toLong, d.toDouble)) :+ p(10, 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.benford(df)
      .as[(Int, Long, Double, Double, Double, String)].collect().toSeq
    assert(got.map(_._1) == (1 to 9))
    assert(got.map(_._2) == Seq.fill(9)(1L))
    assert(got.map(_._3) == EventQueries.BenfordP)
    // independent plain-Scala arithmetic: contrib_d = (1−9p)²/(9p),
    // chi2 = left-assoc sum, both 4dp floor-rounded
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val contribs = EventQueries.BenfordP.map { pd =>
      val np = 9.0 * pd; val d = 1.0 - np; d * d / np
    }
    assert(got.map(_._4) == contribs.map(r4))
    val chi2 = r4(contribs.reduceLeft(_ + _))
    assert(got.forall(_._5 == chi2), got.map(_._5).toString)
    assert(got.forall(_._6 == "consistent")) // 3.6153 < 20.09
  }

  test("zorderLayout: Morton interleave and zone-map envelopes") {
    // x = user_id % 256, y = days-since-epoch % 256; morton(x=3, y=5):
    // x bits on even positions (1+4=5), y bits on odd (2·(1+16)=34) → 39
    // 2024-01-01 is day 19723 → y = 19723 % 256 = 11
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 3L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 11:00:00"), 259L, "view", 1.0, "{}")) // x also 3
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.zorderLayout(df)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // morton(3, 11) = 5 + 2·(1 + 0·4 + 16) = 5 + 34 = 39 → block 39>>10=0
    assert(got == Seq((0L, 2L, 3L, 3L, 11L, 11L)), got.toString)
  }

  test("velocityFlags: trailing-hour RANGE window flags bursts only") {
    def e(id: Long, t: String, u: Long) = (id, ts(t), u, "view", 1.0, "{}")
    val df = Seq(
      // u1: three events inside one hour → 3rd (and later) flagged
      e(1, "2024-01-01 10:00:00", 1), e(2, "2024-01-01 10:20:00", 1),
      e(3, "2024-01-01 10:59:00", 1),
      // a 4th event 2h later: window holds only itself → unflagged
      e(4, "2024-01-01 13:00:00", 1),
      // u2: two events → never reaches 3
      e(5, "2024-01-01 10:00:00", 2), e(6, "2024-01-01 10:01:00", 2))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.velocityFlags(df)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(3L), got.toString)
    assert(got.head._4 == 3L)
  }

  test("seasonalDecomposition: flat series → zero seasonal/residual, edge-null trend") {
    def p(id: Long, day: Int) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), id, "purchase", 10.0, "{}")
    val df = (1 to 14).map(d => p(d.toLong, d))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.seasonalDecomposition(df)
      .as[(java.sql.Date, Double, Option[Double], Double, Option[Double])]
      .collect().toSeq
    assert(got.size == 14)
    assert(got.forall(_._2 == 10.0))
    assert(got.forall(_._4 == 0.0))             // constant → no seasonality
    val (edges, interior) = got.partition(r =>
      r._1.toLocalDate.getDayOfMonth <= 3 || r._1.toLocalDate.getDayOfMonth >= 12)
    assert(edges.forall(r => r._3.isEmpty && r._5.isEmpty))
    assert(interior.forall(r => r._3.contains(10.0) && r._5.contains(0.0)))
  }

  test("revenueTrend: exact OLS on a perfect line") {
    def p(id: Long, day: Int, v: Double) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), id, "purchase", v, "{}")
    // cents = 100 + 50·x for x = 1..5
    val df = (1 to 5).map(d => p(d.toLong, d, 1.0 + 0.5 * d))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.revenueTrend(df)
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq((5L, 50.0, 100.0, 1.0)), got.toString)
  }

  test("zorderPrune: lossless candidate selection over a partitioned layout") {
    // users 5 and 133 share x=5 after %256; user 7 does not
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 5L, "view", 1.0, "{}"),
      (2L, ts("2024-01-02 10:00:00"), 133L + 256L, "view", 1.0, "{}"),
      (3L, ts("2024-01-03 10:00:00"), 7L, "view", 1.0, "{}"),
      (4L, ts("2024-01-04 10:00:00"), 5L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.zorderPrune(df)
      .as[(Long, Long, Long, Long)].collect().head
    assert(got._1 == EventQueries.ZOrderProbeX)
    // pruned read returns exactly the full-scan predicate count
    assert(got._4 == 2L, got.toString)
    assert(got._3 <= got._2)
  }

  test("zone-map partition pruning reaches PartitionFilters in the plan") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft-prune")
    try {
      spark.range(100)
        .selectExpr("id AS x", "id % 4 AS block")
        .write.partitionBy("block").parquet(s"$tmp/t")
      val pruned = spark.read.parquet(s"$tmp/t")
        .filter(col("block").isin(1, 3) && col("x") > 10)
      pruned.collect()
      val plan = pruned.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[.*block#\\d+.* IN \\(1,3\\)".r
        .findFirstIn(plan).isDefined, plan.take(2000))
    } finally graft.Fs.deleteRecursively(tmp)
  }

  test("dynamic partition pruning fires on a dim-filtered fact join") {
    import org.apache.spark.sql.functions.{col, lit}
    val tmp = tempDir("graft-dpp")
    try {
      // fact partitioned by day; dim maps day → label with a selective
      // filter — Spark should inject a dynamicpruning#N subquery on the
      // fact's PARTITION column instead of scanning all partitions
      spark.range(1000)
        .selectExpr("id", "CAST(id % 10 AS INT) AS day")
        .write.partitionBy("day").parquet(s"$tmp/fact")
      val dim = spark.range(10)
        .selectExpr("CAST(id AS INT) AS day",
          "CASE WHEN id < 2 THEN 'hot' ELSE 'cold' END AS label")
      val fact = spark.read.parquet(s"$tmp/fact")
      val joined = fact.join(dim.filter(col("label") === lit("hot")), "day")
      assert(joined.count() == 200L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"), plan.take(3000))
    } finally graft.Fs.deleteRecursively(tmp)
  }

  test("userStreaks: gaps-and-islands consecutive-day runs") {
    def e(id: Long, day: Int, u: Long) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), u, "view", 1.0, "{}")
    val df = Seq(
      e(1, 1, 1), e(2, 2, 1), e(3, 3, 1),   // streak of 3
      e(4, 5, 1), e(5, 6, 1),               // streak of 2
      e(6, 6, 1),                           // same day — distinct dedupes
      e(7, 4, 2))                           // singleton
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.userStreaks(df)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 5L, 3L, 2L), (2L, 1L, 1L, 1L)), got.toString)
  }

  test("residualAnomalies: flat series clean, a spike day flags") {
    def p(id: Long, day: Int, v: Double) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), id, "purchase", v, "{}")
    val flat = (1 to 14).map(d => p(d.toLong, d, 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val clean = EventQueries.residualAnomalies(flat)
      .as[(java.sql.Date, Double, Double, Double, Boolean)].collect().toSeq
    assert(clean.size == 8)                  // 14 days minus 3-day edges
    assert(clean.forall(r => r._3 == 0.0 && !r._5), clean.toString)
    val spiked = ((1 to 14).map(d => p(d.toLong, d, 10.0)) :+
      p(100L, 7, 100.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.residualAnomalies(spiked)
      .as[(java.sql.Date, Double, Double, Double, Boolean)].collect().toSeq
    val flagged = got.filter(_._5).map(_._1.toLocalDate.getDayOfMonth)
    assert(flagged.contains(7), got.toString)
  }

  test("revenueCusum: stationary series stays unflagged; a sustained " +
      "mean shift accumulates past 4 sigma and flags") {
    def p(id: Long, day: Int, v: Double) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), id, "purchase", v, "{}")
    // mild noise, zero drift: cusum never escapes the slack band
    val flat = (1 to 20).map(d => p(d.toLong, d, 10.0 + (d % 2)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val clean = EventQueries.revenueCusum(flat)
      .as[(java.sql.Date, Long, Long, Boolean)].collect().toSeq
    assert(clean.size == 20 && clean.forall(!_._4), clean.toString)
    // a persistent upward shift from day 13: the one-sided accumulation
    // must cross the 4-sigma threshold before the series ends
    val shifted = (1 to 20).map { d =>
      p(d.toLong, d, if (d >= 13) 40.0 + (d % 2) else 10.0 + (d % 2))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.revenueCusum(shifted)
      .as[(java.sql.Date, Long, Long, Boolean)].collect().toSeq
    val flaggedDays = got.filter(_._4).map(_._1.toLocalDate.getDayOfMonth)
    assert(flaggedDays.nonEmpty && flaggedDays.forall(_ >= 13),
      got.toString)
    // cusum is zero before the shift (deviations sit inside the slack)
    assert(got.filter(_._1.toLocalDate.getDayOfMonth < 13)
      .forall(_._3 == 0L), got.toString)
  }

  test("revenueAcf: a planted period-2 alternation yields strongly " +
      "negative ACF(1) and positive ACF(2)") {
    def p(id: Long, day: Int, v: Double) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), id, "purchase", v, "{}")
    val alt = (1 to 20).map(d => p(d.toLong, d, if (d % 2 == 0) 100.0 else 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val acf = EventQueries.revenueAcf(alt)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(acf(1L) < -0.8 && acf(2L) > 0.8, acf.toString)
  }

  test("markovStationary: a two-state alternating chain settles at " +
      "50/50; an absorbing dead-end drains mass (documented dangling loss)") {
    def e(id: Long, t: String) =
      (id, ts(f"2024-01-01 10:${id}%02d:00"), 1L, t, 1.0, "{}")
    // a ⇄ b forever: stationary mass splits exactly in half
    val alt = (0L to 9L).map(i => e(i, if (i % 2 == 0) "view" else "click"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val st = EventQueries.markovStationary(alt)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(st == Map("view" -> 0.5, "click" -> 0.5), st.toString)
    // view → purchase, purchase has no outgoing row: its mass is NOT
    // self-retained, so the chain drains to zero — the stated semantics
    val dead = Seq(e(0, "view"), e(1, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val drained = EventQueries.markovStationary(dead)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(drained == Map("view" -> 0L, "purchase" -> 0L), drained.toString)
    // 65 states (> MarkovDriverFoldMaxStates) take the distributed
    // rounds: one user laps t0…t64, then the even states only (so an even
    // state leaves 2/3 to its successor, 1/3 two ahead), then t0…t64
    // again; checked against a plain-Scala replay of the same floors
    val seq = ((0 to 64) ++ (0 to 64 by 2) ++ (0 to 64)).map(i => s"t$i")
    val t0 = ts("2024-01-01 10:00:00").getTime
    val lap = seq.zipWithIndex.map { case (t, i) =>
        (i.toLong, new Timestamp(t0 + i * 1000L), 1L, t, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val pairs = seq.zip(seq.tail)
    val tot = pairs.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val n = pairs.groupMapReduce(identity)(_ => 1L)(_ + _)
    val states = seq.distinct.sorted
    assert(states.size > EventQueries.MarkovDriverFoldMaxStates)
    val scale = EventQueries.MarkovScale
    var w = states.map(_ -> scale / states.size).toMap
    for (_ <- 1 to EventQueries.MarkovIters) {
      val c = n.toSeq.groupMapReduce(_._1._2) { case ((a, _), k) =>
        w(a) * k / tot(a) }(_ + _)
      w = states.map(s => s -> c.getOrElse(s, 0L)).toMap
    }
    val want = states.map(s => (s, w(s),
      math.floor(w(s).toDouble / scale.toDouble * 10000.0 + 0.5) / 10000.0))
    val got = EventQueries.markovStationary(lap)
      .as[(String, Long, Double)].collect().toSeq
    assert(got == want, s"got $got want $want")
    assert(w.values.toSet.size > 1, "the replay must not be uniform")
  }

  test("survivalCurve: product-limit steps with exact at-risk counts") {
    def e(id: Long, u: Long, day: Int) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), u, "view", 1.0, "{}")
    // users 1-3: single-day (tenure 0); user 4: days 1..3 (tenure 2)
    val ev = Seq(e(1, 1, 1), e(2, 2, 1), e(3, 3, 2),
      e(4, 4, 1), e(5, 4, 3))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.survivalCurve(ev)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // t=0: 3 of 4 at-risk churn -> S=0.25; t=2: the last user churns -> 0
    assert(got == Seq((0L, 4L, 3L, 0.25), (2L, 1L, 1L, 0.0)),
      got.toString)
  }

  test("decileLift: top-score deciles carry the conversion lift") {
    val rows = (1 to 10).flatMap { i =>
      val views = (1 to (11 - i)).map(j =>
        (i * 100L + j, ts("2024-01-01 10:00:00"), i.toLong, "view", 1.0, "{}"))
      val buy = if (i <= 3)
        Seq((i * 100L + 99, ts("2024-01-01 11:00:00"), i.toLong,
          "purchase", 5.0, "{}"))
      else Seq.empty
      views ++ buy
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.decileLift(df)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(got.map(_._1) == (1L to 10L))
    assert(got.forall(_._2 == 1L))           // one user per decile
    assert(got.map(_._3) == Seq(1L, 1L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
    // overall rate 0.3 → converter deciles lift 1/0.3 = 3.3333
    assert(got.take(3).forall(r => r._4 == 1.0 && r._5 == 3.3333),
      got.toString)
  }

  test("revenueDrift: shifted halves max out L1, flat halves are stable") {
    def p(id: Long, day: Int, v: Double) =
      (id, ts(f"2024-01-$day%02d 10:00:00"), id, "purchase", v, "{}")
    // ref days 1–10 at $1.00, cur days 11–20 at $2.00 → disjoint buckets
    val shifted = ((1 to 10).map(d => p(d.toLong, d, 1.0)) ++
      (11 to 20).map(d => p(d.toLong, d, 2.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventQueries.revenueDrift(shifted)
      .as[(Long, Long, Long, Double, Double, Double, String)]
      .collect().toSeq
    assert(got.map(_._1) == (0L to 9L))
    assert(got.forall(r => r._6 == 2.0 && r._7 == "drift"), got.toString)
    assert(got.head == (0L, 10L, 0L, 1.0, 0.0, 2.0, "drift"))
    assert(got.last == (9L, 0L, 10L, 0.0, 1.0, 2.0, "drift"))
    val flat = (1 to 20).map(d => p(d.toLong, d, 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val g2 = EventQueries.revenueDrift(flat)
      .as[(Long, Long, Long, Double, Double, Double, String)]
      .collect().toSeq
    assert(g2.forall(r => r._6 == 0.0 && r._7 == "stable"), g2.toString)
  }

  test("propsFlatten profiles the typed JSON attribute per event type") {
    val got = EventQueries.propsFlatten(events)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("click", 3L, 3L, 5L, 1L, 2L, 2L),
      ("error", 1L, 1L, 3L, 3L, 3L, 1L),
      ("purchase", 3L, 3L, 4L, 1L, 2L, 2L),
      ("signup", 1L, 1L, 2L, 2L, 2L, 1L),
      ("view", 1L, 1L, 1L, 1L, 1L, 1L)), got.toString)
  }
}
