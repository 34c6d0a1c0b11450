package graft

import org.apache.spark.sql.DataFrame

import graft.ingest.{Cleaning, ReplayCheckpoint}

class CleaningSpec extends SparkSpec {
  import spark.implicits._

  // stringly raw frame, as the reference's header-only CSV read produces
  lazy val raw: DataFrame = Seq(
    ("2019-11-01 09:00:00 UTC", "view", "1003461", "2053013555631882655",
      "electronics.smartphone", "xiaomi", "489.07", "520088904", "s1"),
    ("2019-11-01 09:00:01 UTC", "cart", "1003461", "2053013555631882655",
      null, null, null, "520088904", "s1"),
    ("2019-11-01 09:00:01 UTC", "purchase", "1004856", "2053013555631882655",
      "electronics.smartphone", "samsung", "130.76", "530496790", "s2"))
    .toDF("event_time", "event_type", "product_id", "category_id",
      "category_code", "brand", "price", "user_id", "user_session")

  test("castChain: types, null pass-through, price imputation") {
    val cleaned = Cleaning.castChain(raw)
    val rows = cleaned.collect()
    assert(cleaned.schema("event_time").dataType.typeName == "timestamp")
    assert(cleaned.schema("event_date").dataType.typeName == "date")
    assert(cleaned.schema("price").dataType.typeName == "double")
    val cart = rows(1)
    assert(cart.getAs[Any]("brand") == null) // pass-through, not imputed
    assert(cart.getAs[Double]("price") == 0.0) // null -> 0.0
    assert(rows(0).getAs[Double]("price") == 489.07)
  }

  test("capPerDay keeps n earliest per day with deterministic ties") {
    val capped = Cleaning.capPerDay(Cleaning.castChain(raw), 2, "product_id")
    // two rows share 09:00:01; tiebreak product_id: 1003461 < 1004856
    val kept = capped.select("product_id").as[String].collect().toSeq
    assert(kept == Seq("1003461", "1003461"))
    assert(!capped.columns.contains("row_num"))
  }

  test("validTimestamps filters malformed timestamp strings") {
    val df = Seq("2019-11-01 09:00:00 UTC", "2019-11-01T09:00:00.123Z",
      "not-a-time", "2019-13-99").toDF("t")
    val kept = Cleaning.validTimestamps(df, "t").as[String].collect()
    assert(kept.toSet == Set("2019-11-01 09:00:00 UTC",
      "2019-11-01T09:00:00.123Z"))
  }

  test("replay checkpoint round-trips, advances and rotates") {
    val path = tempDir("graft-ck").toString +
      "/ck.json"
    val ck0 = ReplayCheckpoint("2019-11", 0L)
    ReplayCheckpoint.save(path, ck0.advance(10000))
    val loaded = ReplayCheckpoint.load(path, ck0)
    assert(loaded == ReplayCheckpoint("2019-11", 10000L))
    assert(loaded.rotate("2019-12") == ReplayCheckpoint("2019-12", 0L))
    // default when missing
    assert(ReplayCheckpoint.load(path + ".nope", ck0) == ck0)
    // corrupt file throws
    java.nio.file.Files.write(java.nio.file.Paths.get(path), "junk".getBytes)
    intercept[IllegalStateException](ReplayCheckpoint.load(path, ck0))
  }

  test("splitQuarantine: disjoint halves, multi-rule reasons in rule order") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "purchase", 10.0),   // valid
      (2L, "purchase", 0.5),    // micro_purchase
      (3L, "view", 450.0),      // outlier_value
      (4L, "error", 500.0),     // outlier_value AND error_event
      (5L, "error", 1.0))       // error_event
      .toDF("event_id", "event_type", "value")
    val (ok, bad) = Cleaning.splitQuarantine(df, Cleaning.standardEventRules)
    assert(ok.select("event_id").as[Long].collect().toSeq == Seq(1L))
    val reasons = bad.select("event_id", "quarantine_reason")
      .as[(Long, String)].collect().toMap
    assert(reasons == Map(
      2L -> "micro_purchase",
      3L -> "outlier_value",
      4L -> "outlier_value,error_event",
      5L -> "error_event"))
    assert(ok.count() + bad.count() == df.count())
    // valid half has the ORIGINAL schema (no reason column)
    assert(ok.columns.toSeq == df.columns.toSeq)
    // a null-valued predicate counts as passing (documented contract)
    val withNull = Seq((6L, "view", Option.empty[Double]))
      .toDF("event_id", "event_type", "value")
    val (okN, badN) = Cleaning.splitQuarantine(withNull,
      Cleaning.standardEventRules)
    assert(okN.count() == 1 && badN.count() == 0)
    // pushdown: the quarantine filter reaches the scan as a data filter
    val events = graft.ingest.Sources.events(spark, sf("sf0.001"))
    val (_, badReal) = Cleaning.splitQuarantine(events,
      Cleaning.standardEventRules)
    assert(badReal.count() > 0, "standard rules must fire on real data")
  }
}
