package graft

import org.apache.spark.sql.functions._

import graft.ext.Multimodal
import graft.ingest.Sources
import graft.ops.RelationalQueries
import graft.sink.Sinks

class RelationalAndSinksSpec extends SparkSpec {
  import spark.implicits._

  test("pricingSummary totals reconcile with raw scan") {
    val li = Sources.table(spark, sf("sf0.001"), "lineitem")
    val res = RelationalQueries.pricingSummary(li)
    val totalOrders = res.agg(sum("count_order")).as[Long].head()
    assert(totalOrders == li.count())
  }

  test("topBrandRevenue broadcasts the dimension side") {
    val plan = RelationalQueries.topBrandRevenue(
      Sources.table(spark, sf("sf0.001"), "lineitem"),
      Sources.table(spark, sf("sf0.001"), "part"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$plan")
  }

  test("orderPriority plans a semi join") {
    val plan = RelationalQueries.orderPriority(
      Sources.table(spark, sf("sf0.001"), "lineitem"),
      Sources.table(spark, sf("sf0.001"), "orders"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"no semi join in:\n$plan")
  }

  test("topOrders applies the segment broadcast join upstream of the fact shuffle") {
    // lock in the round-2 join-reorder win (4.5s → 0.9s): the segment
    // filter must prune orders BEFORE the only real shuffle
    // (orders ⋈ lineitem); filtering after it would shuffle the whole
    // fact table for rows that are then discarded. Hint-only broadcasts
    // (threshold -1) so the fact join keeps its at-scale shuffle shape
    // even on sf0.001 inputs.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = RelationalQueries.topOrders(
        Sources.table(spark, sf("sf0.001"), "lineitem"),
        Sources.table(spark, sf("sf0.001"), "orders"),
        Sources.table(spark, sf("sf0.001"), "customer"))
        .queryExecution.executedPlan.toString
      val shuffleJoin = Seq("SortMergeJoin", "ShuffledHashJoin")
        .map(plan.indexOf).filter(_ >= 0).minOption
      val bcastJoin = plan.indexOf("BroadcastHashJoin")
      assert(shuffleJoin.isDefined, s"no shuffle join in:\n$plan")
      assert(bcastJoin >= 0, s"no broadcast segment join in:\n$plan")
      // tree prints top-down: the broadcast join line must sit BELOW the
      // shuffle join line, i.e. inside one of its inputs
      assert(shuffleJoin.get < bcastJoin,
        s"segment broadcast join is downstream of the fact shuffle in:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("TPC-H family plans: no global window, no Expand, scalar broadcasts") {
    val dir = sf("sf0.001")
    val li = Sources.table(spark, dir, "lineitem")
    // topSupplier: the max-of-aggregate must ride a broadcast scalar, never
    // a global (single-task) Window sort over the per-supplier aggregate
    val ts = RelationalQueries.topSupplier(li,
      Sources.table(spark, dir, "supplier"))
    val tsPlan = ts.queryExecution.executedPlan.toString
    assert(!tsPlan.contains("Window"), s"global window in:\n$tsPlan")
    // Catalyst rewrites the crossJoin + equality filter into a
    // BroadcastHashJoin on the normalized double — accept any broadcast
    // of the 1-row max frame, reject a shuffled (SortMergeJoin) plan
    assert(tsPlan.contains("BroadcastExchange"),
      s"max scalar not broadcast in:\n$tsPlan")
    assert(!tsPlan.contains("SortMergeJoin"),
      s"scalar join shuffled in:\n$tsPlan")
    assert(ts.count() >= 1)
    // supplierVariety: single-column count distinct plans as a two-phase
    // aggregate (no Expand), with the deficit suppliers anti-joined
    val sv = RelationalQueries.supplierVariety(li,
      Sources.table(spark, dir, "part"), Sources.table(spark, dir, "supplier"))
    val svPlan = sv.queryExecution.executedPlan.toString
    assert(!svPlan.contains("Expand"), s"Expand in:\n$svPlan")
    assert(svPlan.contains("LeftAnti"), s"no anti join in:\n$svPlan")
    // idleRichCustomers: 1-row stats frame broadcast, no-orders as anti join
    val ir = RelationalQueries.idleRichCustomers(
      Sources.table(spark, dir, "customer"),
      Sources.table(spark, dir, "orders"))
    val irPlan = ir.queryExecution.executedPlan.toString
    assert(irPlan.contains("BroadcastNestedLoopJoin"),
      s"threshold scalar not broadcast in:\n$irPlan")
    assert(irPlan.contains("LeftAnti"), s"no anti join in:\n$irPlan")
  }

  test("smallQuantityRevenue joins the threshold frame via shuffle hash") {
    val dir = sf("sf0.001")
    val sq = RelationalQueries.smallQuantityRevenue(
      Sources.table(spark, dir, "lineitem"), Sources.table(spark, dir, "part"))
    val plan = sq.queryExecution.executedPlan.toString
    // the per-part threshold frame is unbounded (one row per partkey):
    // the decorrelated self-join must stay a shuffle-hash on l_partkey,
    // never a broadcast of the aggregate
    assert(plan.contains("ShuffledHashJoin"), s"no shuffle hash in:\n$plan")
    assert(sq.count() > 0)
  }

  test("disjunctive revenue pushes the derived envelopes to both scans") {
    val dir = sf("sf0.001")
    val dr = RelationalQueries.disjunctiveRevenue(
      Sources.table(spark, dir, "lineitem"), Sources.table(spark, dir, "part"))
    val plan = dr.queryExecution.executedPlan.toString
    // the OR spans both sides and can't push as-is; the derived single-side
    // predicates must reach the parquet scans
    assert(plan.contains("In(p_brand"), s"brand IN not pushed in:\n$plan")
    assert(plan.contains("LessThanOrEqual(l_quantity,40"),
      s"quantity envelope not pushed in:\n$plan")
    val rows = dr.collect()
    assert(rows.length == 3 && rows.forall(_.getLong(1) > 0))
  }

  test("market share broadcasts both nation roles and the region filter") {
    val dir = sf("sf0.001")
    val ms = RelationalQueries.marketShare(
      Sources.table(spark, dir, "lineitem"), Sources.table(spark, dir, "orders"),
      Sources.table(spark, dir, "customer"),
      Sources.table(spark, dir, "supplier"), Sources.table(spark, dir, "nation"),
      Sources.table(spark, dir, "region"))
    val plan = ms.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)")
      || plan.contains("EqualTo(r_name,ASIA)"),
      s"region filter not pushed in:\n$plan")
    val rows = ms.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val share = r.getDouble(3)
      assert(share >= 0.0 && share <= 1.0, s"share out of range: $r")
    }
    // sf0.001 has zero NATION_2→ASIA sales, so the numerator is 0.0
    // everywhere there and a wrong conditional would still pass — assert a
    // nonzero numerator at sf0.01, where 497 matching rows exist
    val dir01 = sf("sf0.01")
    val ms01 = RelationalQueries.marketShare(
      Sources.table(spark, dir01, "lineitem"),
      Sources.table(spark, dir01, "orders"),
      Sources.table(spark, dir01, "customer"),
      Sources.table(spark, dir01, "supplier"),
      Sources.table(spark, dir01, "nation"),
      Sources.table(spark, dir01, "region"))
    assert(ms01.filter(col("nation_revenue") > 0).count() > 0,
      "conditional numerator never fired at sf0.01")
  }

  test("regionalRevenue: local-supplier constraint and pushed region filter") {
    val dir = sf("sf0.001")
    def t(n: String) = Sources.table(spark, dir, n)
    val got = RelationalQueries.regionalRevenue(t("lineitem"), t("orders"),
      t("customer"), t("supplier"), t("nation"), t("region"))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(r_name,EUROPE)"),
      s"region filter not pushed in:\n$plan")
    // independent naive recomputation: join on the supp key only, apply
    // the local-nation equality as a post-filter
    val naive = t("lineitem")
      .join(t("orders").filter(col("o_orderdate") >= lit("1996-01-01")
        .cast("date") && col("o_orderdate") < lit("1997-01-01").cast("date")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t("customer"), col("o_custkey") === col("c_custkey"))
      .join(t("supplier"), col("l_suppkey") === col("s_suppkey"))
      .filter(col("s_nationkey") === col("c_nationkey"))
      .join(t("nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t("region").filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(graft.Exprs.moneySum(col("l_extendedprice") *
        (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
    val g = got.as[(String, Double)].collect().toSeq
    assert(g == naive.as[(String, Double)].collect().toSeq && g.nonEmpty)
  }

  test("revenueDelta pushes all three predicates to the parquet scan") {
    val li = Sources.table(spark, sf("sf0.001"), "lineitem")
    val got = RelationalQueries.revenueDelta(li)
    val plan = got.queryExecution.executedPlan.toString
    // the PushedFilters render truncates; the scan-adjacent Filter node
    // carries the full predicate list (expr-id suffixed)
    for (p <- Seq(raw"l_discount#\d+ >= 0\.03", raw"l_discount#\d+ <= 0\.05",
        raw"l_quantity#\d+ < 24\.0"))
      assert(p.r.findFirstIn(plan).isDefined, s"$p not pushed in:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"no pushdown in:\n$plan")
    val (delta, n) = got.as[(Double, Long)].collect().head
    val naive = li.filter(col("l_shipdate") >= lit("1996-01-01").cast("date")
        && col("l_shipdate") < lit("1997-01-01").cast("date")
        && col("l_discount").between(0.03, 0.05) && col("l_quantity") < 24)
    assert(n == naive.count() && n > 0)
    assert(delta > 0)
  }

  test("idleRichCustomers keeps only order-less rich customers (planted)") {
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("1999-06-01 00:00:00")
    val t1 = Timestamp.valueOf("2001-06-01 00:00:00")
    // avg positive balance = (900+900+600+1)/4 = 600.25
    val customer = Seq(
      (1L, "rich-idle", 0L, 900.0, "SEG_A"),   // > avg, old order only → kept
      (2L, "rich-active", 0L, 900.0, "SEG_A"), // > avg, recent order → out
      (3L, "mid", 0L, 600.0, "SEG_B"),         // below avg → out
      (4L, "poor-idle", 0L, 1.0, "SEG_B"),     // no orders but poor → out
      (5L, "negative", 0L, -5.0, "SEG_B"))     // excluded from avg, below → out
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val orders = Seq(
      (10L, 1L, "O", 5.0, t0, "1-URGENT"),  // customer 1: pre-cutoff only
      (11L, 2L, "O", 5.0, t1, "1-URGENT"))  // customer 2: recent
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val got = RelationalQueries.idleRichCustomers(customer, orders)
      .as[(String, Long, Double)].collect()
    assert(got.toSeq == Seq(("SEG_A", 1L, 900.0)), s"got: ${got.toSeq}")
  }

  test("scd2Revenue matches every fact row to exactly one dim version") {
    val dir = sf("sf0.001")
    val li = Sources.table(spark, dir, "lineitem")
    val pt = Sources.table(spark, dir, "part")
    val got = RelationalQueries.scd2Revenue(li, pt)
    // the validity windows tile [1995, 2002): every line item lands in
    // exactly one version — total matched items == fact row count
    val matched = got.agg(sum(col("n_items"))).as[Long].collect().head
    assert(matched == li.count(), s"matched $matched of ${li.count()}")
    // version boundary honored: v1 years end at 1998, v2 start at 1998
    val byVer = got.select(col("version"), col("yr"))
      .as[(String, Int)].collect().groupBy(_._1)
    assert(byVer("v1").map(_._2).max <= 1998)
    assert(byVer("v2").map(_._2).min >= 1998)
  }

  test("writeSizedShards hits the computed shard count and keeps the data") {
    import java.nio.file.Files
    val dir = sf("sf0.001")
    val docs = Sources.table(spark, dir, "documents")
    val fileBytes = new java.io.File(s"$dir/documents.parquet").length()
    val out = tempDir("graft-shards").toString
    // target = 1/4 of the source bytes → exactly ceil(size/target) shards
    val n = Sinks.writeSizedShards(docs, out, targetBytes = fileBytes / 4)
    assert(n >= 4 && n <= 5, s"expected ~4 shards for a quarter target: $n")
    val parts = new java.io.File(out).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts == n, s"wrote $parts part files, computed $n")
    assert(spark.read.parquet(out).count() == docs.count())
    // a huge target collapses to one shard via coalesce (no shuffle)
    val out1 = tempDir("graft-shards1").toString
    assert(Sinks.writeSizedShards(docs, out1, targetBytes = 1L << 40) == 1)
  }

  test("kafka envelope round-trips through from_json") {
    val events = Sources.events(spark, sf("sf0.001"))
    val env = Sinks.jsonEnvelope(events)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("price",
        org.apache.spark.sql.types.DoubleType)))
    val back = Sources.fromKafkaEnvelope(env, schema)
    assert(back.count() == events.count())
    val sumBack = back.agg(sum("price")).as[Double].head()
    val sumOrig = events.agg(sum("value")).as[Double].head()
    assert(math.abs(sumBack - sumOrig) < 1e-6)
  }

  test("avro envelope round-trips byte-deterministically") {
    val events = Sources.events(spark, sf("sf0.001"))
    val env = Sinks.avroEnvelope(events)
    // byte determinism: two independent encodes produce identical bytes
    val h1 = env.select(md5(col("kafka_value")).as("h"))
      .as[String].collect().sorted.toSeq
    val h2 = Sinks.avroEnvelope(events).select(md5(col("kafka_value")).as("h"))
      .as[String].collect().sorted.toSeq
    assert(h1 == h2)
    // encode ∘ decode = identity on every field
    val back = Sources.fromAvroEnvelope(env)
    val orig = events.select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value").as("price"))
    assert(back.count() == events.count())
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
    // real Avro wire format: record of 2 varint longs + varint long +
    // length-prefixed string + 8-byte double — envelope must be compact
    val maxLen = env.select(max(length(col("kafka_value")))).as[Int].head()
    assert(maxLen < 64, s"envelope unexpectedly large: $maxLen bytes")
  }

  test("date-partitioned sink writes prunable layout") {
    val out = tempDir("graft-part").toString
    val events = Sources.events(spark, sf("sf0.001"))
    Sinks.writeDatePartitioned(events, out)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("event_date=")).map(_.getName)
    assert(dirs.length > 1, s"expected partition dirs, got ${dirs.toSeq}")
    // day-filter prunes partitions at planning time
    val pruned = spark.read.parquet(out)
      .filter(col("event_date") === dirs.head.stripPrefix("event_date="))
    assert(pruned.count() > 0)
  }

  test("bucketed tables join without a shuffle exchange") {
    val li = Sources.table(spark, sf("sf0.001"), "lineitem")
    val o = Sources.table(spark, sf("sf0.001"), "orders")
    Sinks.writeBucketed(li, "li_bkt", "l_orderkey", 4)
    Sinks.writeBucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"),
      "o_bkt", "l_orderkey", 4)
    // force the shuffle-join path (tiny tables would broadcast otherwise)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bkt").join(spark.table("o_bkt"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketing unused in:\n$plan")
      assert(joined.count() == li.join(o,
        li("l_orderkey") === o("o_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("multimodal resize truncates payloads; frame sampling partitions them") {
    val docs = Sources.table(spark, sf("sf0.001"), "documents").limit(20)
    val media = Multimodal.attachMedia(docs)
    val resized = Multimodal.resize(spark, media, maxBytes = 16)
    assert(resized.collect().forall(_.media.length <= 16))
    val frames = Multimodal.sampleFrames(spark, media, n = 4)
    val byDoc = frames.collect().groupBy(_.doc_id)
    val lens = media.as[Multimodal.MediaItem].collect()
      .map(m => m.doc_id -> m.media.length).toMap
    byDoc.foreach { case (id, fs) =>
      assert(fs.length == 4)
      assert(fs.map(_.frame.length).sum == lens(id)) // frames partition bytes
    }
  }

  test("multimodal decodeMeta preserves byte lengths and is deterministic") {
    val docs = Sources.table(spark, sf("sf0.001"), "documents")
    val meta = Multimodal.decodeMeta(spark, Multimodal.attachMedia(docs))
    val joined = meta.toDF().join(docs, "doc_id")
      .select(col("n_bytes"), length(col("text")).cast("long").as("len"))
      .as[(Long, Long)].collect()
    joined.foreach { case (n, l) => assert(n == l) } // ASCII corpus: bytes==chars
    val cs1 = meta.select("checksum").as[Long].collect().sorted.toSeq
    val cs2 = Multimodal.decodeMeta(spark, Multimodal.attachMedia(docs))
      .select("checksum").as[Long].collect().sorted.toSeq
    assert(cs1 == cs2)
  }

  test("brandMedianPrice: per-group two-middle-ranks median") {
    val part = Seq(
      (1L, "A", 1.0), (2L, "A", 2.0), (3L, "A", 3.0),   // odd → 200
      (4L, "B", 1.0), (5L, "B", 2.0))                   // even → 150
      .toDF("p_partkey", "p_brand", "p_retailprice")
    val got = RelationalQueries.brandMedianPrice(part)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("A", 3L, 100L, 300L, 200.0),
      ("B", 2L, 100L, 200L, 150.0)), got.toString)
  }

  test("nameSurvivorship: transitive clusters resolve to the min name") {
    val part = Seq(
      // bolt chain: old↔red (2), old↔small (4) — red↔small is 5 but the
      // transitive cluster still merges all three under "old bolt"
      (1L, "old bolt"), (2L, "small bolt"), (3L, "red bolt"),
      (4L, "red bolt"),                      // duplicate row, same name
      (5L, "hot plate"))                     // unmatched → own canonical
      .toDF("p_partkey", "p_name")
    val got = RelationalQueries.nameSurvivorship(part)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("hot plate", 1L, 1L),
      ("old bolt", 3L, 4L)), got.toString)
  }

  test("nameMatching: same-block pairs within the edit-distance cap") {
    val part = Seq(
      (1L, "old bolt"), (2L, "small bolt"), (3L, "red bolt"),
      (4L, "blue gear"), (5L, "tiny gear"), (6L, "hot plate"),
      (7L, "old bolt")) // duplicate name — vocabulary dedupes
      .toDF("p_partkey", "p_name")
    val got = RelationalQueries.nameMatching(part)
      .as[(String, String, String, Int)].collect().toSeq
    // red↔small bolt is distance 5 → excluded; hot plate has no peer
    assert(got == Seq(
      ("bolt", "old bolt", "red bolt", 2),
      ("bolt", "old bolt", "small bolt", 4),
      ("gear", "blue gear", "tiny gear", 4)), got.toString)
  }
}
