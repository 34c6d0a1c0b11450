package graft

import org.apache.spark.sql.catalyst.expressions.Explode
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.functions._

import graft.ingest.Sources
import graft.ops.{EventQueries, RelationalQueries, Skew}

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("revenueByNationSalted expands only the replicated customer side") {
    val d = sf("sf0.001")
    val df = RelationalQueries.revenueByNationSalted(
      Sources.table(spark, d, "lineitem"), Sources.table(spark, d, "orders"),
      Sources.table(spark, d, "customer"), Sources.table(spark, d, "nation"))
    val gens = df.queryExecution.optimizedPlan.collect { case g: Generate => g }
    assert(gens.size == 1, s"expected exactly one Generate, got ${gens.size}")
    // buckets× replication: the exploded salt array carries 8 elements
    // (ConstantFolding may have collapsed the literal CreateArray)
    gens.head.generator match {
      case Explode(e) if e.foldable =>
        val arr = e.eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        assert(arr.numElements() == 8, s"salt fan-out: ${arr.numElements()}")
      case other => fail(s"unexpected generator shape: $other")
    }
    // ...and the Expand sits over the small customer side ONLY — salting
    // that fanned out the fact tables would multiply the big shuffle 8×
    val leafCols =
      gens.head.child.collectLeaves().flatMap(_.output.map(_.name))
    assert(leafCols.contains("c_custkey"), s"not over customer: $leafCols")
    assert(!leafCols.exists(n => n.startsWith("l_") || n.startsWith("o_")),
      s"fact-table columns under the Generate: $leafCols")
  }

  test("saltedJoin equals the unsalted join") {
    val li = Sources.table(spark, sf("sf0.001"), "lineitem")
    val part = Sources.table(spark, sf("sf0.001"), "part")
      .withColumnRenamed("p_partkey", "l_partkey")
    val plain = li.join(part, Seq("l_partkey"))
      .agg(sum("p_retailprice"), count(lit(1))).as[(Double, Long)].head()
    val salted = Skew.saltedJoin(li, part, "l_partkey",
        buckets = 8, saltSource = "l_orderkey")
      .agg(sum("p_retailprice"), count(lit(1))).as[(Double, Long)].head()
    assert(salted._2 == plain._2)
    assert(math.abs(salted._1 - plain._1) < 1e-6)
  }

  test("span/jaccard passes stay skew-spread under a corpus-wide boilerplate n-gram") {
    // VERDICT r6 task 5 — the scale argument, MEASURED: plant one 5-gram in
    // EVERY doc (2000 occurrences of one window hash; each doc adds 2 unique
    // windows) and record per-task shuffle-read records for every stage.
    // The aggregate+join shape (dupWindowStream / jaccardPairsCore's DF cap)
    // must keep every task's ingest below even the hot key's occurrence
    // count; the window-function alternative provably CANNOT — its
    // partitionBy(h) sort co-locates all 2000 hot rows in one task (and
    // window operators get no AQE skew relief). AQE off + 8 shuffle
    // partitions so the distribution is observable (AQE would coalesce this
    // tiny corpus into one task and mask it).
    import org.apache.spark.sql.expressions.Window
    import graft.ext.{Dedup, TextExpressions}
    val hotCount = 2000
    val docs = (0 until hotCount)
      .map(i => (i.toLong, s"u${i}a u${i}b h1 h2 h3 h4 h5"))
      .toDF("doc_id", "text")
    val meter = Meter(spark)
    // the largest shuffle-read record count of any one task of `action`
    def maxTaskRead(action: => Unit): Long = {
      val (_, u) = meter.run(action)
      assert(u.tasks > 0, "no task ran")
      u.peakTaskShuffleRecords
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      // the production span pass: every doc must see its hot window flagged
      val spanReads = maxTaskRead {
        val out = Dedup.dupNgramSpans(docs, width = 5)
          .filter(col("n_dup_windows") >= 1).count()
        assert(out == hotCount, s"hot window not flagged everywhere: $out")
      }
      assert(spanReads < hotCount,
        s"dupNgramSpans: a task ingested $spanReads shuffled rows — " +
          s"the hot key (${hotCount} occurrences) was co-located")
      // the DF-capped jaccard pass: hot shingle df=2000 > cap → discarded,
      // and discarding it must not require co-locating it first
      val jacReads = maxTaskRead {
        Dedup.ngramJaccardPairsAtLeast(docs, minJaccard = 0.5,
          maxShingleDf = 1000).count()
      }
      assert(jacReads < hotCount,
        s"jaccardPairsCore: a task ingested $jacReads shuffled rows")
      // the documented failure mode, demonstrated: a window-function df
      // (partitionBy the shingle hash) must co-locate every occurrence of
      // the boilerplate hash in ONE task's sort
      val winReads = maxTaskRead {
        docs.select(col("doc_id"),
            explode(TextExpressions.shingleHashes(col("text"), 5)).as("h"))
          .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
          .filter(col("df") >= 2).count()
      }
      assert(winReads >= hotCount,
        s"expected the window form to co-locate the hot key " +
          s"(max task read $winReads < $hotCount) — if this starts " +
          "failing, Spark learned to skew-split windows and the round-6 " +
          "shape rule should be revisited")
    } finally {
      meter.close()
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("AQE splits a skewed sort-merge join (the equi-join skew escape hatch)") {
    // the Dedup scaladocs lean on "the occurrences ⋈ stats equi-join is a
    // shape AQE can skew-split" — demonstrate it: one key holds ~all fact
    // rows; with thresholds scaled to local data sizes, AQE must mark the
    // skewed SMJ partition split (isSkew=true in the plan)
    val prev = Seq("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = spark.range(40000)
        .select(when(col("id") % 10 =!= 0, lit(7L))
          .otherwise(col("id") % 1000).as("k"), // ~90% of rows on key 7
          col("id").as("payload"))
      val dim = spark.range(1000).select(col("id").as("k"),
        md5(col("id").cast("string")).as("name"))
      val joined = fact.join(dim, "k")
      // execute THIS queryExecution (count() would plan a separate one and
      // leave this plan un-finalized: AQE marks skew only in the final plan)
      assert(joined.collect().length == 40000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isSkew=true") || plan.contains("skew="),
        s"AQE did not mark a skew split:\n$plan")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("runtime bloom filter injects on a selective dim filter (scan pre-prune)") {
    // the other 100 TB join lever: a selective predicate on the dimension
    // side turns into a bloom_filter_might_contain pre-filter on the FACT
    // scan, discarding non-joining rows before the shuffle. Thresholds
    // scaled to local parquet sizes; broadcast disabled so the rule (which
    // targets shuffle joins) applies.
    val dir = tempDir("graft-rtf").toString
    spark.range(100000)
      .select((col("id") % 5000).as("k"), md5(col("id").cast("string")).as("payload"))
      .write.parquet(s"$dir/fact")
    spark.range(5000)
      .select(col("id").as("k"), (col("id") % 97).as("cat"))
      .write.parquet(s"$dir/dim")
    val prev = Seq("spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("cat") === 3)
      val joined = fact.join(dim, "k")
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no runtime bloom filter injected:\n$optimized")
      // and it is not just planned — the filtered join still answers right:
      // 52 dim keys (id % 97 == 3 in [0, 5000)) × 20 fact rows per key
      assert(joined.count() == 52L * 20L)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("distinctCountSpread equals countDistinct") {
    val ev = Sources.events(spark, sf("sf0.001"))
      .withColumn("event_date", to_date(col("ts")))
    val viaSpread = Skew.distinctCountSpread(ev,
        Seq("event_date", "event_type"), "user_id", "daily_active_users")
      .orderBy(col("event_date").desc, col("event_type"))
      .as[(java.sql.Date, String, Long)].collect().toSeq
    val viaDistinct = EventQueries.dailyActiveUsers(
        Sources.events(spark, sf("sf0.001")))
      .as[(java.sql.Date, String, Long)].collect().toSeq
    assert(viaSpread == viaDistinct)
  }
}
