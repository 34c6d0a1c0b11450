package graft

import java.nio.file.Files

import graft.ingest.{Pipeline, ReplayCheckpoint}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("extractMonth runs csv -> clean -> cap -> parquet with stats and cursor") {
    val dir = tempDir("graft-pipe")
    val csv = dir.resolve("2019-11.csv")
    Files.writeString(csv,
      """event_time,event_type,product_id,category_id,category_code,brand,price,user_id,user_session
        |2019-11-01 09:00:00 UTC,view,1001,2001,electronics.phone,apple,100.50,u1,s1
        |2019-11-01 09:00:01 UTC,cart,1002,2001,,,,u1,s1
        |2019-11-01 09:00:02 UTC,purchase,1001,2001,electronics.phone,apple,100.50,u1,s1
        |2019-11-02 10:00:00 UTC,view,1003,2002,apparel.shoes,nike,55.00,u2,s2
        |""".stripMargin)
    val out = dir.resolve("out").toString
    val ck = dir.resolve("ck.json").toString
    val r1 = Pipeline.extractMonth(spark, csv.toString, out, ck,
      month = "2019-11", capPerDay = 2)
    assert(r1 == Pipeline.ExtractResult(out, 3L, 2L, "2019-11")) // day1 capped at 2
    val written = spark.read.parquet(out)
    assert(written.count() == 3)
    assert(written.schema("price").dataType.typeName == "double")
    // null price imputed, null brand passed through
    val cartRow = written.filter($"event_type" === "cart").collect().head
    assert(cartRow.getAs[Double]("price") == 0.0)
    assert(cartRow.getAs[Any]("brand") == null)
    // cursor advanced
    assert(ReplayCheckpoint.load(ck, ReplayCheckpoint("?", -1)) ==
      ReplayCheckpoint("2019-11", 3L))
    // same month again: offset accumulates
    Pipeline.extractMonth(spark, csv.toString, out, ck, "2019-11", 2)
    assert(ReplayCheckpoint.load(ck, ReplayCheckpoint("?", -1)).offset == 6L)
    // month rotation resets the offset
    Pipeline.extractMonth(spark, csv.toString, out, ck, "2019-12", 2)
    val rotated = ReplayCheckpoint.load(ck, ReplayCheckpoint("?", -1))
    assert(rotated == ReplayCheckpoint("2019-12", 3L))
  }

  test("jsonl round-trip preserves hostile text exactly") {
    // the interchange format must survive everything a web corpus throws
    // at JSON: embedded newlines, quotes, backslashes, tabs, unicode,
    // empty strings and nulls
    val rows = Seq(
      (0L, "line1\nline2\r\nline3"),
      (1L, "quote \" backslash \\ tab\t slash / end"),
      (2L, "unicode é中文 😀 end"),
      (3L, ""),
      (4L, null.asInstanceOf[String]))
    val df = rows.toDF("doc_id", "text")
    val tmp = tempDir("graft-jsonl-spec")
    graft.sink.Sinks.writeJsonl(df, s"$tmp/d")
    val back = graft.ingest.Sources.jsonl(spark, s"$tmp/d", df.schema)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back == rows)
  }

  test("jsonlTolerant quarantines corrupt lines without losing good ones") {
    import java.nio.file.{Files => JFiles, Paths}
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-jsonl-tol")
    val lines = Seq(
      """{"doc_id": 1, "text": "good one"}""",
      """{"doc_id": 2, "text": "also fine"}""",
      """not json at all {{{""",
      """{"doc_id": "NaN-ish", "text": 42}""", // type mismatch → corrupt
      """{"doc_id": 3, "text": "after the garbage"}""")
    JFiles.write(Paths.get(dir.toString, "part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val (good, corrupt) =
      graft.ingest.Sources.jsonlTolerant(spark, dir.toString, schema)
    val g = good.as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(g == Seq((1L, "good one"), (2L, "also fine"),
      (3L, "after the garbage")))
    val c = corrupt.as[String].collect().toSeq.sorted
    assert(c == Seq("""not json at all {{{""",
      """{"doc_id": "NaN-ish", "text": 42}""").sorted)
  }

  test("csv and orc round-trips preserve hostile text exactly") {
    val rows = Seq(
      (0L, "comma, semicolon; pipe| end"),
      (1L, "quote \" backslash \\ tab\t end"),
      (2L, "line1\nline2\r\nline3"),       // embedded newlines (multiLine)
      (3L, "unicode é中文 😀 end"),
      (4L, ""),
      (5L, null.asInstanceOf[String]))
    val df = rows.toDF("doc_id", "text")
    val csvTmp = tempDir("graft-csv-spec")
    graft.sink.Sinks.writeCsvTyped(df, s"$csvTmp/d")
    val csvBack = graft.ingest.Sources.csvTyped(spark, s"$csvTmp/d", df.schema)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // the pinned dialect (\N nulls vs "" empties) keeps even CSV's
    // classic lossy corner intact — null and empty both round-trip
    assert(csvBack == rows)
    val orcTmp = tempDir("graft-orc-spec")
    graft.sink.Sinks.writeOrc(df, s"$orcTmp/d")
    val orcBack = graft.ingest.Sources.orc(spark, s"$orcTmp/d")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(orcBack == rows)
  }

  test("orc scan keeps predicate pushdown and column pruning") {
    val docs = graft.ingest.Sources.table(spark, sf("sf0.001"), "documents")
    val tmp = tempDir("graft-orc-push")
    graft.sink.Sinks.writeOrc(docs, s"$tmp/d")
    val q = graft.ingest.Sources.orc(spark, s"$tmp/d")
      .filter($"doc_id" > 100L).select("doc_id", "lang")
    val scan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(scan.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)"),
      s"orc pushdown missing:\n$scan")
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"orc pruning missing:\n$scan")
  }

  test("registered views make the surface spark.sql-addressable") {
    ingest.Sources.registerViews(spark, sf("sf0.001"))
    val viaSql = spark.sql(
      """SELECT CAST(ts AS DATE) AS event_date,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
        |FROM view_kafka_ecommerce_stream
        |WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""".stripMargin)
      .as[(java.sql.Date, Double)].collect().toSeq
    val viaApi = graft.ops.EventQueries.dailyRevenue(
        ingest.Sources.events(spark, sf("sf0.001")))
      .as[(java.sql.Date, Double)].collect().toSeq
    assert(viaSql == viaApi)
    assert(spark.sql("SELECT count(*) FROM lineitem").as[Long].head() > 0)
  }

  test("custom expressions register for SQL use") {
    GraftFunctions.register(spark)
    val sims = spark.sql(
      """SELECT vec_id, vec_dot(embedding, embedding) AS norm2
        |FROM parquet.`/root/testdata/sf0.001/embeddings.parquet`
        |ORDER BY vec_id LIMIT 3""".stripMargin)
      .as[(Long, Double)].collect()
    assert(sims.length == 3 && sims.forall(_._2 > 0.0))
    val nsh = spark.sql(
      "SELECT size(shingle_hashes('a b c d')) AS n").as[Int].head()
    assert(nsh == 2)
    val reps = spark.sql(
      "SELECT shingle_counts('a b a b a b a b') AS s")
      .selectExpr("s.n_shingles", "s.n_distinct", "s.top_cnt")
      .as[(Long, Long, Long)].head()
    assert(reps == ((6L, 2L, 3L)))
    // round-6 registrations: int8 quantization kernels + simhash
    val qd = spark.sql(
      """SELECT vec_dot_int8(q.s.q, q.s.q) AS n2, q.s.scale AS sc
        |FROM (SELECT quantize_int8(array(CAST(1.27 AS FLOAT),
        |  CAST(-1.27 AS FLOAT))) AS s) q""".stripMargin)
      .as[(Long, Float)].head()
    assert(qd == ((127L * 127 * 2, 0.01f)))
    val sh = spark.sql(
      "SELECT simhash64('a b c') = simhash64('a b c') AS eq").as[Boolean].head()
    assert(sh)
    // positional shingles: non-distinct, ordered; distinct set matches
    // shingle_hashes on the same text
    val pos = spark.sql(
      """SELECT size(shingle_pos_hashes('a b a b', 2)) AS n,
        |  size(array_distinct(shingle_pos_hashes('a b a b', 2))) AS nd,
        |  array_sort(array_distinct(shingle_pos_hashes('a b a b', 2)))
        |    = array_sort(shingle_hashes('a b a b', 2)) AS same""".stripMargin)
      .as[(Int, Int, Boolean)].head()
    assert(pos == ((3, 2, true)))
    // round-10 registrations: minhash signatures + span removal
    val mh = spark.sql(
      """SELECT size(minhash_sig('a b c d')) AS n32,
        |  size(minhash_sig('a b c d', 2, 16)) AS n16,
        |  minhash_sig('a b c d') = minhash_sig('a b c d') AS stable,
        |  minhash_sig('a') IS NULL AS short""".stripMargin)
      .as[(Int, Int, Boolean, Boolean)].head()
    assert(mh == ((32, 16, true, true)))
    val rm = spark.sql(
      "SELECT remove_tokens_at('a b c d', array(1, 3)) AS t")
      .as[String].head()
    assert(rm == "a c")
    val dr = spark.sql(
      """SELECT deflate_ratio(repeat('spam ', 200)) AS spam,
        |  deflate_ratio('') IS NULL AS empty""".stripMargin)
      .as[(Double, Boolean)].head()
    assert(dr._1 < 0.05 && dr._2)
  }
}
