package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ops.Cdc
import graft.sink.{MaterializedView, Sinks}

/** Lakehouse-maintenance ops: incremental MV refresh, keyed erasure with
  * partition-pruned rewrite, snapshot CDC diff. The end-to-end exactness of
  * the MV fold and the erasure live on the driver's hash gate
  * (`q_mv_incremental` shares `q_daily_revenue`'s oracle verbatim;
  * `q_user_erasure` mirrors the NOT IN); these specs pin the op-level
  * contracts the gate can't see — file-level pruning, null-key handling,
  * absent-key preservation, null-safe compares. */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("mergeSums folds slices to the one-shot aggregate and preserves " +
      "keys absent from a delta") {
    val out = tempDir("graft-mvspec").toString + "/mv"
    val rows = Seq(("a", 1.25), ("a", 2.50), ("b", 0.75), ("c", 10.00))
    def delta(xs: Seq[(String, Double)]) =
      xs.toDF("k", "v").groupBy("k")
        .agg(sum(col("v").cast(Exprs.Money)).as("partial"))
    // fold in two slices that split key "a" across refreshes; "c" only in
    // the first — the second refresh must not disturb it
    MaterializedView.mergeSums(delta(rows.take(2)), out,
      Seq("k"), Seq("partial"))
    MaterializedView.mergeSums(delta(rows.drop(2)), out,
      Seq("k"), Seq("partial"))
    val got = spark.read.parquet(out)
      .select(col("k"), col("partial").cast("double"))
      .as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 3.75, "b" -> 0.75, "c" -> 10.0))
    // stored partials keep the pinned exact type
    assert(spark.read.parquet(out).schema("partial").dataType ==
      MaterializedView.PartialType)
  }

  test("mergeSumsOnce makes a replayed micro-batch a no-op (ledger rides " +
      "the view's atomic swap)") {
    val out = tempDir("graft-mvonce").toString + "/mv"
    def delta(v: Double) = Seq(("a", v)).toDF("k", "v").groupBy("k")
      .agg(sum(col("v").cast(Exprs.Money)).as("partial"))
    def total(): Double = spark.read.parquet(out)
      .select(col("partial").cast("double")).as[Double].collect().sum
    assert(MaterializedView.mergeSumsOnce(delta(1.0), out, 0L,
      Seq("k"), Seq("partial")))
    assert(MaterializedView.mergeSumsOnce(delta(2.0), out, 1L,
      Seq("k"), Seq("partial")))
    assert(total() == 3.0)
    // a foreachBatch restart replays batch 1: must not double-count
    assert(!MaterializedView.mergeSumsOnce(delta(2.0), out, 1L,
      Seq("k"), Seq("partial")))
    assert(total() == 3.0)
    assert(MaterializedView.appliedBatches(out) == Set(0L, 1L))
    // the ledger is invisible to parquet readers (underscore-prefixed)
    assert(spark.read.parquet(out).columns.toSet == Set("k", "partial"))
  }

  test("eraseKeysPartitioned rewrites only affected buckets, deletes " +
      "fully-erased ones, and keeps null keys") {
    val root = tempDir("graft-erasespec").toString + "/t"
    val df = Seq[(java.lang.Long, String)](
      (1L, "a1"), (17L, "a17"),       // bucket 1
      (2L, "b2"), (18L, "b18"),       // bucket 2
      (3L, "c3"),                     // bucket 3 (fully erased below)
      (null, "n")                     // null key, planted in AFFECTED bucket
                                      // 1 — must survive the rewrite
    ).toDF("k", "payload")
      .withColumn("bucket", pmod(coalesce(col("k"), lit(-3L)), lit(4L)))
    df.write.partitionBy("bucket").parquet(root)
    def bucketFiles(b: String): Map[String, Long] = {
      val d = Paths.get(root, s"bucket=$b")
      val ls = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(p => p.getFileName.toString ->
          Files.getLastModifiedTime(p).toMillis).toMap
      } finally ls.close()
    }
    val untouchedBefore = bucketFiles("2")
    Sinks.eraseKeysPartitioned(spark, root, "k", Seq(1L, 3L), "bucket",
      k => java.lang.Math.floorMod(k, 4L))
    // bucket 2 files byte-identical (never rewritten)
    assert(bucketFiles("2") == untouchedBefore,
      "an unaffected bucket was rewritten")
    // bucket 3 lost its only row -> directory deleted outright
    assert(!Files.exists(Paths.get(root, "bucket=3")),
      "fully-erased bucket directory left alive")
    val left = spark.read.parquet(root)
      .select(col("payload")).as[String].collect().toSet
    assert(left == Set("a17", "b2", "b18", "n"),
      s"erasure kept the wrong rows: $left")
  }

  test("eraseKeysPartitioned refuses an unbounded driver-side key list") {
    val e = intercept[IllegalArgumentException] {
      Sinks.eraseKeysPartitioned(spark, "/nonexistent", "k",
        (1L to 100001L), "bucket", identity)
    }
    assert(e.getMessage.contains("anti-join"))
  }

  test("snapshotDiff classifies inserts/deletes/updates with null-safe " +
      "compares (null->null unchanged, null->value update)") {
    val old = Seq[(Long, java.lang.Double)](
      (1L, 1.0), (2L, null), (3L, 3.0), (4L, 4.0)).toDF("k", "v")
    val neu = Seq[(Long, java.lang.Double)](
      (1L, 1.0),   // unchanged
      (2L, null),  // null -> null: unchanged
      (3L, null),  // value -> null: update
      (5L, 5.0)    // insert; 4 deleted
    ).toDF("k", "v")
    val got = Cdc.snapshotDiff(old, neu, Seq("k"), Seq("v"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "unchanged",
      3L -> "update", 4L -> "delete", 5L -> "insert"))
  }
}
