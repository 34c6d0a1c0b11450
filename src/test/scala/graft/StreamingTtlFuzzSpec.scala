package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{StreamingQueries, TransitionState, VelocityState}

/** Multi-batch differential fuzz for the four watermark-aligned-TTL
  * streaming twins (r11 verdict task #3): the all-entry streaming sweep
  * replays ONE file — one data batch, watermark still 0 — so TTL eviction
  * never fires under randomized input and its semantics rested on
  * hand-written specs alone. Here every seeded random frame is split
  * across ≥2 replay files fed through the REAL file-stream harness as
  * SEPARATE micro-batches (phased file moves, the runAppendFinalized
  * two-phase discipline), with out-of-order stragglers planted so the
  * watermark machinery actually bites, and the stream output is asserted
  * against a batch recompute that applies the DOCUMENTED semantics:
  *
  *  - late DROP: rows behind the watermark (`ts < wm`, where wm before
  *    batch N = max event-time ms over batches < N minus the delay) never
  *    reach the stateful operator — the batch recompute is restricted to
  *    the surviving rows;
  *  - eviction (transitions): a key whose timeout
  *    (`max(batch max event ms, wm at arming) + horizon`) fell behind the
  *    watermark loses its last-event record, so the boundary transition
  *    on its return is SKIPPED — the recompute resets the fold state at
  *    exactly those gaps (the "restricted to in-horizon gaps" contract);
  *  - velocity LOSSLESSNESS: with horizon = the velocity window (+1 s
  *    boundary guard), eviction only empties buffers the inclusive aging
  *    filter would have emptied anyway — the TTL stream must equal the
  *    UNBOUNDED machine over the surviving rows, with no eviction term in
  *    the oracle at all;
  *  - re-emission absorption (dau/streaks): `dropDuplicatesWithinWatermark`
  *    re-emits a key whose state evicted, and the entries' distinct
  *    finishers absorb it — finisher(stream) must equal finisher(distinct
  *    surviving rows) exactly.
  *
  * The suite also asserts it was NON-VACUOUS: across the run at least one
  * late drop, one eviction and one re-emission must actually have
  * occurred (a fuzzer whose frames never trip the machinery proves
  * nothing). Frames default to 50 (`GRAFT_TTL_FUZZ_FRAMES=N` to change);
  * a failure prints the reproducing seed.
  */
abstract class StreamingTtlFuzzBase extends SparkSpec {
  import spark.implicits._

  protected val Frames =
    sys.env.get("GRAFT_TTL_FUZZ_FRAMES").map(_.toInt).getOrElse(50)

  protected case class Ev(id: Long, us: Long, user: Long, typ: String)

  /** Random event rows: always-nonzero random µs components (whole-second
    * alignment would let watermark/timeout boundary ties appear; the
    * boundary rules are pinned by the hand-written specs, not fuzzed),
    * few users (state collisions), clustered seconds (velocity runs). */
  protected def genRows(seed: Int, n: Int, users: Int, days: Int): Seq[Ev] = {
    val r = new scala.util.Random(0x77A0000 + seed)
    val types = Vector("view", "click", "purchase", "signup", "error")
    val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z
    (0 until n).map { i =>
      val dayUs = r.nextInt(days).toLong * 86400000000L
      val secUs = r.nextInt(150).toLong * 997L * 1000000L % 86400000000L
      val subUs = 1L + r.nextInt(999999)
      Ev(i.toLong, baseUs + dayUs + secUs + subUs, r.nextInt(users).toLong,
        types(r.nextInt(types.length)))
    }
  }

  /** Time-sorted rows split into 2-3 arrival batches, with ~1/6 of each
    * batch's rows bumped one batch later — out-of-order stragglers whose
    * lateness spans minutes to days, so both the on-time-behind-peers and
    * the behind-the-watermark classes occur. */
  protected def splitBatches(seed: Int, rows: Seq[Ev]): Seq[Seq[Ev]] = {
    val r = new scala.util.Random(0x5B117000 + seed)
    val nParts = 2 + (seed % 2)
    val sorted = rows.sortBy(e => (e.us, e.id))
    val parts = Array.fill(nParts)(Seq.newBuilder[Ev])
    sorted.zipWithIndex.foreach { case (e, i) =>
      val natural = math.min(nParts - 1, i * nParts / sorted.size)
      val part = math.min(nParts - 1,
        if (r.nextInt(6) == 0) natural + 1 else natural)
      parts(part) += e
    }
    parts.map(_.result()).toSeq
  }

  protected def toDf(rows: Seq[Ev]): DataFrame =
    rows.map(e => (e.id, e.us, e.user, e.typ))
      .toDF("event_id", "us", "user_id", "event_type")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"))

  /** Replays `batches` through the real file stream as separate
    * micro-batches: file k is moved into the source dir only after file
    * k-1's batches (and their watermark-advancing flush batches) fully
    * drained — the runAppendFinalized two-phase discipline, generalized. */
  protected def runMultiBatch(name: String, batches: Seq[Seq[Ev]],
      transform: DataFrame => DataFrame): DataFrame = {
    val srcDir = tempDir(s"graft-ttlf-$name")
    val ck = tempDir(s"graft-ttlfck-$name")
    def addFile(rows: Seq[Ev], idx: Int): Unit = {
      val stage = tempDir(s"graft-ttlfst-$name")
      try {
        toDf(rows).coalesce(1).write.mode("overwrite")
          .parquet(stage.resolve("out").toString)
        val part = {
          import scala.jdk.CollectionConverters._
          val ls = Files.list(stage.resolve("out"))
          try ls.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          finally ls.close()
        }
        Files.move(part, srcDir.resolve(f"part-$idx%03d.parquet"))
      } finally Fs.deleteQuietly(stage)
    }
    addFile(batches.head, 0)
    val schema = toDf(batches.head.take(1)).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = transform(stream).writeStream
      .outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation", ck.toString)
      .start()
    try {
      q.processAllAvailable()
      batches.tail.zipWithIndex.foreach { case (b, i) =>
        addFile(b, i + 1)
        q.processAllAvailable()
      }
    } finally {
      try q.stop() finally {
        Fs.deleteQuietly(srcDir); Fs.deleteQuietly(ck)
      }
    }
    spark.table(name)
  }

  // ---- documented-semantics batch recompute ----

  /** Watermark (ms) BEFORE each batch: max event-time ms seen across
    * earlier batches minus the delay, monotone, starting at 0. */
  protected def wmBefore(batches: Seq[Seq[Ev]], delayMs: Long): Seq[Long] =
    batches.scanLeft(0L) { (wm, b) =>
      if (b.isEmpty) wm
      else math.max(wm, math.max(0L, b.map(_.us / 1000L).max - delayMs))
    }.init

  /** The surviving (non-late) rows of each batch under the late-drop rule
    * `ts < wm ⇒ dropped`. */
  protected def keptBatches(batches: Seq[Seq[Ev]],
      delayMs: Long): Seq[Seq[Ev]] = {
    val wms = wmBefore(batches, delayMs)
    batches.zip(wms).map { case (b, wm) => b.filter(_.us >= wm * 1000L) }
  }

  protected var lateDropsSeen = 0L
  protected var evictionsSeen = 0L
  protected var reemissionsSeen = 0L



}

/** Leaf suites (one per fuzz class) so the parallel forked test groups
  * can schedule them concurrently — the r18 suite-budget split (see
  * DifferentialFuzzBase's leaf note). Counters are per-leaf instance;
  * every vacuity assertion reads only increments from its own test. */
class StreamingTtlTransitionsFuzzSpec extends StreamingTtlFuzzBase {
  import spark.implicits._
  test(s"TTL fuzz: q_stream_event_transitions_ttl on $Frames multi-batch " +
      "frames — eviction resets exactly the out-of-horizon gaps") {
    val horizonMs = 3600000L // transitionsTtl default "1 hour"
    for (seed <- 0 until Frames) {
      val batches = splitBatches(seed, genRows(seed, 160, 10, 2))
      val wms = wmBefore(batches, horizonMs)
      val kept = keptBatches(batches, horizonMs)
      lateDropsSeen += batches.map(_.size).sum - kept.map(_.size).sum
      // documented recompute: per-user fold over surviving rows in batch
      // order, (µs, id)-sorted within a batch; state drops when the
      // armed timeout (max(batch max ms, wm at arming) + horizon) falls
      // strictly behind the watermark before the user's next batch
      case class St(lastType: String, timeoutMs: Long)
      var state = Map.empty[Long, St]
      val expected = Seq.newBuilder[(Long, String, String)]
      kept.zip(wms).foreach { case (b, wm) =>
        val (evicted, live) = state.partition(_._2.timeoutMs < wm)
        evictionsSeen += evicted.size
        state = live
        b.groupBy(_.user).foreach { case (user, rows) =>
          val sorted = rows.sortBy(e => (e.us, e.id))
          var prev = state.get(user).map(_.lastType)
          sorted.foreach { e =>
            prev.foreach(p => expected += ((user, p, e.typ)))
            prev = Some(e.typ)
          }
          val maxMs = sorted.map(_.us / 1000L).max
          state += user -> St(sorted.last.typ,
            math.max(maxMs, wm) + horizonMs)
        }
      }
      val got = runMultiBatch(s"ttlf_trans_$seed", batches, df =>
        TransitionState.transitionsTtl(spark,
          df.as[TransitionState.In]).toDF)
        .as[TransitionState.Transition].collect()
        .map(t => (t.user_id, t.prev_type, t.next_type)).toSeq.sorted
      assert(got == expected.result().sorted,
        s"seed=$seed: stream=${got.size} rows, " +
          s"expected=${expected.result().size} rows\n" +
          s"stream=$got\nexpected=${expected.result().sorted}")
    }
    assert(lateDropsSeen > 0, "fuzz never produced a late drop — vacuous")
    assert(evictionsSeen > 0, "fuzz never evicted a key — vacuous")
  }
}

class StreamingTtlVelocityFuzzSpec extends StreamingTtlFuzzBase {
  import spark.implicits._
  test(s"TTL fuzz: q_stream_velocity_ttl on $Frames multi-batch frames — " +
      "TTL equals the UNBOUNDED machine on surviving rows (losslessness)") {
    val windowSec = graft.ops.EventQueries.VelocityWindowSec
    val delayMs = windowSec * 1000L // flagsTtl default horizon = window
    for (seed <- 0 until Frames) {
      // 1 day, dense seconds: buffers actually overlap the window
      val batches = splitBatches(seed, genRows(seed, 140, 8, 1))
      val kept = keptBatches(batches, delayMs)
      lateDropsSeen += batches.map(_.size).sum - kept.map(_.size).sum
      // the oracle has NO eviction term: the unbounded stateful counter
      // folded over the surviving rows in batch order (runs of equal
      // second report the run-complete count — VelocityState.update)
      var buf = Map.empty[Long, List[Long]].withDefaultValue(Nil)
      val expected = Seq.newBuilder[(Long, Long, Long, Long)]
      kept.foreach { b =>
        b.groupBy(_.user).foreach { case (user, rows) =>
          var ubuf = buf(user)
          val sorted = rows.map(e => (e.us / 1000000L, e))
            .sortBy { case (sec, e) => (sec, e.id) }
          var i = 0
          while (i < sorted.length) {
            val sec = sorted(i)._1
            var j = i
            while (j < sorted.length && sorted(j)._1 == sec) j += 1
            val run = sorted.slice(i, j)
            ubuf = ubuf.filter(_ >= sec - windowSec) ++ run.map(_ => sec)
            val n = ubuf.size.toLong
            run.foreach { case (_, e) => expected += ((e.id, user, sec, n)) }
            i = j
          }
          buf += user -> ubuf
        }
      }
      val got = runMultiBatch(s"ttlf_vel_$seed", batches, df =>
        VelocityState.flagsTtl(spark,
          df.select(col("event_id"), col("ts"), col("user_id"))
            .as[VelocityState.In]).toDF)
        .as[VelocityState.Flag].collect()
        .map(f => (f.event_id, f.user_id, f.sec, f.n_in_window))
        .toSeq.sortBy(_._1)
      assert(got == expected.result().sortBy(_._1),
        s"seed=$seed velocity TTL diverged from unbounded-on-kept:\n" +
          s"stream=$got\nexpected=${expected.result().sortBy(_._1)}")
    }
  }
}

class StreamingTtlDedupFuzzSpec extends StreamingTtlFuzzBase {
  import spark.implicits._
  test(s"TTL fuzz: q_stream_dau_ttl + q_stream_user_streaks_ttl on " +
      s"$Frames multi-batch frames — distinct finishers absorb " +
      "re-emissions exactly") {
    for (seed <- 0 until Frames) {
      // alternate horizons: the entry-default "2 days" exercises the
      // late-DROP class, but with a day-granular dedup key it can never
      // re-emit (eviction ⇒ wm > first-seen + 2d > its whole day ⇒ any
      // same-day duplicate is late by construction — the r11 rule); the
      // "1 hour" seeds are where eviction + on-time same-day return =
      // re-emission, which the distinct finishers must absorb
      val (delay, delayMs) =
        if (seed % 2 == 0) ("2 days", 2L * 86400000L)
        else ("1 hour", 3600000L)
      // 6-day span so stragglers can be multiple days late AND evicted
      // keys can return on-time (the re-emission class)
      val batches = splitBatches(seed, genRows(seed, 150, 8, 6))
      val kept = keptBatches(batches, delayMs)
      lateDropsSeen += batches.map(_.size).sum - kept.map(_.size).sum
      val keptDf = toDf(kept.flatten)
      val raw = runMultiBatch(s"ttlf_dau_$seed", batches,
        StreamingQueries.dedupDailyUsersBounded(_, delay))
        .localCheckpoint(true)
      reemissionsSeen += raw.count() -
        raw.dropDuplicates("event_date", "event_type", "user_id").count()
      // dau entry shape: distinct-absorbed count vs the batch recompute
      // over surviving rows through the SAME finisher
      val gotDau = StreamingQueries.countDailyActiveUsers(
        raw.dropDuplicates("event_date", "event_type", "user_id"))
        .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
        .toSeq
      val expDau = StreamingQueries.countDailyActiveUsers(
        keptDf.select(to_date(col("ts")).as("event_date"),
          col("event_type"), col("user_id")).distinct())
        .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
        .toSeq
      assert(gotDau == expDau, s"seed=$seed dau_ttl diverged:\n" +
        s"stream=$gotDau\nexpected=$expDau")
      // streaks entry shape: the (user, day) projection through the
      // shared gaps-and-islands finisher
      val gotStreaks = graft.ops.EventQueries.streaksFromDays(
        raw.select(col("user_id"), col("event_date")))
        .collect().map(_.toSeq).toSeq
      val expStreaks = graft.ops.EventQueries.streaksFromDays(
        keptDf.select(col("user_id"), to_date(col("ts")).as("event_date")))
        .collect().map(_.toSeq).toSeq
      assert(gotStreaks == expStreaks,
        s"seed=$seed streaks_ttl diverged:\n" +
          s"stream=$gotStreaks\nexpected=$expStreaks")
    }
    assert(reemissionsSeen > 0,
      "fuzz never re-emitted an evicted dedup key — vacuous")
  }
}
