package graft
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JIT/codegen + parquet reader paths, so the first
    // measured query doesn't absorb JVM startup cost.
    spark.range(2000000L).selectExpr("sum(id * 2)").collect()
    try SparkEntry.queries.get("q_validate_count")
      .foreach(f => f(spark, sfDir).count())
    catch { case NonFatal(_) => () }

    // ---- host-state instrumentation (the r14 verdict's #1) ----------
    // The r14 lesson: this host suffers external contention waves that
    // degrade parallel CPU throughput 3-5× while a SCALAR probe reads
    // FASTER (r14 driver run: calibration 0.178 < r13's 0.205 while the
    // suite ran 1.64× slower) — a single-threaded probe gets ONE core's
    // timeslice easily even on a loaded box; what the waves steal is
    // the ability to run 32 ways at once. So calibration is now a
    // 32-WAY pure-CPU probe: `cpus` threads each run a fixed dependent
    // LCG chain; wall time inflates ∝ lost capacity. Alongside the wall
    // we record the probe's ACHIEVED PARALLELISM (Σ thread-CPU-time ÷
    // wall — ~cpus calm, < cpus under contention) and the /proc/stat
    // steal/idle deltas over the probe window, so a bench run taken
    // during a wave is distinguishable from a regression BY ITS OWN
    // RECORD.
    // probe machinery factored into HostProbe (r16 — Scaling's
    // single-section experiments need the same capacity evidence);
    // fields and behavior identical to the r15 in-line version
    def loadavg(): String = HostProbe.loadavg()
    val probeThreads = cpus
    def cpuProbe(): HostProbe.Probe = HostProbe.run(probeThreads)
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    val loadStart = loadavg()
    val probeStart = cpuProbe()
    // The SCALAR probe of r1-r14 stays recorded (continuity with the
    // board's history) but no longer drives cal_adjusted_*.
    val calibrationScalar = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(2000000L).selectExpr("sum(id * 2)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    // Streaming-harness FLOOR: the fixed start/drain/stop cost of a
    // MINIMAL file stream (1-row parquet, pass-through transform, memory
    // sink, fresh checkpoint) — the slowest bench entries include ~9
    // streaming queries whose time is dominated by this constant, not by
    // operator work; recording it lets a reader subtract harness from
    // operator cost instead of misreading fixed cost as a plan change.
    val harnessFloor = {
      val dir = java.nio.file.Files.createTempDirectory("bench-hprobe")
      try {
        val src = dir.resolve("src").toString
        spark.range(1).toDF("id").write.mode("overwrite").parquet(src)
        val schema = spark.read.parquet(src).schema
        (1 to 3).map { i =>
          val t0 = System.nanoTime()
          val q = spark.readStream.schema(schema).parquet(src)
            .writeStream.outputMode("append")
            .format("memory").queryName(s"bench_hprobe_$i")
            .option("checkpointLocation", dir.resolve(s"ck$i").toString)
            .start()
          try q.processAllAvailable() finally q.stop()
          (System.nanoTime() - t0) / 1e9
        }.min
      } catch { case NonFatal(e) =>
        // -1.0 is the "probe broken" sentinel; log it so a permanently
        // failing probe is visible in the bench output, never silent
        System.err.println(s"[bench] harness-floor probe failed: $e")
        -1.0
      }
      finally Fs.deleteQuietly(dir)
    }
    // Per-query byte accounting ("measure, don't guess"): task-metric
    // totals for shuffle read and scan input, attributed to the query
    // running between two listener-bus drains. Bytes are plan-determined
    // (contention-immune, unlike wall time) — metered on the STEADY-STATE
    // second pass so one-time training/index I/O never charges the query.
    val meter = Meter(spark)
    val shuffleMb = collection.mutable.Map[String, Double]()
    val inputMb = collection.mutable.Map[String, Double]()
    // Per-query ACHIEVED PARALLELISM (r15 verdict #1): Σ executorCpuTime
    // ÷ wall over the metered steady-state pass. The three bracket-point
    // probes cannot attribute a sustained capacity shortfall across a
    // multi-minute run (the r15 driver run was 28% slower than the
    // committed record while its probes read HEALTHIER); this makes every
    // entry carry its own capacity evidence: a low cpu_par on an inflated
    // wall = the host withheld cores (wave / capacity era), a high
    // cpu_par on an inflated wall = the plan actually did more work.
    // Caveats a reader needs: executorCpuTime meters TASK cpu only
    // (driver-side work — artifact trains, bounded collects, streaming
    // coordination — shows as low cpu_par with an idle-host wall), and
    // scheduling gaps between stages depress it; compare entries to their
    // own history, not to 32.
    val cpuPar = collection.mutable.Map[String, Double]()
    // A failed run is reported as -1, never as a near-zero success.
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      try Meter.timeIsolated(fn(spark, sfDir))
      // Throwable, not NonFatal: a deep Catalyst plan can throw
      // StackOverflowError, and one entry must not abort the run
      catch { case t: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
        -1.0
      }
    // a failed query records -1 sentinels in every per-query map, not
    // the truncated run's bytes
    def failed(name: String): Double = {
      shuffleMb(name) = -1.0; inputMb(name) = -1.0; cpuPar(name) = -1.0
      -1.0
    }
    // `once` plus byte attribution
    def onceMetered(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val (t, u) = meter.run(once(name, fn))
      if (t < 0) failed(name)
      else {
        shuffleMb(name) = u.shuffleMb
        inputMb(name) = u.inputMb
        cpuPar(name) = if (t > 0) u.cpuNs / 1e9 / t else -1.0
        t
      }
    }
    // Two INTERLEAVED passes over the whole suite, per-query min: pass 1
    // absorbs JIT/codegen warmup (first touch of each operator family in
    // the shared JVM), pass 2 is steady state. Interleaving — rather than
    // back-to-back runs of the same query — separates a query's two
    // samples by the full suite duration, so a transient host-contention
    // window (the r02/r04 pattern: one query's min inflated 5-20× with an
    // unchanged calibration probe) cannot poison both samples of one query.
    val queries = SparkEntry.queries
    val names = queries.keys.toSeq
    // pass 1 is the warmup/cold pass — byte metering waits for pass 2 so
    // trained-artifact queries record their STEADY-STATE footprint (a cold
    // ArtifactStore would otherwise charge one-time training I/O to the
    // query and make cold/warm hosts look like plan regressions)
    val pass1 = names.map(n => n -> once(n, queries(n))).toMap
    val loadMid = loadavg()
    val probeMid = cpuProbe()
    val pass2 = names.map { n =>
      n -> (if (pass1(n) < 0) failed(n) else onceMetered(n, queries(n)))
    }.toMap
    // Auto-rerun (r14 verdict #1c): when the STEADY pass reads >2× the
    // COLD pass, pass 2 was very likely taken inside a contention wave —
    // take ONE more sample and let the min stand. The opposite direction
    // (pass1 ≫ pass2) is ordinary JIT/codegen warmup and the min already
    // stands on pass 2 — the first smoke run flagged 90/264 entries that
    // way, all useless reruns. The 0.3 s floor keeps sub-second jitter
    // from triggering.
    val flagged = names.filter { n =>
      val a = pass1(n); val b = pass2(n)
      a >= 0 && b >= 0 && b >= 0.3 && b > 2.0 * a
    }.sorted
    val pass3 = flagged.map(n => n -> once(n, queries(n))).toMap
    val results = names.map { n =>
      // Only pass1/pass2 failures mark a query failed: a flagged entry
      // already holds two VALID samples, and its rerun runs by definition
      // under wave suspicion — a transient rerun failure (timeout/OOM
      // inside the same wave) must not flip an otherwise-clean record to
      // failures>0 / total_comparable=false (ADVICE r15). A failed rerun
      // stays visible as its -1 in the `rerun` map.
      val base = Seq(pass1(n), pass2(n))
      n -> (if (base.exists(_ < 0)) -1.0
      else (base ++ pass3.get(n).filter(_ >= 0)).min)
    }.toMap
    val loadEnd = loadavg()
    val probeEnd = cpuProbe()
    val probes = Seq(probeStart, probeMid, probeEnd)
    // calibration = the MEDIAN 32-way probe wall (three probes bracket
    // the run; median rejects one probe landing inside a wave edge)
    val calibration = probes.map(_.wallSec).sorted.apply(1)
    // SORTED keys: the results file is the full per-query record (all
    // entries, not just the slowest 10), and key-sorted rendering makes
    // round-over-round diffs line up query-by-query (a hash-ordered map
    // reshuffles every run and defeats `diff`).
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) =>
      s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val failures = results.count(_._2 < 0)
    val total = results.values.filter(_ >= 0).sum
    // totals LEAD the line and the per-query map trails it, so a
    // tail-truncated capture still keeps every headline metric; the full
    // line is also written to the results file as the lossless record
    // (the r5 artifact lost its leading fields to truncation), one file
    // per core count so an 8-core run never overwrites the 32-core one.
    val resultsFile = s"bench_results_c$cpus.json"
    def mbMap(m: collection.Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        s"\"" + k + "\":" + math.round(v * 10) / 10.0 }.mkString("{", ",", "}")
    // CALIBRATION-ADJUSTED seconds (t ÷ calibration, i.e. "how many
    // calibration probes long"): the r12↔r11 totals were confounded by a
    // 1.7× rig-load delta that had to be decomposed by hand — recording
    // both units makes round-over-round diffs rig-independent. -1
    // failure sentinels pass through un-normalized.
    val calAdjTotal = math.round(total / calibration * 1000) / 1000.0
    val calAdj = results.toSeq.sortBy(_._1).map { case (k, v) =>
      val adj = if (v < 0) -1.0 else math.round(v / calibration * 1000) / 1000.0
      s"\"" + k + "\":" + adj }.mkString("{", ",", "}")
    // Host-state object: every field a reader needs to decide "wave or
    // regression" WITHOUT access to the live host — loadavg at the three
    // bracket points, the three 32-way probe walls (the calibration
    // inputs), achieved parallelism (~cpus calm), and the /proc/stat
    // steal/idle percentages over each probe window.
    def ja(vs: Seq[Double]): String = vs.map(r3).mkString("[", ",", "]")
    val host = s"""{"cpus":$probeThreads,"loadavg_start":"$loadStart","loadavg_mid":"$loadMid","loadavg_end":"$loadEnd","cpu_probe_wall_sec":${ja(probes.map(_.wallSec))},"cpu_probe_parallelism":${ja(probes.map(_.parallelism))},"steal_pct":${ja(probes.map(_.stealPct))},"idle_pct":${ja(probes.map(_.idlePct))},"calibration_scalar":${r3(calibrationScalar)}}"""
    def passMap(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val flaggedJson = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    // total_comparable: false whenever ANY query failed — the total then
    // silently excludes the failed queries' time and must not be compared
    // against a clean round's record (the r9 lesson: 14 failures made a
    // 106s total look like an improvement over r8's 117s).
    // cpu_par rounds to 2dp (a parallelism reading, not a timing)
    def parMap(m: collection.Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        s"\"" + k + "\":" + math.round(v * 100) / 100.0 }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","failures":$failures,"total_comparable":${failures == 0},"calibration":${r3(calibration)},"cal_adjusted_total":$calAdjTotal,"harness_floor_sec":$harnessFloor,"sf":"$sfDir","host":$host,"flagged_rerun":$flaggedJson,"queries":$qs,"pass1":${passMap(pass1)},"pass2":${passMap(pass2)},"rerun":${passMap(pass3)},"cal_adjusted":$calAdj,"shuffle_mb":${mbMap(shuffleMb)},"input_mb":${mbMap(inputMb)},"cpu_par":${parMap(cpuPar)}}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(resultsFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case NonFatal(t) =>
      System.err.println(s"[bench] could not write $resultsFile: $t") }
    println(line)
    // The LAST stdout line is a COMPACT headline — totals only, NO per-query
    // map. The r8 record proved a 145-entry map (~6 KB) overflows a
    // tail-bounded capture, which then sees only the line's END and cannot
    // parse it ("parsed": null). The 10 slowest entries ride along (bounded
    // size) as the perf signal; the lossless per-query record is the line
    // above + the results file.
    // The subset key is "slowest" (NOT "queries") so a stale parser that
    // expects the full per-query map fails loudly instead of silently
    // computing totals from 10 of 145 entries. The headline also lands in
    // its own small file: under `sbt -batch runMain` stdout lines carry an
    // `[info] ` prefix and `[success] …` trails them, so a tail-capture
    // may never see the bare JSON as the literal last line (r9 evidence:
    // "parsed": null) — a file read is prefix- and truncation-proof.
    val slowestEntries = results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(10)
    val slowest = slowestEntries
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // PER-QUERY seconds as ONE compact JSON line of their own (r17 verdict
    // #2): the driver's tail capture truncated mid-way through the full
    // record line above (7 per-query maps ≈ 50 KB), so its round-over-round
    // per-query diff came up empty (PERF_r17 n_common=0). This line carries
    // ONLY the {name: sec} map (3dp — ~6 KB for 268 entries, the r8
    // tail-capture bound), key-sorted like every other per-query record,
    // with the same headline totals so a parser looking for
    // value/unit/queries/sf finds them all in one bounded line. Its metric
    // key is "per_query", so "total" names only the full record above and
    // the headline below.
    println(s"""{"metric":"per_query","value":$total,"unit":"sec","failures":$failures,"total_comparable":${failures == 0},"sf":"$sfDir","queries":${passMap(results)}}""")
    // capacity evidence rides WITH the perf signal: each slowest entry's
    // steady-pass cpu_par, so a tail-capture reader can tell "host
    // withheld cores" from "plan did more work" without the full record
    val slowestPar = slowestEntries.map { case (k, _) =>
      s"\"" + k + "\":" + math.round(cpuPar.getOrElse(k, -1.0) * 100) / 100.0
    }.mkString("{", ",", "}")
    // the headline stays tail-capture-small: flagged entries ride as a
    // COUNT here (the full list is in the results file — a pathological
    // run could flag dozens and blow the bounded-size guarantee)
    val headline = s"""{"metric":"total","value":$total,"unit":"sec","failures":$failures,"total_comparable":${failures == 0},"calibration":${r3(calibration)},"cal_adjusted_total":$calAdjTotal,"harness_floor_sec":$harnessFloor,"sf":"$sfDir","host":$host,"flagged_rerun_n":${flagged.size},"n_queries":${results.size},"slowest":$slowest,"slowest_cpu_par":$slowestPar,"queries_file":"$resultsFile"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_headline.json"),
      (headline + "\n").getBytes("UTF-8"))
    catch { case NonFatal(t) =>
      System.err.println(s"[bench] could not write bench_headline.json: $t") }
    println(headline)
    spark.stop()
  }
}
