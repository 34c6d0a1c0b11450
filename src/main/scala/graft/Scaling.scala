package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling-curve harness: runs the bench-heavy DATA-BOUND
  * entries on deterministic 1×/10×/30× synthetic corpora and records
  * wall-time + shuffle-byte ratios in SCALING.md — near-linear ratios
  * certify the "would survive 100×" plan arguments with measurements
  * instead of reasoning (streaming entries are excluded by design: their
  * cost is the micro-batch latency floor × batch count, not data volume).
  *
  * Corpus construction (all seeded arithmetic — reproducible bit-for-bit):
  *  - events 10×: ten id-shifted copies of the sf0.1 events (user/event
  *    ids offset per copy so key cardinality grows 10× while per-user
  *    density is unchanged; ts jittered +7s per copy so same-second tie
  *    populations stay comparable).
  *  - documents: regenerated at BOTH scales by one generator (tokens
  *    drawn from the sf0.1 vocabulary via a frequency-weighted slot
  *    table + per-(doc,pos) hash, doc lengths copied from the real
  *    corpus, exact duplicates planted at 3%) — comparing real-1× to
  *    synthetic-10× would confound scale with corpus character, so both
  *    scales are synthetic and only N changes.
  *
  * Usage: `sbt "runMain graft.Scaling [sf01Dir] [workDir]"`.
  */
object Scaling {
  /** Data-bound heavy entries (events-only or documents-only inputs).
    *
    * ORDER IS A MEASUREMENT DECISION (r14): a long multi-query JVM ages
    * at the JIT level — after ~100 heavy runs the most CPU-bound cells
    * measure 3–5× their fresh-JVM cost on IDENTICAL data with heap,
    * storage memory, persistent RDDs and code cache all gauged clean
    * (the classic shared-call-site profile-pollution signature: only
    * per-row CPU paths degrade, shuffle-bound rows are unaffected; the
    * 8g→32g heap fix and the checkpoint releases removed the MEMORY
    * aging, this residual is not memory). Queries whose big cells are
    * per-row CPU-bound therefore measure FIRST, in the youngest JVM
    * state; per-query measurement is independent so order carries no
    * other meaning. Verified: ANN rows read 21–26 s when measured after
    * the full prefix vs 3.8–6.8 s measured early/filtered. */
  val ScaleQueries: Seq[String] = Seq(
    // CPU-bound big cells first (the aging-sensitive class): the ANN
    // family's MAC/lookup loops, prefix-filter verification, winnowing
    // fingerprint selection
    "q_hard_negatives_ann", "q_hard_negatives_ann_pq",
    "q_semdedup", "q_margin_pairs", "q_hybrid_search",
    "q_media_neardups", // per-row codec CPU + banded candidate join
    "q_media_dup_classes", // the distinct-hash-sized class report
    "q_jaccard_prefix", "q_winnowing", "q_winnowing_pairs",
    // events-bound (q_pagerank retired in r13 — the exact twin remains)
    "q_pagerank_exact", "q_kcore", "q_bfs_hops",
    "q_session_concurrency", "q_profile_events", "q_equidepth_histogram",
    "q_rolling_user_revenue",
    // documents-bound
    "q_prf_expansion", "q_textrank_keywords",
    "q_dup_clusters_star", "q_cluster_keepers", "q_jaccard_curve",
    "q_ngram_jaccard", "q_kn_continuations",
    "q_containment_pairs", "q_tfidf_pairs", "q_hits_exact",
    "q_peak_concurrency", "q_leakage_safe_split",
    "q_dup_substring_spans")

  /** Measured scales: 1× is the baseline, 10× the first decade, 30× the
    * second (r11 verdict: at 10× the 1× baseline under-utilizes 32 cores,
    * compressing t ratios — another ~decade separates overhead
    * amortization from genuine sub-linearity). */
  private val Scales = Seq(1, 10, 30)
  private val DupRate = 33 // ~3% planted exact duplicates: doc_id % 33 == 1

  def main(args: Array[String]): Unit = {
    val sf01 = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val work = args.lift(1).getOrElse("/tmp/graft-scaling")
    // optional third arg: query-name regex for fast dev iteration (the
    // graft.Verify precedent). A FILTERED run prints measurements but
    // never rewrites SCALING.md and skips the sparse/90×/diagnosis
    // sections — partial tables must not masquerade as the full record.
    // TWO LITERAL VALUES are special single-section modes instead:
    // `dim768` (the ADC-vs-exact crossover at the PQ route's claimed
    // dimensionality) and `retrieval1000` (BM25 at a realistic |Q|) —
    // each measures ONLY its experiment and surgically updates ONLY its
    // own SCALING.md section; full runs PRESERVE those sections verbatim
    // (they are deliberately measured in dedicated young-JVM runs — the
    // r14 JIT-aging lesson — and re-measuring them late in a full run
    // would record aged numbers).
    val mode = args.lift(2)
    val special = mode.exists(m => m == "dim768" || m == "retrieval1000")
    val filter = if (special) Some("(?!x)x".r) else mode.map(_.r)
    val filtered = filter.isDefined
    // the 30×/90× cells age an 8g heap into GC-bound measurements (the
    // r14 bisection); fail loudly instead of recording poisoned curves
    require(Runtime.getRuntime.maxMemory > (24L << 30),
      "graft.Scaling needs a large heap: rerun with SPARK_DRIVER_MEM=32g " +
        s"(max heap is ${Runtime.getRuntime.maxMemory >> 20} MiB)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dirs = Scales.map(c => c -> s"$work/x$c").toMap
    Scales.foreach(c => generate(spark, sf01, dirs(c), copies = c))

    // shuffle meter (Bench's, read for shuffle only): BYTES are
    // serialized+compressed, RECORDS are logical rows — a bytes ratio
    // above the records ratio is a compression-density artifact (bigger
    // key spaces compress worse), not extra plan work
    val meter = Meter(spark)

    val queries = SparkEntry.queries
    // interleaved two-pass min per (query, scale), shuffle metered on the
    // steady-state pass (the Bench discipline)
    case class M(sec: Double, shuffleMb: Double, records: Long)
    // the steady-state pass: `b` metered, the wall the min with `a`
    def steady(a: Double, b: => Double): M = {
      val (t, u) = meter.run(b)
      M(math.min(a, t), u.shuffleMb, u.shuffleReadRecords)
    }
    def measure(name: String, dir: String): M = {
      def once(): Double = {
        // cross-query isolation (r14, MEASURED; Meter.isolate): it runs
        // OUTSIDE the timed region, so it removes harness-ordering
        // interference and does not subsidize the query. (The JIT-level
        // aging residual is handled by ScaleQueries' measurement ORDER —
        // see its scaladoc.)
        Meter.isolate()
        val rt = Runtime.getRuntime
        System.err.println(f"[scalmem] $name%-26s $dir%-24s " +
          f"storage=${org.apache.spark.sql.graft.ColumnBridge
            .storageMemoryUsedBytes / 1e6}%9.1fMB " +
          f"live=${(rt.totalMemory - rt.freeMemory) / 1e6}%9.1fMB " +
          f"rdds=${spark.sparkContext.getPersistentRDDs.size}%4d")
        Meter.wallOf(queries(name)(spark, dir))
      }
      steady(once(), once())
    }
    val results = ScaleQueries
      .filter(n => filter.forall(_.findFirstIn(n).isDefined))
      .map { n =>
        val ms = Scales.map(c => c -> measure(n, dirs(c))).toMap
        System.err.println(f"[scaling] $n%-28s " + Scales.map(c =>
          f"x$c ${ms(c).sec}%6.2fs ${ms(c).shuffleMb}%8.1fMB").mkString("  "))
        (n, ms)
      }

    // ---- single-section experiments (r15 verdict #3/#6) -------------
    // Interleaved two-pass measurement over a SECTION's whole cell list
    // with bracketing host probes (r16): two dim768 runs on byte-
    // identical plans measured wall swings of 2–3× and even flipped the
    // route ORDER — back-to-back per-cell passes let one multi-minute
    // contention wave poison both samples of a cell (the r02/r04
    // lesson, at section scale). Pass 1 walks every cell cold; pass 2
    // re-walks metered; a cell's two samples are separated by the full
    // section walk, the per-cell wall is the min, and three latched
    // 32-way probes land IN the section text so a reader can judge the
    // run's capacity era without access to the live host (the r15 bench
    // discipline extended to Scaling).
    def measureCells[K](cells: Seq[(K, () => DataFrame)],
        show: K => String): (Map[K, M], String) = {
      val nThreads = cpus
      val p0 = HostProbe.run(nThreads)
      val pass1 = cells.map { case (k, th) => k -> Meter.timeIsolated(th()) }.toMap
      val pMid = HostProbe.run(nThreads)
      val out = cells.map { case (k, th) =>
        val m = steady(pass1(k), Meter.timeIsolated(th()))
        System.err.println(f"[scaling] ${show(k)}%-40s ${m.sec}%6.2fs " +
          f"${m.shuffleMb}%8.1fMB (cold ${pass1(k)}%.2fs)")
        k -> m
      }.toMap
      val p1 = HostProbe.run(nThreads)
      val host = Seq(p0, pMid, p1).map(p =>
        f"${p.wallSec}%.2f s · ${p.parallelism}%.1f-way · " +
          f"${p.idlePct}%.0f%% idle").mkString("; ")
      (out, s"Host probes bracketing this run ($nThreads-thread " +
        s"latched wall · achieved parallelism · idle): $host. Walls are " +
        "per-cell minima over two passes interleaved across the whole " +
        "section; cross-run wall comparisons are meaningful only at " +
        "similar probe readings — bytes and records are " +
        "plan-determined and stable.")
    }
    val Dim768Header = "ADC-vs-exact crossover at dim 768 (the PQ route's claimed domain)"
    val Retrieval1000Header = "Retrieval at realistic query load (|Q| = 1000)"
    // sparse-vocab corpus generator, shared by the prefix-filter
    // crossover section (full runs) and the retrieval1000 special mode
    def ensureSparse(): Unit = {
      val sparseDir = s"$work/sparse"
      val sparseRoot = java.nio.file.Paths.get(sparseDir)
      if (java.nio.file.Files.exists(sparseRoot.resolve("_done"))) return
      java.nio.file.Files.createDirectories(sparseRoot)
      import spark.implicits._
      val nDocs = 100000
      val share = 200 // block df ABOVE the 64 cap: visible only uncapped
      spark.range(nDocs).select(col("id").as("doc_id"))
        .as[Long].map { id =>
          val block = (0 until 15).map(p => s"b${id / share}x$p")
          val uniq = (0 until 25).map(p => s"d${id}u$p")
          // planted exact duplicate of the predecessor every 33rd doc
          val toks =
            if (id % 33 == 1 && id > 0)
              (0 until 15).map(p => s"b${(id - 1) / share}x$p") ++
                (0 until 25).map(p => s"d${id - 1}u$p")
            else block ++ uniq
          val text = toks.mkString(" ")
          (id, text, "en", s"src${id % 3}", text.length.toLong)
        }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$sparseDir/documents.parquet")
      java.nio.file.Files.writeString(sparseRoot.resolve("_done"), "ok")
    }
    def generateDim768(dir: String, n: Long): Unit = {
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root.resolve("_done"))) return
      java.nio.file.Files.createDirectories(root)
      // per-(vec_id, component) seeded hash → floats in [-1, 1]; int
      // labels 0..9 (the testdata embeddings schema); realistic file
      // counts (the r12 layout rule)
      spark.range(n).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 767), i -> " +
          "CAST((pmod(hash(id, i), 2001) - 1000) / 1000.0E0 AS FLOAT))")
          .as("embedding"),
        pmod(hash(col("id")), lit(10)).as("label"))
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      java.nio.file.Files.writeString(root.resolve("_done"), "ok")
    }
    def dim768Body(): String = {
      val dd = Seq(1 -> s"$work/d768x1", 30 -> s"$work/d768x30")
      generateDim768(dd(0)._2, 2000)
      generateDim768(dd(1)._2, 60000)
      // the ABOVE-cap ADC shape (r15 verdict #3): same artifacts, same
      // pipeline, broadcast switch forced OFF (cap 0) — the equi-join
      // fallback whose curve is the one that matters at 100 TB, where
      // the index never fits the node. Artifacts load via the durable
      // ArtifactStore L2 (trained once by the below-cap rows).
      def pqAboveCap(dir: String): DataFrame = {
        val emb = ingest.Sources.table(spark, dir, "embeddings")
        val cells = math.max(16, math.sqrt(emb.count().toDouble).toInt)
        val cents = sink.ArtifactStore.ivfCentroids(
          spark, dir, s"ivf-c$cells-s42")(
          ext.Similarity.trainIvfCentroids(emb, cells))
        val ks = ext.Similarity.maxSupportedKsub(emb)
        val cbs = sink.ArtifactStore.pqCodebooks(
          spark, dir, s"pq-m16-k$ks-s42")(
          ext.Similarity.trainPqCodebooks(emb, ksub = ks))
        ext.Similarity.hardNegativesAnnPq(emb, cents, cbs,
          broadcastCapBytes = 0L)
      }
      // family extension (r15 verdict #6): the other dim-generic
      // embedding entries carried dim-64-only records — measure the
      // N^1.5 SemDeDup prune and the int8 serving route at dim 768 too
      val routes = Seq("q_hard_negatives_ann", "q_hard_negatives_ann_pq",
        "q_semdedup", "q_knn_int8")
      val AboveCap = "q_hard_negatives_ann_pq (above-cap)"
      // r17 (VERDICT r16 #7): the retrieval stack's embedding half at
      // dim 768 — hybridSearch's BM25 side reads the SCALE-matched dense
      // document corpus, its cosine side the dim-768 embeddings (the
      // constants-bounded HybridQueryIds exist in both id spaces); the
      // query-term table trains UNTIMED at defs construction
      val Hybrid = "q_hybrid_search (dim-768 cosine side)"
      val allRows = routes ++ Seq(AboveCap, Hybrid)
      val hybridCells: Seq[((String, Int), () => DataFrame)] =
        for ((c, d) <- dd) yield {
          val docs = spark.read.parquet(s"${dirs(c)}/documents.parquet")
          val qt = graft.ext.Retrieval.trainHybridQueryTerms(docs)
          ((Hybrid, c), () => graft.ext.Retrieval.hybridSearch(docs,
            ingest.Sources.table(spark, d, "embeddings"), qt))
        }
      val cells: Seq[((String, Int), () => DataFrame)] =
        (for (r <- routes; (c, d) <- dd)
          yield ((r, c), () => queries(r)(spark, d))) ++
          (for ((c, d) <- dd) yield ((AboveCap, c), () => pqAboveCap(d))) ++
          hybridCells
      val (m, hostLine) = measureCells[(String, Int)](cells,
        k => s"d768 ${k._1} x${k._2}")
      val b = new StringBuilder
      b.append("The PQ-ADC route (`q_hard_negatives_ann_pq`) exists to ")
      b.append("bound the exact IVF route's full-dimension re-rank; at ")
      b.append("the testdata's dim 64 the ADC win is structurally modest ")
      b.append("(64 MACs vs 16 lookups). This section measures BOTH ")
      b.append("routes at the route's claimed domain — dim 768 — on a ")
      b.append("seeded synthetic corpus (per-(vec_id, component) hash ")
      b.append("floats in [-1, 1], int labels 0–9, 32-file layout) at ")
      b.append("the main table's N: 2,000 (1×) and 60,000 (30×). Each ")
      b.append("route trains its own per-dir artifacts (IVF cells = √N; ")
      b.append("PQ m=16 → 48-dim subspaces, ksub=32). The above-cap row ")
      b.append("re-runs the PQ route with the broadcast switch forced ")
      b.append("OFF (cap 0) — the equi-join fallback that governs at ")
      b.append("100 TB where the index never fits the node; q_semdedup ")
      b.append("and q_knn_int8 extend the dim-768 record to the rest of ")
      b.append("the dim-generic embedding family. Measured in a ")
      b.append("dedicated single-section run (`runMain graft.Scaling ")
      b.append("<sf01> <work> dim768`) — young-JVM numbers; full runs ")
      b.append("preserve this section verbatim.\n\n")
      b.append("| route | t(1×) s | t(30×) s | sh(1×) MB | sh(30×) MB |\n")
      b.append("|---|---|---|---|---|\n")
      allRows.foreach { r =>
        b.append(f"| $r | ${m((r, 1)).sec}%.2f | ${m((r, 30)).sec}%.2f | ")
        b.append(f"${m((r, 1)).shuffleMb}%.1f | ${m((r, 30)).shuffleMb}%.1f |\n")
      }
      val ex = m(("q_hard_negatives_ann", 30)).sec
      val pq = m(("q_hard_negatives_ann_pq", 30)).sec
      val ac = m((AboveCap, 30))
      b.append("\n")
      b.append(
        if (pq < ex)
          f"Measured: the crossover is REAL at dim 768/30× — the ADC " +
            f"route runs ${ex / pq}%.1f× faster than the exact route " +
            f"($pq%.2f s vs $ex%.2f s). At 64 MACs/candidate the exact " +
            "route competes; at 768 the full-dimension re-rank dominates " +
            "and the m=16 table lookups win — the route's scale claim " +
            "stands at its stated dimensionality.\n"
        else
          f"Measured BEHIND at dim 768/30× in THIS run: the ADC route " +
            f"read ${pq / ex}%.1f× slower ($pq%.2f s vs $ex%.2f s). " +
            "Read the host-probe line below before concluding: at " +
            "similar calm probe readings this demotes the route's " +
            "claim (prefer the exact IVF route); under degraded or " +
            "unequal probes, re-measure in a calm window — the bytes " +
            "columns, which are plan-determined, still favor the ADC " +
            "route.\n")
      val exM = m(("q_hard_negatives_ann", 30))
      b.append(
        f"\nAbove-cap fallback at 30×: ${ac.sec}%.2f s / " +
          f"${ac.shuffleMb}%.1f MB vs the broadcast plan's " +
          f"${m(("q_hard_negatives_ann_pq", 30)).shuffleMb}%.1f MB — the " +
          "delta is the honest refine cost: the N·C pair frame must " +
          "meet full-precision vectors somewhere, and with nothing " +
          "broadcastable that is N·C·dim floats through ONE exchange " +
          "(the data-movement equivalent of the N·C MACs — structural, " +
          "linear in N). The shape stays equi-join/AQE-splittable " +
          "(plan-pinned in SimilaritySpec), never BNLJ. " +
          (if (ac.sec < exM.sec)
            f"Even exchange-shaped the route beats the exact plan's " +
              f"${exM.sec}%.2f s — the crossover survives losing the " +
              "broadcast.\n"
          else
            f"At this N the refine exchange DOMINATES: above-cap ADC " +
              f"loses to the exact route (${exM.sec}%.2f s / " +
              f"${exM.shuffleMb}%.1f MB) on both wall and bytes, because " +
              "the exact route scores inside the cell join map-side and " +
              "ships only the nProbe-replicated corpus (N·nProbe·dim), " +
              "less than C = 64 pair-vectors per query. HONEST " +
              "consequence for 100 TB: the ADC route's edge above the " +
              "cap is CPU-regime-dependent (it trades N^1.5 full-dim " +
              "MACs for lookups but pays N·C·dim refine bytes); when " +
              "the index cannot fit the node AND the network is the " +
              "scarce resource, prefer the exact IVF route or shrink C.\n"))
      val hy1 = m((Hybrid, 1)); val hy30 = m((Hybrid, 30))
      b.append(
        f"\nRetrieval-stack row (r17): q_hybrid_search's cosine half at " +
          f"dim 768 — ${hy1.sec}%.2f s (1×) → ${hy30.sec}%.2f s (30×), " +
          f"shuffle ${hy30.shuffleMb}%.1f MB at 30×. The cosine side is " +
          "the batchKnn shape (constants-bounded query vectors " +
          "broadcast, ONE linear corpus scan, bounded-heap top-k): " +
          "12× the per-row MAC cost of dim 64, zero additional " +
          "exchange structure — the dim-generic scan-bound argument, " +
          "now measured for the last embedding consumer without a " +
          "dim-768 record.\n")
      b.append(
        f"\nFamily rows at dim 768: q_semdedup pays its N^1.5 pair mass " +
          "as CPU inside the cell-LOCAL pair expression (r17: the former " +
          "vector-carrying cell self-join — 1263 MB at 30× in the r16 " +
          "record, the board's largest shuffle — is now ONE collect_list " +
          "exchange shipping each vector once: " +
          f"${m(("q_semdedup", 30)).shuffleMb}%.1f MB at 30×; vector " +
          "bytes still scale with dim, the pair frame never exchanges " +
          "at all), wall " +
          f"${m(("q_semdedup", 30)).sec / m(("q_semdedup", 1)).sec}%.1f× " +
          "for 30× data. q_knn_int8's bounded-probe serving scan stays " +
          f"flat (${m(("q_knn_int8", 30)).sec}%.2f s, zero shuffle — " +
          "map-side byte MACs; int8 divides the vector bytes the other " +
          "rows move by 4).\n")
      b.append("\n").append(hostLine).append("\n")
      b.toString
    }
    def retrieval1000Body(): String = {
      import spark.implicits._
      // Query workloads: |Q| ∈ {5, 1000}, 4 seeded terms per query, on
      // two corpus regimes — the DENSE fixed-vocab main corpus (~31
      // tokens, every term matches ~everything: the posting filter's
      // WORST case) and the SPARSE corpus's block vocabulary (df = 200
      // per term: realistic audit-probe selectivity).
      def mkQueries(pool: IndexedSeq[String], nQ: Int): Seq[(Long, Seq[String])] =
        (1 to nQ).map { q =>
          val terms = (0 until 4).map(j =>
            pool((math.abs(q * 2654435761L + j * 40503L) % pool.size).toInt))
            .distinct
          (q.toLong, terms)
        }
      def queryTable(docs: DataFrame,
          qs: Seq[(Long, Seq[String])]): Seq[(Long, String, Long)] = {
        val terms = qs.flatMap(_._2).distinct
        val idf = graft.ext.Retrieval.trainBm25Idf(docs, terms).toMap
        qs.flatMap { case (q, ts) => ts.map(t => (q, t, idf(t))) }
      }
      val dense1 = spark.read.parquet(s"${dirs(1)}/documents.parquet")
      val dense30 = spark.read.parquet(s"${dirs(30)}/documents.parquet")
      val densePool = dense1.filter(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(256)
        .select("tok").as[String].collect().toIndexedSeq
      // sparse corpus block tokens: b{doc/200}x{p}, df = 200 each
      ensureSparse()
      val sparse = spark.read.parquet(s"$work/sparse/documents.parquet")
      val sparsePool = (0 until 500).flatMap(g =>
        (0 until 15).map(p => s"b${g}x$p")).toIndexedSeq
      // SPREAD-idf corpus (r17, VERDICT r16 #1): the dense COMMON
      // vocabulary (~26 tokens per doc from the 256-token pool) PLUS one
      // RARE marker token per doc, df = 200 (r{doc/200}) — the realistic
      // audit-probe mix where each query carries one high-idf selective
      // term and three low-idf common ones. This is the max-score
      // route's claimed pruning regime: the rare term's postings exhaust
      // at B = 256 (bound → 0) while the common terms' plateau bounds
      // alone stay BELOW the k-th candidate's rare-idf-dominated score,
      // so the strict certificate fires with the common postings
      // decidedly unexhausted — pre-exhaustion pruning, measured at the
      // dense corpus's 30× size.
      val nSpread = dense30.count()
      val spreadShare = 200L
      def ensureSpreadIdf(): Unit = {
        val dir = s"$work/spread-idf"
        val root = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(root.resolve("_done"))) return
        java.nio.file.Files.createDirectories(root)
        val poolArr = densePool.toArray
        spark.range(nSpread).select(col("id").as("doc_id")).as[Long]
          .map { id =>
            val len =
              24 + java.lang.Math.floorMod(id * 2654435761L, 17L).toInt
            val toks = (0 until len).map(p => poolArr(
              java.lang.Math.floorMod(id * 1000003L + p * 40503L,
                poolArr.length.toLong).toInt))
            val text = (toks :+ s"r${id / spreadShare}").mkString(" ")
            (id, text, "en", s"src${id % 3}", text.length.toLong)
          }.toDF("doc_id", "text", "lang", "source", "n_chars")
          .repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        java.nio.file.Files.writeString(root.resolve("_done"), "ok")
      }
      ensureSpreadIdf()
      val spreadDocs = spark.read.parquet(
        s"$work/spread-idf/documents.parquet")
      val nRare = math.max(1L, nSpread / spreadShare)
      def mkSpreadQueries(nQ: Int): Seq[(Long, Seq[String])] =
        (1 to nQ).map { q =>
          val rare = s"r${java.lang.Math.floorMod(q * 7919L, nRare)}"
          val commons = (0 until 3).map(j => densePool(
            (math.abs(q * 2654435761L + j * 48611L) % densePool.size).toInt))
          (q.toLong, (rare +: commons).distinct)
        }
      case class Cell(corpus: String, route: String, nDocs: Long, q: Int,
        m: M)
      // train every query table FIRST (untimed), then measure all cells
      // through the interleaved two-pass section walk; the max-score
      // route's driver certification loop runs inside the timed region
      val SpreadTag = "spread (1 rare df=200 + 3 common)"
      val spreadQt1000 = queryTable(spreadDocs, mkSpreadQueries(1000))
      val spreadQt5 = queryTable(spreadDocs, mkSpreadQueries(5))
      // certification diagnostics captured from the measured thunk (the
      // loop re-runs identically on both passes)
      @volatile var spreadDiag: graft.ext.Retrieval.PrunedDiag = null
      val spreadDefs = Seq(
        (SpreadTag, "exact", nSpread, 5,
          () => graft.ext.Retrieval.bm25Search(spreadDocs, spreadQt5)),
        (SpreadTag, "maxscore", nSpread, 5,
          () => graft.ext.Retrieval.bm25SearchPruned(spreadDocs, spreadQt5)),
        (SpreadTag, "exact", nSpread, 1000,
          () => graft.ext.Retrieval.bm25Search(spreadDocs, spreadQt1000)),
        (SpreadTag, "maxscore", nSpread, 1000, () => {
          val (df, d) = graft.ext.Retrieval.bm25SearchPrunedDiag(
            spreadDocs, spreadQt1000)
          spreadDiag = d
          df
        }))
      val defs = Seq(
        ("dense 1×", dense1, densePool),
        ("dense 30×", dense30, densePool),
        ("sparse (df=200 terms)", sparse, sparsePool)).flatMap {
        case (tag, docs, pool) =>
          val n = docs.count()
          Seq(5, 1000).flatMap { nQ =>
            val qt = queryTable(docs, mkQueries(pool, nQ))
            Seq((tag, "exact", n, nQ,
                () => graft.ext.Retrieval.bm25Search(docs, qt)),
              (tag, "maxscore", n, nQ,
                () => graft.ext.Retrieval.bm25SearchPruned(docs, qt)))
          }
      } ++ spreadDefs
      val (mm, hostLine) = measureCells[(String, String, Int)](
        defs.map { case (tag, route, _, nQ, th) =>
          ((tag, route, nQ), th) },
        k => s"bm25 ${k._2} ${k._1} |Q|=${k._3}")
      val cells = defs.map { case (tag, route, n, nQ, _) =>
        Cell(tag, route, n, nQ, mm((tag, route, nQ))) }
      val b = new StringBuilder
      b.append("`q_bm25_search`'s gate entry runs |Q| = 5 constant ")
      b.append("probes; a corpus-audit pass runs thousands. This section ")
      b.append("measures the SAME bm25Search plan at |Q| = 1000 (4 ")
      b.append("seeded terms per query, trained driver-side idf — the ")
      b.append("production shape) against the |Q| = 5 baseline, on the ")
      b.append("dense fixed-vocab corpus (every term matches ~77% of ")
      b.append("docs — the posting filter's worst case) and on the ")
      b.append("sparse corpus with df = 200 block terms (realistic probe ")
      b.append("selectivity) — and, since r16, the TA/max-score pruned ")
      b.append("EXACT top-k route (`q_bm25_maxscore`, hash-gated against ")
      b.append("the same oracle) on every cell. Measured in a dedicated ")
      b.append("single-section run ")
      b.append("(`runMain graft.Scaling <sf01> <work> retrieval1000`); ")
      b.append("full runs preserve this section verbatim.\n\n")
      b.append("| corpus | route | docs | \\|Q\\| | wall s | shuffle MB | shuffle rec |\n")
      b.append("|---|---|---|---|---|---|---|\n")
      cells.foreach { c =>
        b.append(f"| ${c.corpus} | ${c.route} | ${c.nDocs} | ${c.q} | ")
        b.append(f"${c.m.sec}%.2f | ${c.m.shuffleMb}%.1f | ${c.m.records} |\n")
      }
      def cell(tag: String, route: String, q: Int) =
        cells.find(c =>
          c.corpus == tag && c.route == route && c.q == q).get.m
      val dWall = cell("dense 30×", "exact", 1000).sec /
        cell("dense 30×", "exact", 5).sec
      val sWall =
        cell("sparse (df=200 terms)", "exact", 1000).sec /
          cell("sparse (df=200 terms)", "exact", 5).sec
      val dEx = cell("dense 30×", "exact", 1000)
      val dMs = cell("dense 30×", "maxscore", 1000)
      val dEx1 = cell("dense 1×", "exact", 1000)
      val dMs1 = cell("dense 1×", "maxscore", 1000)
      b.append(
        f"\nDiagnosis: the broadcast query-term table is NEVER the " +
          "binding term at |Q| = 1000 (4,000 rows ≈ tens of KB — " +
          "broadcast remains the right plan to |Q| ~ 10⁶ terms); the " +
          "cost driver is the MATCHED POSTING MASS Σ_q Σ_t df(t), i.e. " +
          "the per-(query, doc, term) tf aggregate. Measured: 200× more " +
          f"queries cost ${dWall}%.1f× wall on the dense worst case " +
          "(every term ~everywhere — the aggregate input grows ~|Q|·" +
          f"corpus) and ${sWall}%.1f× on the realistic-selectivity " +
          "corpus (posting mass |Q|·4·200 rows — the filter does its " +
          "job and the corpus tokenize pass dominates either way). At " +
          "100 TB the knob is term selectivity, not |Q|: rare-term " +
          "probes stay map-side-cheap at any |Q| the driver can " +
          "train.\n")
      b.append(
        f"\nThe max-score route (r16, the escape hatch the r15 " +
          "measurement demanded): per-(term, doc) contributions are " +
          "computed ONCE (|Q|-INDEPENDENT — the exact route's per-" +
          "(query, doc, term) aggregate fan-out never happens), per-term " +
          "impact-ordered prefixes bound every non-candidate's score " +
          "(Fagin-TA), and candidates are scored exactly — top-k-only " +
          "pruning that stays score-EXACT for the returned k, so it " +
          "rides q_bm25_search's oracle verbatim. Measured on the " +
          f"dense-worst-case |Q| = 1000 cell: ${dMs.sec}%.2f s / " +
          f"${dMs.shuffleMb}%.1f MB vs the exact route's " +
          f"${dEx.sec}%.2f s / ${dEx.shuffleMb}%.1f MB " +
          f"(${dEx.sec / dMs.sec}%.1f× wall); at 1×/|Q| = 1000 the " +
          f"shuffle drops ${dEx1.shuffleMb / math.max(dMs1.shuffleMb, 0.1)}%.1f× " +
          f"(${dEx1.shuffleMb}%.0f → ${dMs1.shuffleMb}%.0f MB — the " +
          "removed |Q| fan-out, visible before exhaustion traffic " +
          "enters). HONEST diagnosis of the limits: these synthetic " +
          "pools draw every query term from the COMMON vocabulary, and " +
          "near-uniform doc construction makes per-term contribution " +
          "distributions plateau at the top — so the strict certificate " +
          "(k-th best > Σ per-term prefix bounds) binds only near " +
          "posting exhaustion, and candidate mass approaches the " +
          "matched set: EXACT top-k with deterministic tiebreaks is " +
          "information-theoretically forced to consider ~every matching " +
          "doc when scores tie at the bound. On this corpus the two " +
          "routes therefore converge on the worst cell (any wall delta " +
          "is the |Q|-independent contribution pass vs certification-" +
          "loop overhead, not candidate pruning); the route's pruning " +
          "regime is score SPREAD (selective or idf-skewed query terms " +
          "— the gate corpus terminates in few rounds), and on " +
          "spread-free cells the exact route stays preferable (sparse " +
          "cells above). The adversarial limit degrades to the exact " +
          "route's equi-join shape (never a forced broadcast).\n")
      val spEx = cell(SpreadTag, "exact", 1000)
      val spMs = cell(SpreadTag, "maxscore", 1000)
      val d = spreadDiag
      b.append(
        f"\nThe SPREAD-idf cell (r17 — the pruning regime MEASURED at " +
          "scale, the r16 verdict's top ask): every query = one rare " +
          f"df-200 term + three common ones, over $nSpread%d docs of the " +
          "dense common vocabulary with one rare marker each. " +
          f"Certification diagnostics of the measured |Q| = 1000 run: " +
          f"rounds = ${d.rounds}, final prefix B = ${d.finalB}, " +
          f"certified by the STRICT bound with unexhausted terms = " +
          f"${d.byBound} — the certificate fired " +
          (if (d.byBound) "PRE-EXHAUSTION (the rare postings exhaust " +
            "at B ≥ 200 and zero out of τ; the common terms' plateau " +
            "bounds alone sit below the rare-idf-dominated k-th " +
            "candidate score while their postings remain live). "
          else "only via exhaustion in this run. ") +
          f"Measured: maxscore ${spMs.sec}%.2f s / ${spMs.shuffleMb}%.1f " +
          f"MB vs exact ${spEx.sec}%.2f s / ${spEx.shuffleMb}%.1f MB — " +
          f"${spEx.sec / math.max(spMs.sec, 0.01)}%.1f× wall, " +
          f"${spEx.shuffleMb / math.max(spMs.shuffleMb, 0.1)}%.1f× " +
          "shuffle. " +
          (if (d.byBound && spMs.sec < spEx.sec &&
              spMs.shuffleMb < spEx.shuffleMb)
            "The route's reason to exist is now measurement, not " +
              "argument: on skewed-idf probe mixes the pruned route " +
              "beats the exact one on wall AND shuffle at 30×/|Q| = " +
              "1000 with the certificate firing before exhaustion.\n"
          else
            "HONEST readout: the spread cell did not produce the " +
              "decisive pre-exhaustion win; the route's standing claim " +
              "remains the |Q|-independent contribution-pass shuffle " +
              "structure (see the dense cells above).\n"))
      b.append("\n").append(hostLine).append("\n")
      b.toString
    }
    // Section boundaries anchor to LINE STARTS (ADVICE r15): a verbatim
    // "## <header>" mention inside another section's prose, or a future
    // header extending this one's prefix, must not splice the file at the
    // wrong offset. A header "matches" only as a whole line.
    def sectionStart(content: String, header: String): Int = {
      val head = s"## $header"
      if (content.startsWith(head + "\n") || content == head) 0
      else {
        val i = content.indexOf(s"\n$head\n")
        val j = if (i < 0 && content.endsWith(s"\n$head")) content.length - head.length - 1 else i
        if (j < 0) -1 else j + 1
      }
    }
    def nextSectionAt(content: String, from: Int): Int =
      content.indexOf("\n## ", from)
    def upsertSection(header: String, body: String): Unit = {
      val p = java.nio.file.Paths.get("SCALING.md")
      val cur = if (java.nio.file.Files.exists(p))
        java.nio.file.Files.readString(p)
      else "# SCALING\n"
      val head = s"## $header"
      val start = sectionStart(cur, header)
      val chunk = s"$head\n\n${body.stripSuffix("\n")}\n"
      val updated = if (start < 0) cur.stripSuffix("\n") + s"\n\n$chunk"
      else {
        val next = nextSectionAt(cur, start + head.length)
        val tail = if (next < 0) "" else cur.substring(next + 1)
        cur.substring(0, start) + chunk + (if (tail.isEmpty) "" else "\n" + tail)
      }
      java.nio.file.Files.writeString(p, updated)
      println(s"[scaling] updated SCALING.md section: $head")
      println(body)
    }
    def extractSection(content: String, header: String): Option[String] = {
      val head = s"## $header"
      val start = sectionStart(content, header)
      if (start < 0) None
      else {
        val next = nextSectionAt(content, start + head.length)
        Some(if (next < 0) content.substring(start)
        else content.substring(start, next + 1))
      }
    }
    if (special) {
      if (mode.contains("dim768")) upsertSection(Dim768Header, dim768Body())
      else upsertSection(Retrieval1000Header, retrieval1000Body())
      spark.stop(); return
    }
    if (filtered) { spark.stop(); return }
    // full rewrites PRESERVE the single-section experiment records
    val preservedSections = {
      val p = java.nio.file.Paths.get("SCALING.md")
      val cur = if (java.nio.file.Files.exists(p))
        java.nio.file.Files.readString(p) else ""
      Seq(Dim768Header, Retrieval1000Header)
        .flatMap(extractSection(cur, _))
    }

    val md = new StringBuilder
    md.append(s"# SCALING — measured ${Scales.map(c => s"$c×").mkString(" / ")} curves\n\n")
    md.append("Generated by `graft.Scaling` (seeded synthetic corpus — see ")
    md.append("the scaladoc for construction; events 1× = the real sf0.1 ")
    md.append("rows id-shift-framed, documents synthetic at every scale). ")
    md.append(s"local[$cpus], two interleaved passes, per-cell min; ")
    md.append("shuffle MB metered on the steady-state pass.\n\n")
    md.append("Harness isolation (r14): r13's \"steepest curve\" ")
    md.append("(q_hard_negatives_ann, 21 s at 30× in the aged harness JVM ")
    md.append("vs 4.8 s fresh on identical data and artifacts) was a ")
    md.append("MEASUREMENT artifact, not IVF asymptotics. Bisection found ")
    md.append("TWO aging mechanisms in a long multi-query JVM: (a) G1 ")
    md.append("heap pressure on an 8g fork heap — fixed by a required ")
    md.append("32g Scaling heap (bench keeps 8g: at sf0.1 scale a 32g ")
    md.append("young gen taxes every query ~uniformly, +20 s suite total ")
    md.append("— both directions measured), ")
    md.append("deterministic release of superseded checkpoint ")
    md.append("blocks (ColumnBridge.releaseLocalCheckpoint; GraphSpec ")
    md.append("leak test), untimed pre-measurement GC, and status-store ")
    md.append("retention caps (Tuning.statusStoreRetention); and (b) a ")
    md.append("residual JIT-level aging that degrades ONLY per-row ")
    md.append("CPU-bound cells 3–5× after ~100 heavy runs while heap, ")
    md.append("storage memory and code cache all gauge clean (the ")
    md.append("shared-call-site profile-pollution signature; a cluster ")
    md.append("executor running one application's steady task mix does ")
    md.append("not exhibit this harness property). (b) is handled by ")
    md.append("MEASUREMENT ORDER: aging-sensitive CPU-bound rows measure ")
    md.append("first, in the youngest JVM state — per-query cells are ")
    md.append("independent, so order carries no other meaning.\n\n")
    md.append("A time ratio ≈ the data ratio (or below, when fixed ")
    md.append("per-query overhead amortizes) and a shuffle ratio ≈ the ")
    md.append("data ratio certify the linear-scale claim; iterative graph ")
    md.append("entries may exceed it on time when extra data adds ")
    md.append("propagation rounds — the shuffle ratio is the plan-shape ")
    md.append("signal. Ratios are vs 1×.\n\n")
    md.append("| query | t(1×) s | t(10×) s | t(30×) s | t r10 | t r30 | ")
    md.append("sh(1×) MB | sh(10×) MB | sh(30×) MB | sh r10 | sh r30 |\n")
    md.append("|---|---|---|---|---|---|---|---|---|---|---|\n")
    results.foreach { case (n, ms) =>
      def r(a: Double, b: Double) =
        if (a <= 0) "n/a" else f"${b / a}%.1f"
      val m1 = ms(1); val m10 = ms(10); val m30 = ms(30)
      md.append(f"| $n | ${m1.sec}%.2f | ${m10.sec}%.2f | ${m30.sec}%.2f | ")
      md.append(s"${r(m1.sec, m10.sec)} | ${r(m1.sec, m30.sec)} | ")
      md.append(f"${m1.shuffleMb}%.1f | ${m10.shuffleMb}%.1f | ${m30.shuffleMb}%.1f | ")
      md.append(s"${r(m1.shuffleMb, m10.shuffleMb)} | ${r(m1.shuffleMb, m30.shuffleMb)} |\n")
    }
    // --- prefix-filter crossover: SPARSE-vocab corpus ---------------
    // The main table's synthetic corpus is a FIXED 8k vocabulary — the
    // regime where prefix filtering is provably weakest (every shingle
    // is shared, so prefixes prune little and the route pays its window
    // + verify overhead). Real web corpora are the opposite: most
    // shingles are rare. This experiment measures both exact routes on
    // a corpus where each doc mixes a mid-frequency shared block
    // (shingle df ≈ 8 — inside the DF cap, so the naive join PAYS df²
    // candidates for them) with unique text (df = 1), plus planted
    // exact duplicates: block-sharers sit far below t = 1/2, so a
    // correct candidate scheme should never verify them — prefix
    // filtering doesn't (shared blocks rank AFTER the unique shingles
    // and never enter a prefix), the capped-naive join must.
    ensureSparse()
    val sparseDocs = spark.read.parquet(s"$work/sparse/documents.parquet")
    def measureOp(tag: String)(f: => Long): (Double, Double, Long) = {
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val (a, _) = once()
      val ((b, n), u) = meter.run(once())
      (math.min(a, b), u.shuffleMb, n)
    }
    val uncapped = Int.MaxValue
    val (pt, psh, ppairs) = measureOp("prefix")(
      graft.ext.Dedup.prefixJaccardPairs(sparseDocs, uncapped)
        .queryExecution.toRdd.count())
    val (nt, nsh, _) = measureOp("naive")(
      graft.ext.Dedup.ngramJaccardTopPairs(sparseDocs, k = 20, uncapped)
        .queryExecution.toRdd.count())
    val (ct, csh, _) = measureOp("capped-naive")(
      graft.ext.Dedup.ngramJaccardTopPairs(sparseDocs, k = 20)
        .queryExecution.toRdd.count())
    md.append("\n## Prefix filtering vs the DF cap (sparse-vocab corpus)\n\n")
    md.append("100k docs, each 15 shared block tokens (shingle df = 200 ")
    md.append("— ABOVE the 64 DF cap) + 25 unique tokens, ~3% planted ")
    md.append("exact duplicates. Block pairs sit far below t = 1/2. The ")
    md.append("DF cap is a RECALL-LOSSY knob (capped routes silently ")
    md.append("drop every shingle above it from the Jaccard universe); ")
    md.append("prefix filtering is what makes the UNCAPPED exact ")
    md.append("computation affordable — its candidate mass is bounded ")
    md.append("by each doc's RAREST shingles (here: the unique ones → ")
    md.append("only real near-dup pairs verify), while the uncapped ")
    md.append("naive join pays df² for every shared block shingle.\n\n")
    md.append("| route | wall s | shuffle MB |\n|---|---|---|\n")
    md.append(f"| q_jaccard_prefix UNCAPPED (exact ≥ t pairs: $ppairs) | $pt%.2f | $psh%.1f |\n")
    md.append(f"| naive top-k UNCAPPED (same exact universe) | $nt%.2f | $nsh%.1f |\n")
    md.append(f"| naive top-k capped at 64 (lossy universe) | $ct%.2f | $csh%.1f |\n\n")
    md.append(f"Measured uncapped wall ratio naive/prefix = ")
    md.append(f"${nt / pt}%.2f. On the fixed-vocab main-table corpus ")
    md.append("(every shingle shared corpus-wide BELOW the cap — the ")
    md.append("prefix scheme's documented worst case) the capped routes ")
    md.append("land within ~10% of each other; the prefix route's role ")
    md.append("is exactness at threshold WITHOUT the cap's recall loss, ")
    md.append("at rare-shingle cost.\n")

    // --- pair-family 90× point (VERDICT r13 #5): does the Σdf² ------
    // transient bend? The saturation analysis says capped-shingle
    // candidate mass grows ∝N² only until dfs cross the cap; measuring
    // one more decade-third shows whether the 46–50× shuffle ratios at
    // 30× are the transient mid-flight or a persisting super-linearity.
    val dir90 = s"$work/x90"
    generateDocs(spark, sf01, dir90, copies = 90)
    val pairFam = Seq("q_ngram_jaccard", "q_jaccard_curve",
      "q_containment_pairs", "q_dup_clusters_star", "q_jaccard_prefix")
    val byName = results.toMap
    val m90 = pairFam.map { n =>
      val m = measure(n, dir90)
      System.err.println(f"[scaling] $n%-28s x90 ${m.sec}%6.2fs ${m.shuffleMb}%8.1fMB")
      n -> m
    }.toMap
    md.append("\n## Pair-family 90× point (is the Σdf² transient bending?)\n\n")
    md.append("Data grows 3× from 30× to 90×; a shuffle step ratio near ")
    md.append("3 means the capped-shingle candidate mass has gone linear ")
    md.append("(dfs crossed the 64 cap), near 9 means the quadratic ")
    md.append("transient persists at this corpus size.\n\n")
    md.append("| query | sh(30×) MB | sh(90×) MB | sh step (data 3×) | ")
    md.append("t(30×) s | t(90×) s | t step |\n|---|---|---|---|---|---|---|\n")
    var bent = 0
    pairFam.foreach { n =>
      val s30 = byName(n)(30); val s90 = m90(n)
      val shStep = if (s30.shuffleMb > 0) s90.shuffleMb / s30.shuffleMb else -1
      val tStep = if (s30.sec > 0) s90.sec / s30.sec else -1
      if (shStep > 0 && shStep < 4.5) bent += 1
      md.append(f"| $n | ${s30.shuffleMb}%.1f | ${s90.shuffleMb}%.1f | ")
      md.append(f"$shStep%.1f | ${s30.sec}%.2f | ${s90.sec}%.2f | $tStep%.1f |\n")
    }
    md.append(
      if (bent >= pairFam.size - 1)
        "\nMeasured: the transient is BENDING — per-step shuffle growth " +
          "is near the data ratio at the 30×→90× step, confirming the " +
          "saturation analysis (dfs above the cap stop contributing new " +
          "pairs). The exact pair family remains the default at these " +
          "sizes; `q_minhash_neardups` (LSH banding) stays the documented " +
          "route once a corpus outgrows the measured envelope.\n"
      else
        "\nMeasured: the transient has NOT bent by 90× — per-step " +
          "shuffle growth still exceeds the data ratio. POLICY: beyond " +
          "the 30× envelope measured here, the LSH-banded " +
          "`q_minhash_neardups` route is the documented DEFAULT for " +
          "near-dup discovery and the exact pair family is opt-in (its " +
          "role is threshold-exact certification on bounded corpora); " +
          "the DF cap bounds the asymptote but not this transient.\n")

    // --- per-entry diagnosis (restored per VERDICT r13 #2; the table --
    // alone does not explain WHY a ratio is acceptable) ---------------
    // Every lookup here totals to "n/a" on ANY drift between the Queries
    // list and the diags map (the diag strings are built EAGERLY before
    // the byName.contains append-guard can skip them — an unguarded
    // byName(n) would crash a multi-hour full run at the very end,
    // before SCALING.md is written).
    def ratio(n: String, f: M => Double): String =
      byName.get(n).flatMap { m =>
        for (a <- m.get(1); b <- m.get(30) if f(a) > 0)
          yield f"${f(b) / f(a)}%.1f"
      }.getOrElse("n/a")
    def t30(n: String): String = ratio(n, _.sec)
    def sh30(n: String): String = ratio(n, _.shuffleMb)
    def rec30(n: String): String = ratio(n, _.records.toDouble)
    def shMb30(n: String): String =
      byName.get(n).flatMap(_.get(30)).map(m => f"${m.shuffleMb}%.0f")
        .getOrElse("n/a")
    val hitsRec = rec30("q_hits_exact"); val hitsSh = sh30("q_hits_exact")
    val diags: Seq[(String, String)] = Seq(
      "q_pagerank_exact" -> ("fixed-round edge-keyed join+agg; t r30 " +
        s"${t30("q_pagerank_exact")}, shuffle r30 ${sh30("q_pagerank_exact")} " +
        "(sub-linear: per-round shuffle is linear in edges, the 1× cell " +
        "carries fixed per-round overhead). Linear-safe."),
      "q_kcore" -> (s"iterative peel, t r30 ${t30("q_kcore")}; rounds are " +
        "data-dependent but the per-round shuffle is edge-linear " +
        s"(shuffle r30 ${sh30("q_kcore")} < data 30). Linear-safe."),
      "q_bfs_hops" -> (s"frontier joins, t r30 ${t30("q_bfs_hops")}, " +
        s"shuffle r30 ${sh30("q_bfs_hops")} — both at/below data. Fine."),
      "q_hits_exact" -> ("the r13 watch item (38.8× shuffle BYTES at 30× " +
        s"vs kcore/pagerank's ~18×). DIAGNOSIS: records r30 = $hitsRec " +
        s"vs bytes r30 = $hitsSh — when records track the data ratio " +
        "while bytes exceed it, the excess is COMPRESSION DENSITY (the " +
        "two-sided loop shuffles (id, score) pairs whose 30× id space " +
        "compresses worse per row), not extra plan work; HITS also pays " +
        "exactly 2× pagerank's per-round joins (hub+authority), which " +
        "explains the 2× absolute gap. Fixed rounds, per-round linear. " +
        "Fine."),
      "q_session_concurrency" -> ("rank sweep (r13 rewrite): overlap " +
        "COUNTS without overlap PAIRS; shuffle r30 " +
        s"${sh30("q_session_concurrency")} ≈ data ratio at ANY temporal " +
        "density (the retired pair route had grown 303k → 276M pairs " +
        "here). The certified O(N) shape."),
      "q_peak_concurrency" -> ("same tagged running-count sweep as " +
        s"session_concurrency (shared prologue); shuffle r30 " +
        s"${sh30("q_peak_concurrency")} ≈ data. Fine."),
      "q_profile_events" -> ("multi-distinct over md5 digests via Expand " +
        s"— shuffle is digests × column count, r30 ${sh30("q_profile_events")} " +
        "tracks data with the Expand constant. Fine."),
      "q_equidepth_histogram" -> (s"t r30 ${t30("q_equidepth_histogram")}: " +
        "two linear passes (quantile sketch + bucket counts). Fine."),
      "q_rolling_user_revenue" -> ("user-keyed window over day frames; " +
        s"shuffle r30 ${sh30("q_rolling_user_revenue")} linear-ish, hot " +
        "users bounded by calendar days. Fine."),
      "q_dup_clusters_star" -> ("pair generation rides the capped " +
        "inverted index (see the 90× section for the Σdf² transient); " +
        "the CC rounds themselves are pair-linear. Watch via the 90× " +
        "table, not this row."),
      "q_cluster_keepers" -> ("dup_clusters + per-cluster keeper " +
        s"selection; inherits the pair family's transient (sh r30 " +
        s"${sh30("q_cluster_keepers")}), wall stays sub-linear " +
        s"(t r30 ${t30("q_cluster_keepers")})."),
      "q_jaccard_curve" -> ("exact 5-gram pair curve — the Σdf² class; " +
        "see the 90× section."),
      "q_ngram_jaccard" -> ("same candidate mass as jaccard_curve; see " +
        "the 90× section."),
      "q_containment_pairs" -> ("directed containment on the same " +
        "inverted index; see the 90× section."),
      "q_winnowing" -> ("per-row CPU-bound fingerprint selection, " +
        s"shuffle ≈ 0 (r30 ${sh30("q_winnowing")} on MBs); scales with " +
        "input splits — the r12 file-granularity lesson is load-bearing " +
        "here."),
      "q_winnowing_pairs" -> ("MOSS cross-doc pairs over the winnowed " +
        "2/(w+1) fingerprint sample, DF-capped at 64: candidate mass is " +
        "Σdf² over SELECTED fingerprints only — measured sh r30 " +
        s"${sh30("q_winnowing_pairs")}, t r30 ${t30("q_winnowing_pairs")}; " +
        "same transient class as the Jaccard family at a ~2/(w+1) " +
        "sampling discount."),
      "q_kn_continuations" -> ("map-side partial distinct collapses the " +
        "bigram stream to the vocab²-bounded type set before the only " +
        s"exchange — t and shuffle FLAT (sh r30 ${sh30("q_kn_continuations")}). " +
        "The textbook 100 TB count statistic."),
      "q_tfidf_pairs" -> (s"df ≤ 64 candidates shrink as dfs rise with N " +
        s"— sh r30 ${sh30("q_tfidf_pairs")} stays well below data. Fine."),
      "q_jaccard_prefix" -> ("prefix-filtered UNCAPPED exact Jaccard — " +
        "its value is losslessness at threshold (see the sparse-vocab " +
        "crossover section); on this dense-vocab corpus it tracks the " +
        "capped family's transient. See the 90× section."),
      "q_hard_negatives_ann" -> ("IVF route: candidate mass N^1.5·nProbe " +
        "by construction (cells ∝ √N), every candidate exactly re-ranked " +
        s"at full dimension — t r30 ${t30("q_hard_negatives_ann")}, " +
        s"sh r30 ${sh30("q_hard_negatives_ann")} (sub-data: the scanned " +
        "fraction nProbe/cells shrinks with N). r13's 21.2× wall reading " +
        "was the harness-isolation artifact (header note), not IVF " +
        "asymptotics; the super-linear component that remains is the " +
        "candidate count itself."),
      "q_hard_negatives_ann_pq" -> ("bounds the exact route's full-dim " +
        "re-rank (its one super-linear CPU term): the IVF shortlist is " +
        "ADC-scored (memoized per-query LUT, m lookups per candidate " +
        "against 8-byte codes) and only the top-C per query is re-ranked " +
        "at full dimension — N^1.5 lookups + N·C MACs, gated by the " +
        s"generated ADC-replay mirror. t r30 " +
        s"${t30("q_hard_negatives_ann_pq")} / sh r30 " +
        s"${sh30("q_hard_negatives_ann_pq")} vs the exact route's t r30 " +
        s"${t30("q_hard_negatives_ann")}. r15 closed the r14 watch item " +
        "twice over: (a) the 548 MB @30× shortlist shuffle was the exact " +
        "RE-RANK re-exchanging the N·C pair frame with q_emb attached, " +
        "not the ADC join — a size-guarded broadcast of the codes index " +
        "and both re-rank vector sides (AdcBroadcastCapBytes) measured " +
        "it down to ~53 MB; (b) the dim-768 crossover section below " +
        "MEASURES the route ahead of the exact route at its claimed " +
        "dimensionality (at dim 64 the two are within ~10%), and since " +
        "r16 also records the forced ABOVE-cap fallback's curve."),
      "q_leakage_safe_split" -> ("dup_clusters + a cluster-atomic split " +
        "join; inherits the pair transient on candidate generation, the " +
        s"split itself is one hash join (t r30 ${t30("q_leakage_safe_split")})."),
      "q_dup_substring_spans" -> ("substring-level span inventory (r16): " +
        "candidate mass is the duplicated-WINDOW occurrence stream — " +
        "never pairs (the gram stats join is the dupWindowStream " +
        "skew-spread shape; a hot boilerplate gram contributes its " +
        s"occurrence count, not its df²). sh r30 " +
        s"${sh30("q_dup_substring_spans")} above the data ratio is the " +
        "df ≥ 2 COVERAGE transient: as the corpus densifies, more " +
        "windows cross the duplication floor and the KEPT stream grows " +
        "faster than the corpus — but its ceiling is the full window " +
        "stream (coverage saturates at 100%), so the ratio converges to " +
        "the data ratio from above, a strictly milder transient than " +
        s"Σdf². t r30 ${t30("q_dup_substring_spans")}; the per-doc " +
        "island merge windows over duplicated starts only, bounded by " +
        "doc length."),
      "q_semdedup" -> ("SemDeDup: within-IVF-cell pair cosines — pair " +
        "mass is N^1.5 by construction (cells ∝ √N ⇒ Σ cell² ≈ N^1.5), " +
        "the same accepted asymptotics as the ANN shortlist. Since the " +
        "r17 rewrite (VERDICT r16 #3) the pair frame never exchanges at " +
        "all: ONE collect_list cell exchange ships each vector once and " +
        "the CellPairStats expression runs the pair arithmetic " +
        s"cell-local — sh r30 ${sh30("q_semdedup")} ≈ the data ratio " +
        "(the retired vector-carrying self-join had made this the " +
        "board's largest shuffle: 1263 MB at dim-768/30×, now 316.6), " +
        s"wall flat (t r30 ${t30("q_semdedup")}) with the N^1.5 term " +
        "paid as in-cell CPU."),
      "q_media_neardups" -> ("image near-dup pairs (r17): the codec+aHash " +
        "pass is map-side; candidates band over DISTINCT (w, h, ahash) " +
        "values — a perceptual-hash corpus CONCENTRATES (46,875 images " +
        "→ 413 distinct hashes at 30×; largest identical-hash class " +
        "1,150 docs), so doc-level banding paid Σ class² candidate rows " +
        "(measured 100.5M rows / 741.6 MB) where distinct-hash banding " +
        "generates 1,518, and verified hash pairs expand back through " +
        "class-membership joins. The remaining sh r30 " +
        s"${sh30("q_media_neardups")} is the OUTPUT itself (26.1M pairs " +
        "at 30× — " +
        s"${shMb30("q_media_neardups")} MB absolute): a pair inventory " +
        "is semantically quadratic in duplicate density (a k-member " +
        "class owes k(k−1)/2 rows), the r13 pairs-vs-counts lesson — " +
        "the class-level report below is the deliverable that scales."),
      "q_media_dup_classes" -> ("the class-level image-dedup report: one " +
        "row per identical-hash class (size, keeper, radius-bounded " +
        "neighborhood) — everything after the linear hash aggregate is " +
        s"distinct-hash-sized. t r30 ${t30("q_media_dup_classes")}, " +
        s"sh r30 ${sh30("q_media_dup_classes")} on " +
        s"${shMb30("q_media_dup_classes")} MB absolute — flat; the " +
        "100 TB image-dedup shape (pairs only materialize where a " +
        "consumer genuinely needs them)."),
      "q_margin_pairs" -> ("margin mining: one linear broadcast-anchor " +
        "scoring pass over the corpus plus constants-bounded candidate/" +
        s"density joins — t r30 ${t30("q_margin_pairs")}, sh r30 " +
        s"${sh30("q_margin_pairs")} (the TopK partials are the only " +
        "exchange; everything else broadcasts). The batchKnn scale shape."),
      "q_hybrid_search" -> ("RRF hybrid retrieval: the BM25 side is one " +
        "tokenize pass + a broadcast posting filter keyed by bounded " +
        "query terms; the cosine side is the batchKnn broadcast shape; " +
        s"fusion joins two ≤ Q·depth lists. t r30 ${t30("q_hybrid_search")}, " +
        s"sh r30 ${sh30("q_hybrid_search")} — the corpus-side shuffles " +
        "are the per-(query, doc, term) tf aggregate and the TopK " +
        "partials, both posting-filtered before the exchange."),
      "q_prf_expansion" -> ("RM1 feedback: the BM25 scoring pass plus " +
        "term extraction over ONLY the broadcast F·|Q| feedback docs — " +
        s"t r30 ${t30("q_prf_expansion")}, sh r30 ${sh30("q_prf_expansion")}; " +
        "the expansion ranking windows over constants-bounded groups."),
      "q_textrank_keywords" -> ("TextRank: two linear token passes " +
        "(frequency cap + zip_with adjacency, both map-side partial " +
        "before their only exchanges); the V-vertex iteration is a " +
        s"constants-bounded driver fold. t r30 ${t30("q_textrank_keywords")}, " +
        s"sh r30 ${sh30("q_textrank_keywords")} — shuffle is the " +
        "vocab-filtered pair count, bounded by V² distinct keys."))
    md.append("\n## Per-entry diagnosis (why each ratio is acceptable)\n\n")
    diags.foreach { case (n, d) =>
      if (byName.contains(n)) md.append(s"- **$n** — $d\n")
    }
    // the dedicated-run experiment sections survive full rewrites
    preservedSections.foreach { s =>
      md.append("\n").append(s.stripSuffix("\n")).append("\n")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("SCALING.md"), md.toString)
    println(md.toString)
    spark.stop()
  }

  /** Writes the `copies`-scaled corpus under `dir` (events + documents;
    * every other table symlinked from the source — dimension tables are
    * catalog-sized at any SF). Skips generation when the dir exists. */
  def generate(spark: SparkSession, sf01: String, dir: String,
      copies: Int): Unit = {
    import spark.implicits._
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root.resolve("_done"))) return
    java.nio.file.Files.createDirectories(root)
    graft.model.TestdataContract.expected.keys
      .filterNot(t => t == "events" || t == "documents" || t == "embeddings")
      .foreach { t =>
        val link = root.resolve(s"$t.parquet")
        if (!java.nio.file.Files.exists(link,
            java.nio.file.LinkOption.NOFOLLOW_LINKS))
          java.nio.file.Files.createSymbolicLink(link,
            java.nio.file.Paths.get(s"$sf01/$t.parquet"))
      }

    // embeddings: copy-shifted vec_ids, each copy's vectors ROTATED by
    // copy % dim positions — distinct vectors (no degenerate exact-dup
    // corpus), norms and pairwise structure preserved within a copy,
    // labels carried — the shape an embedding store grows with, at
    // realistic file granularity
    val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    val embCopies = spark.range(copies).select(col("id").as("copy"))
    emb.crossJoin(broadcast(embCopies))
      .select((col("vec_id") + col("copy") * maxVec).as("vec_id"),
        expr("""CASE WHEN copy % 64 = 0 THEN embedding
               |ELSE concat(
               |  slice(embedding, CAST(copy % 64 AS INT) + 1,
               |    64 - CAST(copy % 64 AS INT)),
               |  slice(embedding, 1, CAST(copy % 64 AS INT))) END"""
          .stripMargin.replace("\n", " ")).cast("array<float>")
          .as("embedding"),
        col("label"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val ev = graft.ingest.Sources.events(spark, sf01)
    val maxEvent = ev.agg(max("event_id")).head().getLong(0) + 1
    val maxUser = ev.agg(max("user_id")).head().getLong(0) + 1
    val copyFrame = spark.range(copies).select(col("id").as("copy"))
    ev.crossJoin(broadcast(copyFrame))
      .select(
        (col("event_id") + col("copy") * maxEvent).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) + col("copy") * 7000000L)
          .as("ts"),
        (col("user_id") + col("copy") * maxUser).as("user_id"),
        col("event_type"), col("value"), col("props"))
      // realistic file granularity: a real corpus at any scale has many
      // splits; without this the crossJoin lineage can collapse to a
      // couple of output files and CPU-bound scan stages measure 2-way
      // parallelism instead of scale-out (the q_winnowing find)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    generateDocs(spark, sf01, dir, copies)
    java.nio.file.Files.writeString(root.resolve("_done"), "ok")
  }

  /** Documents-only corpus generation (extracted from [[generate]] so
    * the pair-family 90× experiment can scale the one table it reads
    * without paying a 90× events/embeddings write). Guarded by its own
    * `_done_docs` marker. */
  def generateDocs(spark: SparkSession, sf01: String, dir: String,
      copies: Int): Unit = {
    import spark.implicits._
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root.resolve("_done_docs"))) return
    java.nio.file.Files.createDirectories(root)
    val copyFrame = spark.range(copies).select(col("id").as("copy"))
    // frequency-weighted vocabulary slot table (approximates the real
    // token distribution; 64Ki slots, driver-held — vocabulary-sized)
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val top = docs.select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(8192)
      .as[(String, Long)].collect()
    val totalC = top.map(_._2).sum.toDouble
    val slots: Array[String] = top.flatMap { case (t, c) =>
      Seq.fill(math.max(1, math.round(c / totalC * 65536).toInt))(t)
    }
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    val bSlots = spark.sparkContext.broadcast(slots)
    // prev_toks rides along so a planted duplicate regenerates its
    // predecessor's text EXACTLY (same seed AND same length — seed alone
    // with this doc's own length yields a prefix-relative, not a
    // duplicate); one-off generator, so the bounded unpartitioned lag
    // window over the base catalog is fine
    val shaped = docs
      .select(col("doc_id"), col("lang"), col("source"),
        size(split(col("text"), " ")).as("n_toks"))
      .withColumn("prev_toks", lag(col("n_toks"), 1).over(
        org.apache.spark.sql.expressions.Window.orderBy("doc_id")))
      .crossJoin(broadcast(copyFrame))
      .select((col("doc_id") + col("copy") * maxDoc).as("doc_id"),
        col("lang"), col("source"), col("n_toks"),
        coalesce(col("prev_toks"), col("n_toks")).as("prev_toks"))
      .as[(Long, String, String, Int, Int)]
    shaped.map { case (id, lang, source, ownToks, prevToks) =>
      // planted exact duplicates: doc_id % DupRate == 1 regenerates its
      // predecessor's text (same per-(seed,pos) hash stream AND length);
      // a copy's FIRST doc never dups (its predecessor id belongs to the
      // previous copy, whose length prev_toks does not describe)
      val dup = id % DupRate == 1 && id % maxDoc != 0
      val seed = if (dup) id - 1 else id
      val nToks = if (dup) prevToks else ownToks
      val sl = bSlots.value
      val sb = new StringBuilder
      var p = 0
      while (p < math.max(1, nToks)) {
        if (p > 0) sb.append(' ')
        var h = seed * 0x9E3779B97F4A7C15L + p * 0xC2B2AE3D27D4EB4FL
        h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
        sb.append(sl(((h % sl.length) + sl.length).toInt % sl.length))
        p += 1
      }
      val text = sb.toString
      (id, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      // the doc frame descends from the 1-partition lag window above —
      // without an explicit repartition the whole corpus lands in ~2
      // files and every downstream scan is 2-way parallel (see the
      // events write note; content is per-row seeded, so layout is free)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    java.nio.file.Files.writeString(root.resolve("_done_docs"), "ok")
  }
}
