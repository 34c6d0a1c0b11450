package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** General graph analytics over edge DataFrames — the Pregel-shaped
  * iterate-join-aggregate discipline the dedup clustering family
  * ([[Dedup.connectedComponents]], [[Dedup.connectedComponentsStar]])
  * already uses, extended to weighted propagation.
  *
  * Scale stance: every iteration is ONE key-partitioned shuffle join plus
  * one aggregate (state ∝ nodes, messages ∝ edges — the Pregel cost
  * model); per-round `localCheckpoint` truncates lineage so the plan never
  * grows with iteration count; global scalars (teleport constant, dangling
  * mass) ride 1-row broadcast frames, never a driver collect inside the
  * loop. */
object Graph {

  /** `localCheckpoint` that PRESERVES the frame's hash partitioning into
    * the checkpointed `LogicalRDD` (r18, measured): with AQE enabled the
    * executed plan is an `AdaptiveSparkPlanExec` wrapper and
    * `LogicalRDD.fromDataset` records `UnknownPartitioning(0)` — every
    * downstream same-key join/aggregate then re-exchanges the checkpoint
    * (the committed `plans/r18/inloop_before/` round plans show the edge
    * list re-shuffled EVERY round despite r17's `repartition(src)`).
    * Compiling just the checkpointed statement with AQE off keeps the
    * `hashpartitioning(key, N)` (GraphSpec pins it: a same-key
    * shuffle-hash join then exchanges only its other side). The statement
    * compiles in a per-query session with AQE off
    * ([[graft.GraftSession.derive]]), and the checkpoint is rebound to
    * the caller's session, so consumers keep AQE and the caller's conf is
    * never written.
    * Use ONLY for loop INVARIANTS whose own plan gains nothing from AQE
    * (a bare repartition / one aggregate over an already-pinned frame) —
    * per-round updates keep AQE (skew splits on the message shuffle
    * matter at 100 TB). */
  private[graft] def checkpointPinned(df: DataFrame): DataFrame = {
    val noAqe = GraftSession.derive(df.sparkSession,
      Map("spark.sql.adaptive.enabled" -> "false"))
    GraftSession.rebind(GraftSession.rebind(df, noAqe).localCheckpoint(),
      df.sparkSession)
  }

  /** Releases the storage blocks of a dataset that IS a bare local
    * checkpoint (analyzed plan = exactly one LogicalRDD). Iterative
    * operators re-checkpoint per round; the superseded round's blocks
    * otherwise occupy the storage-protected region of unified memory
    * until a GC lets ContextCleaner collect them — which a huge heap may
    * never trigger — squeezing later stages' execution memory (measured
    * 4× on a 50M-row aggregate in r14). Safe by construction:
    * no-op on any frame that is not a bare checkpoint root (a round-0
    * seed projection, a shared pinned edge list consumed via joins keeps
    * its own LogicalRDD — callers only pass the frame they themselves
    * superseded). */
  private[graft] def releaseLocalCheckpoint(
      ds: org.apache.spark.sql.Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Fixed-point scale of the PageRank loop: ranks live as longs in
    * units of 1e-12 (total mass ≈ 1e12). Headroom: the per-round multiply
    * is `dampNum × (inflow + dangling share) ≤ 85 × 2e12 ≈ 1.7e14`, five
    * orders below Long.MaxValue. */
  val FixedPointScale = 1000000000000L

  /** Damping 0.85 as the rational 85/100 — shared with the generated
    * DuckDB mirror so query and oracle can never desync. */
  val DampNum = 85L
  val DampDen = 100L

  /** Seed-set size for [[personalizedPageRankFixedPoint]] — shared with
    * the generated mirror. Seeds are the `PprSeedCount` SMALLEST node
    * ids: deterministic and engine-portable (an ORDER BY + LIMIT in both
    * engines), standing in for the "user's items" of a real
    * recommendation query. */
  val PprSeedCount = 3

  /** Bounded-iteration PageRank (Page et al. 1999, the classic power
    * iteration) over a DIRECTED edge list `(src, dst)` — symmetrize the
    * edges first for an undirected graph — in FIXED-POINT integer
    * arithmetic, so the iterative computation is bit-deterministic across
    * engines and therefore HASH-GATEABLE (floating-point power iteration
    * is not: shuffle-order-dependent double summation). Every operation
    * is a long add, multiply or floor division, all order-independent:
    * ranks start at `S div n` (S = [[FixedPointScale]]), a node's
    * contribution per out-edge is `rank div deg`, damping is
    * `(85 × x) div 100`, dangling mass (nodes with no out-edges)
    * redistributes as `dm div n`. Floor truncation loses ≤1 unit (1e-12)
    * per division, so total mass drifts below 1.0 by ~(edges × 1e-12) per
    * round — irrelevant for ranking; GraphSpec bounds the drift against a
    * double-precision replay. The DuckDB mirror unrolls the same
    * iterations with `//` floor division, so the hash gate certifies the
    * whole iterate-join-aggregate loop — joins, dangling handling,
    * teleport — not just one pass. Output `(node, rank_fp)` with
    * `rank_fp ≈ rank × S`, ordered by rank desc (node tiebreak). */
  def pageRankFixedPoint(edges: DataFrame, iterations: Int = 10,
      dampNum: Long = DampNum, dampDen: Long = DampDen): DataFrame =
    restartWalk(edges, None, iterations, dampNum, dampDen)

  /** PERSONALIZED PageRank in the same fixed-point longs — the
    * neighborhood-relevance primitive of item-to-item recommendation
    * ("random walk with restart"): teleport, start mass and dangling mass
    * all land ONLY on the seed set (the `seedCount` smallest node ids), so
    * rank mass concentrates around the seeds instead of spreading
    * uniformly. [[pageRankFixedPoint]] is the special case whose seed set
    * is every node. */
  def personalizedPageRankFixedPoint(edges: DataFrame,
      seedCount: Int = PprSeedCount, iterations: Int = 10,
      dampNum: Long = DampNum, dampDen: Long = DampDen): DataFrame =
    restartWalk(edges, Some(seedCount), iterations, dampNum, dampDen)

  /** The fixed-point random walk with restart behind both PageRank
    * entries. The restart set R (k = |R| nodes: every node when
    * `seedCount` is None, else the `seedCount` smallest ids) is fixed
    * before the loop, as a flag column over the pinned node frame. Start
    * mass `S div k` and teleport `((d_den − d_num)·S div d_den) div k` sit
    * on R, and R's nodes also share the dangling mass as `dm div k` of
    * inflow; everyone else starts at 0 and gets only inflow. With R = all
    * nodes this is uniform PageRank operation for operation, so the two
    * entries cannot drift apart.
    *
    * Per round: contributions = ranks ⋈ edges on src (one shuffle of the
    * node-scale rank frame), then a per-node aggregate; the dangling mass
    * is a 1-row broadcast frame, never a driver action. The only driver
    * actions are the pre-loop node count (or seed collect). Per-round
    * localCheckpoint keeps the plan flat. */
  private def restartWalk(edges: DataFrame, seedCount: Option[Int],
      iterations: Int, dampNum: Long, dampDen: Long): DataFrame = {
    // pre-partition the edge list by the per-round join key ONCE with an
    // EXPLICIT partition count (r18; the bucketed-join discipline applied
    // to the loop invariant). A keyless-count `repartition(src)` is dead
    // weight: AQE coalesces it (REPARTITION_BY_COL is coalescible), the
    // checkpoint lands with a partition count that never matches the
    // in-loop exchange target, and every round re-exchanges the edge list
    // (the committed plans/r18/inloop_before/ round plans).
    // REPARTITION_BY_NUM is AQE-stable and [[checkpointPinned]] keeps its
    // HashPartitioning, so the rounds' shuffle-hash joins re-shuffle only
    // the node-scale rank frame — the EDGE list ships through the loop
    // zero times.
    val parts = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val sym = checkpointPinned(
      edges.select(col("src"), col("dst")).repartition(parts, col("src")))
    // nodes pinned on hash(node, parts): the per-round LeftOuter join and
    // node aggregate keep their nodes side exchange-free; outDeg rides
    // sym's pinned hash(src, parts) through its aggregate with ZERO
    // exchanges of its own
    val nodes = checkpointPinned(
      sym.select(col("src").as("node"))
        .union(sym.select(col("dst").as("node")))
        .distinct()) // distinct's own exchange IS hash(node, parts)
    val seeds = seedCount.map(c =>
      nodes.orderBy("node").limit(c).collect().toSeq.map(_.get(0)))
    val k = seeds.fold(nodes.count())(_.length.toLong)
    require(k > 0, "PageRank on an empty edge list")
    // a projection keeps the pinned partitioning
    val flagged = nodes.withColumn("restart",
      seeds.fold(lit(true))(ids => col("node").isin(ids: _*)))
    val outDeg = checkpointPinned(
      sym.groupBy(col("src"))
        .agg(count(lit(1)).as("deg")))
    val s = FixedPointScale
    val teleport = ((dampDen - dampNum) * s / dampDen) / k

    var ranks = flagged.select(col("node"),
      when(col("restart"), lit(s / k)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to iterations) {
      val contribs = sym
        .join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .join(outDeg, "src")
        .select(col("dst").as("node"), expr("r div deg").as("c"))
      val dangling = ranks
        .join(outDeg, ranks("node") === outDeg("src"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0L)).as("dm"))
      val prev = ranks
      ranks = flagged
        .join(contribs, Seq("node"), "left_outer")
        .groupBy("node", "restart") // hash(node) already clusters both
        .agg(coalesce(sum(col("c")), lit(0L)).as("inflow"))
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (when(col("restart"), lit(teleport)).otherwise(lit(0L)) +
            expr(s"($dampNum * (inflow + " +
              s"if(restart, dm div ${k}L, 0L))) div $dampDen")).as("r"))
        .localCheckpoint()
      // deterministic release of the superseded round's blocks (the new
      // checkpoint is EAGER, so prev is no longer referenced); round 0's
      // plain projection no-ops. Without this the rounds' blocks sit in
      // the storage-protected memory region until a GC nobody triggers.
      releaseLocalCheckpoint(prev)
    }
    ranks.select(col("node"), col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("node"))
  }

  /** Peeling rounds for [[kCore]] — shared with the generated mirror
    * (the DampNum discipline). Peeling is IDEMPOTENT once converged, so
    * a fixed round count is hash-gate-safe by construction: both engines
    * compute the identical (possibly partial) peel; convergence on real
    * data is spec-evidence, not a gate precondition. */
  val KCoreRounds = 10

  /** Fixed BFS relaxation rounds — shared with the unrolled mirror. */
  val BfsRounds = 6

  /** Single-source BFS hop distances over a canonical undirected pair
    * list `(x, y)`: [[BfsRounds]] synchronous frontier relaxations
    * d_{i+1}(v) = min(d_i(v), 1 + min_{(u,v)∈E} d_i(u)) from the
    * lexicographically-smallest node (a deterministic source both
    * engines agree on, carried as a 1-row broadcast frame — no driver
    * action). The step is IDEMPOTENT once converged (the kCore
    * discipline: fixed rounds are gate-safe; should the graph's
    * diameter exceed the rounds, both engines compute the identical
    * partial relaxation). Per round: one edge-keyed shuffle join + one
    * node-keyed min aggregate, lineage truncated by localCheckpoint.
    * Unreached nodes stay NULL and are filtered in BOTH engines. */
  def bfsHops(pairs: DataFrame, rounds: Int = BfsRounds): DataFrame = {
    val p = pairs.toDF("x", "y")
    val e = p.union(p.select(col("y"), col("x"))).toDF("a", "b")
      .localCheckpoint()
    // symmetric list: every node appears on the `a` side
    val nodes = e.select(col("a").as("node")).distinct().localCheckpoint()
    val src = nodes.agg(min(col("node")).as("s"))
    var dist = nodes.crossJoin(broadcast(src))
      .select(col("node"), when(col("node") === col("s"), 0L).as("dist"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val relaxed = dist.filter(col("dist").isNotNull)
        .join(e.hint("shuffle_hash"), col("node") === col("a"))
        .select(col("b").as("node"), (col("dist") + 1L).as("dist"))
      val prev = dist
      dist = dist.union(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      releaseLocalCheckpoint(prev)
    }
    dist.filter(col("dist").isNotNull).orderBy(col("dist"), col("node"))
  }

  /** k-core of a CANONICAL undirected edge list `(a, b)`, `a < b`: the
    * maximal subgraph where every node keeps degree ≥ k — the classic
    * graph-density filter (spam rings, community cores) and the third
    * member of the iterative family (CC, PageRank, now peeling).
    *
    * Per round: one degree aggregate (map-side partials over 2 rows per
    * edge) and two keep-semi-joins back onto the edge list — all
    * equi-joins AQE can split; per-round localCheckpoint keeps the plan
    * flat (the CC-loop lineage discipline). Rounds are FIXED
    * ([[KCoreRounds]]), not convergence-detected: no driver-side count
    * inside the loop, and the generated mirror unrolls the identical
    * rounds with MATERIALIZED CTEs, so the gate certifies every peel
    * step. Output: surviving `(node, deg)`, deg ≥ k, ordered deg desc
    * with node tiebreak. */
  def kCore(edges: DataFrame, k: Int = 2,
      rounds: Int = KCoreRounds): DataFrame = {
    require(k >= 1 && rounds >= 1, s"bad kCore params: k=$k rounds=$rounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).union(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    var e = edges.toDF("a", "b").localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = degrees(e).filter(col("deg") >= k).select("node")
      val prev = e
      e = e
        .join(keep.select(col("node").as("a")).hint("shuffle_hash"), "a")
        .join(keep.select(col("node").as("b")).hint("shuffle_hash"), "b")
        .select("a", "b").localCheckpoint()
      releaseLocalCheckpoint(prev)
    }
    degrees(e).orderBy(col("deg").desc, col("node"))
  }

  /** Exact per-node triangle counts over a CANONICAL undirected edge list
    * `(a, b)` with `a < b`, distinct — the community-structure metric
    * (clustering, spam-graph detection) the co-purchase graph feeds.
    *
    * The naive formulation joins the edge list against itself twice keyed
    * on raw vertex ids, so a hub vertex of degree d contributes d² wedge
    * rows through ONE join key — quadratic skew no AQE split fixes (every
    * wedge genuinely shares the key). This is the classic DEGREE-ORDERED
    * orientation instead (Suri & Vassilvitskii, "Counting Triangles and the
    * Curse of the Last Reducer", WWW 2011): orient every edge from the
    * endpoint of lower (degree, id) rank to the higher, so each triangle
    * has exactly one APEX (the rank-lowest corner) and every vertex's
    * out-degree is O(√m) — the wedge fan-out per key drops from d² to m,
    * total wedge volume to O(m^1.5), the proven optimum for this join
    * shape.
    *
    * Plan: two degree joins decorate each edge with endpoint degrees (the
    * degree frame is nodes-sized; AQE picks broadcast vs shuffle), one
    * self-join of the oriented list on the apex generates rank-ordered
    * wedges `(v, w)`, and one equi-join against the oriented list closes
    * them — `rank(v) < rank(w)` means the closing edge, if present, is
    * oriented exactly `v → w`, so closure is a plain two-column equi-join,
    * no disjunction. Corners then explode (3 rows per triangle) into a
    * count aggregate. Every shuffle carries edge- or wedge-sized rows of
    * two ids; nothing is ever keyed on a raw hub id.
    *
    * Per-node participation counts are orientation-INDEPENDENT, so the
    * DuckDB mirror states the naive lexicographic 3-way join and the hash
    * gate certifies orientation ≡ naive semantics. Nodes in no triangle
    * are absent by construction (count 0 rows add nothing at any scale).
    * Output: `(node, n_triangles)`, ordered by count desc, node asc. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.toDF("a", "b").localCheckpoint()
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    // orient low rank → high rank; rank = (deg, node) is a total order
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("db")).otherwise(col("da")).as("dv"))
      .localCheckpoint()
    // wedges: rank-ordered out-neighbor pairs of each apex u
    val x = oriented.toDF("u", "v", "dv")
    val y = oriented.toDF("u2", "w", "dw")
    val wedges = x.join(y, col("u") === col("u2") &&
        (col("dv") < col("dw") ||
          (col("dv") === col("dw") && col("v") < col("w"))))
      .select(col("u"), col("v"), col("w"))
    // closure: rank(v) < rank(w) ⇒ the edge, if present, is stored v → w
    val closing = oriented.select(col("u").as("cv"), col("v").as("cw"))
    val triangles = wedges.join(closing,
      col("v") === col("cv") && col("w") === col("cw"))
    triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("node"))
  }

  /** [[hitsFixedPoint]] scale — 10⁻⁹ rank precision. DELIBERATELY below
    * [[FixedPointScale]]: the per-round L1 re-normalization multiplies a
    * raw score (≤ S after the start normalization) by S before the floor
    * division, so S² must stay inside int64 — 10⁹ leaves 9× headroom.
    * The start mass `S div |hubs|` degenerates to 0 above 10⁹ hub nodes;
    * a corpus that large raises S (and the mirror re-renders from the
    * shared constant). */
  val HitsScale = 1000000000L
  val HitsIterations = 10

  /** HITS (Kleinberg 1999) hubs-and-authorities on a DIRECTED bipartite
    * edge list, in the [[pageRankFixedPoint]] fixed-point long
    * discipline so the whole iterative loop rides the hash gate: hub
    * scores live on `src` nodes, authority scores on `dst` nodes, each
    * round is a(p) = Σ_{u→p} h(u) then h(u) = Σ_{u→p} a(p), each
    * re-normalized to L1 mass [[HitsScale]] via `(raw × S) div Σraw`
    * (the classic L2 normalization needs a sqrt — the L1 variant ranks
    * identically and stays in exact integer arithmetic; every value is
    * non-negative, so Spark `div` ≡ DuckDB `//`). Totals ride 1-row
    * broadcast frames (no driver action in the loop); per-round
    * localCheckpoint keeps the plan flat; per-round plan shape is two
    * edge-keyed equi-joins + two aggregates — linear in edges at any
    * scale. Output `(role, id, score_fp)`, hubs then authorities, each
    * ordered score desc with an id tiebreak. */
  def hitsFixedPoint(edges: DataFrame,
      iterations: Int = HitsIterations): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint()
    val srcs = e.select(col("src")).distinct().localCheckpoint()
    val n = srcs.count()
    require(n > 0, "hitsFixedPoint on an empty edge list")
    val s = HitsScale
    var h = srcs.select(col("src"), lit(s / n).as("h"))
    var a: DataFrame = null
    // CHECKPOINT THE RAW AGGREGATES, not the normalized frames (r17,
    // VERDICT r16 #4): the former shape checkpointed only `h`, so the
    // two 1-row TOTAL broadcasts each re-derived their input from the
    // edge list — FIVE edge-scale join+aggregate passes per round
    // (araw in the main plan, araw again under `at`, hraw + its
    // embedded araw twice more under `ht`). Checkpointing araw/hraw
    // makes each total a node-scale aggregate over a materialized
    // frame and each round exactly TWO edge joins — the semantic
    // minimum — at the cost of one extra (node-scale) checkpoint per
    // round. Measured (graft.Time, fresh JVM, sf0.1): 4.57 → 4.38 s —
    // at test scale the wall is ROUND-COORDINATION latency (20 jobs ×
    // scheduling floor; the edge list is ~10⁵ rows and each pass is
    // milliseconds), so the cut is small HERE; the removed term is 3 of
    // 5 edge-SCALE passes per round, which is what dominates when the
    // edge list is the 100 TB part.
    // The normalized a/h stay LAZY: their lineage is one broadcast
    // crossJoin off a checkpoint, flat forever. Superseded checkpoints
    // release eagerly (the next checkpoint call is eager); the FINAL
    // round's araw/hraw feed the post-loop output and are never
    // released.
    var arawPrev: DataFrame = null
    var hrawPrev: DataFrame = null
    for (_ <- 1 to iterations) {
      val araw = e.join(h.hint("shuffle_hash"), "src")
        .groupBy("dst").agg(sum(col("h")).as("araw"))
        .localCheckpoint()
      if (arawPrev != null) releaseLocalCheckpoint(arawPrev)
      arawPrev = araw
      val at = araw.agg(sum(col("araw")).as("t"))
      a = araw.crossJoin(broadcast(at))
        .select(col("dst"), expr(s"(araw * $s) div t").as("a"))
      val hraw = e.join(a.hint("shuffle_hash"), "dst")
        .groupBy("src").agg(sum(col("a")).as("hraw"))
        .localCheckpoint()
      if (hrawPrev != null) releaseLocalCheckpoint(hrawPrev)
      hrawPrev = hraw
      val ht = hraw.agg(sum(col("hraw")).as("t"))
      h = hraw.crossJoin(broadcast(ht))
        .select(col("src"), expr(s"(hraw * $s) div t").as("h"))
    }
    h.select(lit("hub").as("role"), col("src").as("id"),
        col("h").as("score_fp"))
      .union(a.select(lit("authority").as("role"), col("dst").as("id"),
        col("a").as("score_fp")))
      .orderBy(col("role"), col("score_fp").desc, col("id"))
  }
}
