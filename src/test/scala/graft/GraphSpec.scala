package graft

import org.apache.spark.sql.functions.col

import graft.ext.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Reference double-precision power iteration: the update rule of
    * [[Graph.pageRankFixedPoint]] without its floors. */
  private def refPageRank(edges: Seq[(String, String)], iters: Int,
      d: Double): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(out.contains).map(r).sum
      val inflow = edges.groupMapReduce(_._2)(e => r(e._1) / out(e._1))(_ + _)
      r = nodes.map { nd =>
        nd -> ((1.0 - d) / n + d * (inflow.getOrElse(nd, 0.0) + dm / n))
      }.toMap
    }
    r
  }

  test("pageRank ranks the hub of a star graph first") {
    // symmetrized star: HUB <-> each leaf; the hub must dominate
    val leaves = (1 to 6).map(i => s"L$i")
    val edges = leaves.flatMap(l => Seq(("HUB", l), (l, "HUB")))
    val top = Graph.pageRankFixedPoint(edges.toDF("src", "dst")).limit(1)
      .as[(String, Long)].collect().head
    assert(top._1 == "HUB")
  }

  test("pageRank of a symmetric cycle is uniform") {
    val cyc = Seq(("A", "B"), ("B", "C"), ("C", "A"))
    val got = Graph.pageRankFixedPoint(cyc.toDF("src", "dst"))
      .as[(String, Long)].collect()
    assert(got.length == 3 && got.map(_._2).distinct.length == 1,
      got.toSeq.toString)
    val s = Graph.FixedPointScale.toDouble
    assert(math.abs(got.head._2 / s - 1.0 / 3) < 1e-12, got.head.toString)
  }

  test("pageRankFixedPoint tracks the double power iteration, dangling " +
    "included, with bounded floor-truncation drift") {
    val edges = Seq(
      ("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("B", "D"))
    val s = Graph.FixedPointScale.toDouble
    val got = Graph.pageRankFixedPoint(edges.toDF("src", "dst"),
        iterations = 10)
      .as[(String, Long)].collect().toMap
    val want = refPageRank(edges, iters = 10, d = 0.85)
    assert(got.keySet == want.keySet)
    // each division floors away <= 1e-12; 10 rounds over this graph stay
    // far inside 1e-9 of the double iteration
    got.foreach { case (node, fp) =>
      assert(math.abs(fp / s - want(node)) < 1e-9,
        s"$node: got ${fp / s} want ${want(node)}")
    }
    // mass only ever drifts DOWN (floors), and only by whisker amounts
    val mass = got.values.sum / s
    assert(mass <= 1.0 + 1e-12 && mass > 1.0 - 1e-9, s"mass $mass")
  }

  test("checkpointPinned keeps the hash partitioning: a same-key " +
    "shuffle-hash join exchanges only its other side") {
    // the loop-invariant discipline of the PageRank/PPR loops: an edge
    // list pinned on hash(src, shuffle partitions), joined per round to a
    // shuffle_hash-hinted rank frame on src. A plain localCheckpoint
    // under AQE records UnknownPartitioning and exchanges BOTH sides.
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val edges = (1 to 40).map(i => (s"n${i % 7}", s"n${i * 3 % 11}"))
      .toDF("src", "dst")
    val pinned = Graph.checkpointPinned(
      edges.repartition(parts, col("src")))
    val ranks = (0 until 11).map(i => (s"n$i", i.toLong)).toDF("node", "r")
    val joined = pinned
      .join(ranks.hint("shuffle_hash"), col("src") === col("node"))
    val plan = joined.queryExecution.executedPlan.toString
    val exchanged = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanged == List("node"), plan)
    assert(joined.count() == 40)
  }

  test("iterative loops release superseded localCheckpoint blocks: " +
    "persistent-RDD count stays bounded by the shared frames, not the " +
    "round count") {
    val edges = Seq(
      ("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("B", "D"))
      .toDF("src", "dst")
    def added(walk: => org.apache.spark.sql.DataFrame): Int = {
      val before = spark.sparkContext.getPersistentRDDs.size
      walk.collect()
      spark.sparkContext.getPersistentRDDs.size - before
    }
    // shared pins (sym/nodes/outDeg) + the final round's ranks survive;
    // the 9 superseded rounds must NOT (without the release they did —
    // until a GC nobody triggers on a huge heap; the r14 harness lesson)
    val pr = added(Graph.pageRankFixedPoint(edges))
    assert(pr <= 4, s"pageRank leaked checkpoints: $pr more persistent RDDs")
    val ppr = added(Graph.personalizedPageRankFixedPoint(edges))
    assert(ppr <= 4, s"ppr leaked checkpoints: $ppr more persistent RDDs")
  }

  test("personalizedPageRankFixedPoint with every node a seed is " +
    "pageRankFixedPoint, bit for bit") {
    val edges = Seq(
      ("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("B", "D"), ("E", "A"))
      .toDF("src", "dst")
    val uniform = Graph.pageRankFixedPoint(edges).collect().toSeq
    assert(uniform.length == 5)
    for (seeds <- Seq(5, 9)) {
      val ppr = Graph.personalizedPageRankFixedPoint(edges, seedCount = seeds)
        .collect().toSeq
      assert(ppr == uniform, s"seedCount $seeds: $ppr vs $uniform")
    }
  }

  test("personalizedPageRankFixedPoint: teleport, start mass and dangling " +
    "restarts all land on the seed set — EXACT driver replay in longs") {
    val edges = Seq(
      ("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("B", "D"))
    val got = Graph.personalizedPageRankFixedPoint(
        edges.toDF("src", "dst"), iterations = 10)
      .as[(String, Long)].collect().toMap
    // independent replay: same fixed-point algebra in driver Scala (Long
    // `/` truncates toward zero ≡ Spark `div` on these non-negatives)
    val S = Graph.FixedPointScale
    val (dn, dd) = (Graph.DampNum, Graph.DampDen)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val seeds = nodes.take(Graph.PprSeedCount).toSet
    val k = seeds.size.toLong
    val outDeg = edges.groupBy(_._1).map { case (n, es) =>
      n -> es.size.toLong }
    val teleport = ((dd - dn) * S / dd) / k
    var r = nodes.map(n => n -> (if (seeds(n)) S / k else 0L)).toMap
    for (_ <- 1 to 10) {
      val contribs = scala.collection.mutable.Map[String, Long]()
        .withDefaultValue(0L)
      edges.foreach { case (a, b) => contribs(b) += r(a) / outDeg(a) }
      val dm = nodes.filterNot(outDeg.contains).map(r).sum
      r = nodes.map { n =>
        val inflow = contribs(n) + (if (seeds(n)) dm / k else 0L)
        n -> ((if (seeds(n)) teleport else 0L) + (dn * inflow) / dd)
      }.toMap
    }
    assert(got == r, s"got $got want $r")
    // the RWR shape: seeds hold the majority of the walk's mass
    val seedMass = seeds.toSeq.map(got).sum.toDouble
    assert(seedMass / got.values.sum > 0.5,
      s"seed mass ${seedMass / got.values.sum} not concentrated")
  }

  test("q_pagerank_exact agrees with the float power iteration on the " +
    "real graph: per-node ranks within floor-drift tolerance") {
    val s = Graph.FixedPointScale.toDouble
    val fp = SparkEntry.queries("q_pagerank_exact")(spark, sf("sf0.001"))
      .as[(String, Long)].collect().toMap
    // the entry's co-purchase graph, symmetrized, replayed in doubles
    val pairs = graft.ops.EventQueries.basketPairs(
        graft.ingest.Sources.events(spark, sf("sf0.001")), minSupport = 2,
        sorted = false)
      .select(col("item1"), col("item2")).as[(String, String)].collect()
    val dbl = refPageRank(pairs.toSeq.flatMap { case (a, b) =>
      Seq((a, b), (b, a)) }, iters = 10, d = 0.85)
    assert(fp.nonEmpty && fp.keySet == dbl.keySet)
    // each division floors away <= 1e-12 per round
    fp.foreach { case (node, r) =>
      assert(math.abs(r / s - dbl(node)) < 1e-9,
        s"$node: fixed-point ${r / s} vs double ${dbl(node)}")
    }
  }

  /** Brute-force per-node triangle participation over canonical edges. */
  private def refTriangles(edges: Seq[(String, String)]): Map[String, Long] = {
    val es = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    val nodes = es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val tris = for {
      a <- nodes; b <- nodes if a < b && es((a, b))
      c <- nodes if b < c && es((b, c)) && es((a, c))
    } yield (a, b, c)
    tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
  }

  test("triangleCounts matches brute force on a known graph") {
    // K4 on A-D (4 triangles, each node in 3) plus a pendant edge and a
    // triangle-free path E-F-G; ties in degree exercise the id tiebreak
    val edges = Seq(
      ("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"), ("B", "D"),
      ("C", "D"), ("D", "E"), ("E", "F"), ("F", "G"))
    val got = Graph.triangleCounts(edges.toDF("a", "b"))
      .as[(String, Long)].collect().toMap
    assert(got == refTriangles(edges))
    assert(got("A") == 3L && got("D") == 3L && !got.contains("E"))
  }

  test("triangleCounts matches brute force on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 12 + trial * 3
      val nodes = (1 to n).map(i => f"n$i%02d")
      val edges = (for {
        i <- nodes.indices; j <- (i + 1) until n
        if rnd.nextDouble() < 0.25
      } yield (nodes(i), nodes(j))).toSeq
      val got = Graph.triangleCounts(edges.toDF("a", "b"))
        .as[(String, Long)].collect().toMap
      assert(got == refTriangles(edges), s"trial $trial")
    }
  }

  /** Reference peel-to-convergence over canonical edges. */
  private def refKCore(edges: Seq[(String, String)],
      k: Int): Map[String, Long] = {
    var es = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    var changed = true
    while (changed) {
      val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      val next = es.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      changed = next != es
      es = next
    }
    es.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
  }

  test("kCore peels to the converged 2-core on known and random graphs") {
    // triangle core + two pendant chains that must peel away entirely
    val edges = Seq(
      ("A", "B"), ("B", "C"), ("A", "C"),
      ("C", "D"), ("D", "E"), ("E", "F"))
    val got = Graph.kCore(edges.toDF("a", "b"))
      .as[(String, Long)].collect().toMap
    assert(got == Map("A" -> 2L, "B" -> 2L, "C" -> 2L), got.toString)
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val n = 14 + trial * 4
      val nodes = (1 to n).map(i => f"n$i%02d")
      val re = (for {
        i <- nodes.indices; j <- (i + 1) until n
        if rnd.nextDouble() < 0.18
      } yield (nodes(i), nodes(j))).toSeq
      val g = Graph.kCore(re.toDF("a", "b"))
        .as[(String, Long)].collect().toMap
      assert(g == refKCore(re, 2), s"trial $trial")
    }
  }

  test("kCore fixed rounds are idempotent once converged") {
    val edges = Seq(("A", "B"), ("B", "C"), ("A", "C"), ("C", "D"))
    val r10 = Graph.kCore(edges.toDF("a", "b"), rounds = 10)
      .as[(String, Long)].collect().toSeq
    val r13 = Graph.kCore(edges.toDF("a", "b"), rounds = 13)
      .as[(String, Long)].collect().toSeq
    assert(r10 == r13)
  }

  test("triangleCounts plans as equi-joins — no nested loop, no cartesian") {
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "D"))
    val plan = Graph.triangleCounts(edges.toDF("a", "b"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle join degenerated:\n$plan")
  }

  test("q_triangle_count entry is ordered and consistent in total") {
    val df = SparkEntry.queries("q_triangle_count")(spark, sf("sf0.001"))
    val rows = df.as[(String, Long)].collect()
    assert(rows.nonEmpty)
    // 3 corner rows per triangle: participation total divisible by 3
    assert(rows.map(_._2).sum % 3 == 0)
    val counts = rows.map(_._2).toSeq
    assert(counts == counts.sorted.reverse)
  }

  test("bfsHops: hop distances from the smallest node; unreached dropped") {
    val pairs = Seq(("A", "B"), ("B", "C"), ("C", "D"), ("E", "F"))
      .toDF("item1", "item2")
    val got = Graph.bfsHops(pairs).as[(String, Long)].collect().toSeq
    // source = min node "A"; the E–F component is unreachable
    assert(got == Seq(("A", 0L), ("B", 1L), ("C", 2L), ("D", 3L)),
      got.toString)
    // idempotent past convergence: extra rounds change nothing
    val more = Graph.bfsHops(pairs, rounds = 9).as[(String, Long)]
      .collect().toSeq
    assert(more == got)
  }

  test("hitsFixedPoint matches a driver-side replay of the L1-normalized " +
      "fixed-point rounds; broadly-bought items out-rank niche ones") {
    // bipartite: u1 buys {a,b,c}, u2 buys {a,b}, u3 buys {a}
    val edges = Seq(("u1", "a"), ("u1", "b"), ("u1", "c"),
      ("u2", "a"), ("u2", "b"), ("u3", "a")).toDF("src", "dst")
    val s = Graph.HitsScale
    val es = Seq(("u1", "a"), ("u1", "b"), ("u1", "c"),
      ("u2", "a"), ("u2", "b"), ("u3", "a"))
    val srcs = es.map(_._1).distinct.sorted
    val dsts = es.map(_._2).distinct.sorted
    var h = srcs.map(_ -> s / srcs.size).toMap
    var a = Map.empty[String, Long]
    for (_ <- 1 to Graph.HitsIterations) {
      val araw = dsts.map(p =>
        p -> es.collect { case (u, d) if d == p => h(u) }.sum).toMap
      val at = araw.values.sum
      a = araw.map { case (p, v) => p -> (v * s) / at }
      val hraw = srcs.map(u =>
        u -> es.collect { case (src, p) if src == u => a(p) }.sum).toMap
      val ht = hraw.values.sum
      h = hraw.map { case (u, v) => u -> (v * s) / ht }
    }
    // output order: role asc ('authority' < 'hub'), then score desc, id
    val want =
      a.toSeq.map { case (p, v) => ("authority", p, v) }
        .sortBy { case (_, id, v) => (-v, id) } ++
      h.toSeq.map { case (u, v) => ("hub", u, v) }
        .sortBy { case (_, id, v) => (-v, id) }
    val got = Graph.hitsFixedPoint(edges)
      .as[(String, String, Long)].collect().toSeq
    assert(got == want, s"got $got want $want")
    // 'a' (bought by all three) must out-rank 'b' (two) and 'c' (one);
    // u1 (the broadest buyer) is the top hub
    val auth = got.filter(_._1 == "authority").map(_._2)
    assert(auth == Seq("a", "b", "c"), auth.toString)
    assert(got.filter(_._1 == "hub").head._2 == "u1", got.toString)
    // L1 mass stays ≈ S after normalization (floor truncation only)
    val hubMass = got.filter(_._1 == "hub").map(_._3).sum
    assert(hubMass <= s && hubMass > s - 100, hubMass.toString)
  }
}
