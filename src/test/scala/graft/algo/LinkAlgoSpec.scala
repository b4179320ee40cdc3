package graft.algo

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** HITS, multi-source BFS, SCC/bow-tie, neighborhood function
  * (exact + HyperBall) and k-core against independent dense driver-side
  * oracles on deterministic random directed multigraphs, plus the CC
  * local-contraction equivalence (preContract on/off must be identical).
  */
class LinkAlgoSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic directed graph: n vertices, m arcs with small-int
    * weights, seeded LCG (no test-run randomness).
    */
  private def randomArcs(n: Int, m: Int, seed: Long): Seq[(Long, Long, Double)] = {
    var s = seed
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s >>> 33 }
    (0 until m).map { _ =>
      val u = (next() % n).toLong
      val v = (next() % n).toLong
      val w = (next() % 3 + 1).toDouble
      (u, v, w)
    }.filter { case (u, v, _) => u != v }
  }

  /** Dense double-array HITS oracle, same fixed-sweep normalized update. */
  private def denseHits(n: Int, arcs: Seq[(Long, Long, Double)], sweeps: Int)
      : (Array[Double], Array[Double]) = {
    // Aggregate parallel arcs the same way the frame job's groupBy-sum does.
    val w = arcs.groupBy(a => (a._1, a._2)).map { case (k, as) => (k, as.map(_._3).sum) }
    var h = Array.fill(n)(1.0)
    var a = Array.fill(n)(0.0)
    def l2(x: Array[Double]): Double = { val s = math.sqrt(x.map(v => v * v).sum); if (s == 0) 1.0 else s }
    for (_ <- 1 to sweeps) {
      val a1 = Array.fill(n)(0.0)
      for (((u, v), ww) <- w) a1(v.toInt) += ww * h(u.toInt)
      val na = l2(a1)
      a = a1.map(_ / na)
      val h1 = Array.fill(n)(0.0)
      for (((u, v), ww) <- w) h1(u.toInt) += ww * a(v.toInt)
      val nh = l2(h1)
      h = h1.map(_ / nh)
    }
    (h, a)
  }

  /** Driver-side multi-source BFS oracle over the symmetric closure. */
  private def denseHops(n: Int, arcs: Seq[(Long, Long, Double)], seeds: Seq[Long])
      : Array[Long] = {
    val adj = Array.fill(n)(List.empty[Int])
    for ((u, v, _) <- arcs) {
      adj(u.toInt) ::= v.toInt
      adj(v.toInt) ::= u.toInt
    }
    val dist = Array.fill(n)(-1L)
    var frontier = seeds.map(_.toInt).distinct
    frontier.foreach(dist(_) = 0L)
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(adj).distinct.filter(dist(_) < 0)
      frontier.foreach(dist(_) = d)
    }
    dist
  }

  for (seed <- Seq(7L, 23L)) {
    test(s"HITS matches the dense fixed-sweep oracle [seed=$seed]") {
      val n = 60
      val arcs = randomArcs(n, 300, seed)
      val (oh, oa) = denseHits(n, arcs, sweeps = 20)
      // Both execution paths against the same oracle, plus against each
      // other to 1e-12 (round 5: the gated driver kernel is what small
      // graphs run; localKernelMax = 0 forces the distributed loop).
      def path(gate: Long) = Hits.run(arcs.toDF("src", "dst", "weight"),
          (0L until n.toLong).toDF("vid"), sweeps = 20, localKernelMax = gate)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val got = path(1L << 20)
      val dist = path(0L)
      for (v <- 0 until n) {
        assert(math.abs(got(v.toLong)._1 - oh(v)) < 1e-9, s"hub vid=$v")
        assert(math.abs(got(v.toLong)._2 - oa(v)) < 1e-9, s"auth vid=$v")
        assert(math.abs(got(v.toLong)._1 - dist(v.toLong)._1) < 1e-12 &&
          math.abs(got(v.toLong)._2 - dist(v.toLong)._2) < 1e-12,
          s"driver kernel vs distributed vid=$v")
      }
    }

    test(s"BFS hops match the dense oracle, unreachable stays null [seed=$seed]") {
      val n = 80
      // Sparse: leaves some vertices unreachable from the seeds.
      val arcs = randomArcs(n, 60, seed)
      val seeds = Seq(0L, 1L, 2L)
      val oracle = denseHops(n, arcs, seeds)
      val sym = graft.graph.Adjacency.symmetrize(arcs.toDF("src", "dst", "weight"))
      // Both paths (round 6: gated driver kernel vs the distributed
      // frontier loop; hop counts are integers — exact equality).
      for (gate <- Seq(1L << 20, 0L)) {
        val got = Bfs.hops(sym, (0L until n.toLong).toDF("vid"), seeds.toDF("vid"),
            localKernelMax = gate)
          .collect().map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
        for (v <- 0 until n)
          assert(got(v.toLong) == oracle(v), s"hops vid=$v gate=$gate")
      }
      assert(oracle.contains(-1L), "fixture must include unreachable vertices")
    }
  }

  test("HITS: duplicate vertex rows skew neither path (round-5 advice)") {
    // Pre-fix, the distributed path left `vertices` un-deduplicated while
    // the driver kernel deduplicated — duplicate vids double-counted
    // through every half-step's left join (inflated L2 norms) and the
    // 1e-12 path equality held only for clean inputs.
    val arcs = Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 0L, 1.0), (0L, 2L, 0.5))
      .toDF("src", "dst", "weight")
    val dupVerts = Seq(0L, 1L, 2L, 1L, 2L, 2L).toDF("vid")
    val cleanVerts = (0L to 2L).toDF("vid")
    def runOn(verts: org.apache.spark.sql.DataFrame, gate: Long) =
      Hits.run(arcs, verts, sweeps = 10, localKernelMax = gate)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val want = runOn(cleanVerts, 0L)
    for (gate <- Seq(1L << 20, 0L)) {
      val got = runOn(dupVerts, gate)
      assert(got.size == 3, s"gate=$gate must emit one row per distinct vid")
      for (v <- 0L to 2L) {
        assert(math.abs(got(v)._1 - want(v)._1) < 1e-12, s"hub vid=$v gate=$gate")
        assert(math.abs(got(v)._2 - want(v)._2) < 1e-12, s"auth vid=$v gate=$gate")
      }
    }
  }

  test("HITS: hubs and authorities separate on a directed star") {
    // u0 points at v1..v4; nothing points back. u0 is the only hub;
    // v1..v4 are the only authorities.
    val arcs = Seq((0L, 1L, 1.0), (0L, 2L, 1.0), (0L, 3L, 1.0), (0L, 4L, 1.0))
    val got = Hits.run(arcs.toDF("src", "dst", "weight"), (0L to 4L).toDF("vid"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(got(0L)._1 - 1.0) < 1e-12 && got(0L)._2 == 0.0)
    for (v <- 1L to 4L)
      assert(got(v)._1 == 0.0 && math.abs(got(v)._2 - 0.5) < 1e-12)
  }

  /** Brute-force mutual-reachability SCC oracle (BFS per vertex) — the
    * same semantics as the q38 recursive-CTE oracle, obviously correct.
    */
  private def bruteScc(n: Int, arcs: Seq[(Long, Long)]): Array[Long] = {
    val adj = Array.fill(n)(List.empty[Int])
    for ((u, v) <- arcs if u != v) adj(u.toInt) ::= v.toInt
    def reach(s: Int): Array[Boolean] = {
      val seen = Array.fill(n)(false)
      seen(s) = true
      var frontier = List(s)
      while (frontier.nonEmpty)
        frontier = frontier.flatMap(adj).filterNot(seen).distinct
          .map { w => seen(w) = true; w }
      seen
    }
    val r = (0 until n).map(reach)
    Array.tabulate(n)(v =>
      (0 until n).filter(u => r(v)(u) && r(u)(v)).min.toLong)
  }

  for (seed <- Seq(3L, 41L)) {
    test(s"SCC matches mutual-reachability oracle on a random directed graph [seed=$seed]") {
      val n = 80
      val arcs = randomArcs(n, 160, seed).map { case (u, v, _) => (u, v) }
      val oracle = bruteScc(n, arcs)
      // Both execution paths (round 5: the gated driver Tarjan is what
      // small graphs run; localFinishMax = 0 forces trim/color/pivot).
      for (gate <- Seq(1L << 20, 0L)) {
        val got = Scc.run(arcs.toDF("src", "dst"), (0L until n.toLong).toDF("vid"),
            localFinishMax = gate)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        for (v <- 0 until n)
          assert(got(v.toLong) == oracle(v), s"scc vid=$v gate=$gate")
      }
    }
  }

  test("SCC: cycles collapse, bridges don't, chains stay singletons") {
    // 0→1→2→0 (cycle A), 3→4→5→3 (cycle B), bridge 2→3 (one-way),
    // chain 6→7→8, isolated 9.
    val arcs = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L),
      (2L, 3L), (6L, 7L), (7L, 8L)).toDF("src", "dst")
    val got = Scc.run(arcs, (0L to 9L).toDF("vid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L,
      5L -> 3L, 6L -> 6L, 7L -> 7L, 8L -> 8L, 9L -> 9L))
  }

  test("SCC: descending chain (adversarial coloring case) still converges") {
    val n = 12 // one color class per outer round — exercises maxOuter path
    val arcs = (1 until n).map(i => (i.toLong, (i - 1).toLong)).toDF("src", "dst")
    val got = Scc.run(arcs, (0L until n.toLong).toDF("vid"), localFinishMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until n.toLong).map(v => v -> v).toMap)
  }

  test("SCC: directed cycle longer than any historical round cap is ONE component") {
    // Round-4 bug class: the backward pivot BFS was capped at 100 rounds
    // and silently assigned a partially-reached set as a complete SCC —
    // a 110-cycle split into several components. BFS now runs to frontier
    // exhaustion, so the cycle must come back as exactly one SCC.
    val n = 110
    val arcs = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong)).toDF("src", "dst")
    val got = Scc.run(arcs, (0L until n.toLong).toDF("vid"), localFinishMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L), "150-cycle must be one SCC")
  }

  test("SCC: descending chain of 48 two-cycles drains in few outer rounds (multi-pivot)") {
    // One color class per outer round; single-pivot draining would need
    // 48 outer rounds (> the maxOuter=8 passed here → loud require).
    // Multi-pivot retires ≥ pivotsPerClass vertices per round: 96
    // vertices / 16 pivots = 6 rounds, inside the tightened cap.
    val k = 48
    // 2-cycle i: vertices (2i, 2i+1); ids DESCEND along the chain so the
    // global max reaches everything → one color class.
    val cyc = (0 until k).flatMap { i =>
      val a = (2 * (k - 1 - i)).toLong; val b = a + 1
      Seq((a, b), (b, a))
    }
    val bridges = (0 until k - 1).map { i =>
      ((2 * (k - 1 - i)).toLong, (2 * (k - 2 - i)).toLong)
    }
    val arcs = (cyc ++ bridges).toDF("src", "dst")
    val got = Scc.run(arcs, (0L until (2L * k)).toDF("vid"), maxOuter = 8,
      localFinishMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (0 until k).flatMap { i =>
      val lo = (2 * i).toLong; Seq(lo -> lo, (lo + 1) -> lo)
    }.toMap
    assert(got == expect)
  }

  test("SCC handles string vertex ids (both paths)") {
    val arcs = Seq(("a", "b"), ("b", "a"), ("b", "c")).toDF("src", "dst")
    for (gate <- Seq(1L << 20, 0L)) {
      val got = Scc.run(arcs, Seq("a", "b", "c").toDF("vid"), localFinishMax = gate)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == Map("a" -> "a", "b" -> "a", "c" -> "c"), s"gate=$gate")
    }
  }

  test("random walks match the independent md5-replay oracle; dead ends stop") {
    // Graph: 0→{1,2,3}, 1→{2}, 2→{0,3}, 3 dead end, 4 isolated.
    val arcSeq = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (2L, 0L), (2L, 3L))
    val n = 5
    val walkLen = 6; val perVertex = 3
    // Driver oracle sharing NO code with the engine: dst-sorted adjacency,
    // first-8-md5-hex-digits of "w|start|walk|t" mod outdeg.
    val adj = arcSeq.groupBy(_._1).map { case (s, as) => s -> as.map(_._2).sorted }
    def h(start: Long, walk: Long, t: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"w|$start|$walk|$t".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val expect = (for {
      start <- 0L until n.toLong
      walk <- 0L until perVertex.toLong
    } yield {
      var cur = start
      var rows = List((start, walk, 0L, cur))
      var t = 1
      var dead = false
      while (t <= walkLen && !dead) {
        adj.get(cur) match {
          case Some(nbrs) =>
            cur = nbrs((h(start, walk, t) % nbrs.length).toInt)
            rows ::= ((start, walk, t.toLong, cur))
          case None => dead = true
        }
        t += 1
      }
      rows
    }).flatten.toSet
    val got = Walks.randomWalks(arcSeq.toDF("src", "dst"),
        (0L until n.toLong).toDF("vid"), walkLen, perVertex)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect)
    // Determinism across partitionings.
    val got2 = Walks.randomWalks(arcSeq.toDF("src", "dst").repartition(7),
        (0L until n.toLong).toDF("vid"), walkLen, perVertex)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got2 == expect)
  }

  test("skip-gram pairs: window-2 co-occurrences match a hand-rolled count") {
    // One walk corpus with two walks, checked against a driver-side
    // enumeration of the same window rule (every ordered pair within 2
    // steps, both directions, per walk).
    val walks = Seq(
      // walk (0, 0): 5 -> 6 -> 7 -> 6
      (5L, 0L, 0L, 5L), (5L, 0L, 1L, 6L), (5L, 0L, 2L, 7L), (5L, 0L, 3L, 6L),
      // walk (9, 1): 9 -> 5 (dead end after one step)
      (9L, 1L, 0L, 9L), (9L, 1L, 1L, 5L))
      .toDF("start", "walk", "step", "vid")
    val rows = Seq(
      (5L, 0L, Seq(5L, 6L, 7L, 6L)), (9L, 1L, Seq(9L, 5L)))
    val want = rows.flatMap { case (_, _, vs) =>
      for {
        i <- vs.indices; j <- vs.indices
        if i != j && math.abs(i - j) <= 2
      } yield (vs(i), vs(j))
    }.groupBy(identity).map { case ((c, x), hits) => (c, x, hits.size.toLong) }.toSet
    val got = Walks.skipGramPairs(walks, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("bow-tie classification: core/in/out/other on a handcrafted web") {
    // core cycle 2↔3↔4 (2→3→4→2), in: 0→2, 1→0 (chain into core),
    // out: 4→5, 5→6; other: 7→8 (tendril pair off nothing), isolated 9.
    val arcs = Seq((2L, 3L), (3L, 4L), (4L, 2L), (0L, 2L), (1L, 0L),
      (4L, 5L), (5L, 6L), (7L, 8L)).toDF("src", "dst")
    val verts = (0L to 9L).toDF("vid")
    val scc = Scc.run(arcs, verts)
    val giant = scc.groupBy("scc").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("scc").asc).limit(1).select("scc")
    val core = scc.join(giant, "scc").select("vid")
    val fromCore = Bfs.hops(arcs, verts, core)
      .where(col("hops").isNotNull).select("vid")
    val toCore = Bfs.hops(arcs.select(col("dst").as("src"), col("src").as("dst")),
        verts, core).where(col("hops").isNotNull).select("vid")
    val part = verts
      .join(core.withColumn("is_core", lit(true)), Seq("vid"), "left")
      .join(toCore.withColumn("is_in", lit(true)), Seq("vid"), "left")
      .join(fromCore.withColumn("is_out", lit(true)), Seq("vid"), "left")
      .select(col("vid"),
        when(col("is_core"), "core").when(col("is_in"), "in")
          .when(col("is_out"), "out").otherwise("other").as("part"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(part == Map(0L -> "in", 1L -> "in", 2L -> "core", 3L -> "core",
      4L -> "core", 5L -> "out", 6L -> "out", 7L -> "other", 8L -> "other",
      9L -> "other"))
  }

  /** Driver-side per-root BFS distance distribution over DIRECTED arcs. */
  private def denseDistribution(n: Int, arcs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = Array.fill(n)(List.empty[Int])
    for ((u, v) <- arcs.distinct if u != v) adj(u.toInt) ::= v.toInt
    val counts = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (root <- 0 until n) {
      val dist = Array.fill(n)(-1L)
      dist(root) = 0L
      var frontier = List(root)
      var d = 0L
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(adj).distinct.filter(dist(_) < 0)
        frontier.foreach(dist(_) = d)
      }
      for (v <- 0 until n if dist(v) >= 0) counts(dist(v)) += 1L
    }
    counts.toMap
  }

  /** Driver-side k-core peeling oracle (undirected, dedup, no loops). */
  private def corenessOracle(n: Int, arcs: Seq[(Long, Long)]): Array[Long] = {
    val adj = Array.fill(n)(collection.mutable.Set.empty[Int])
    for ((u, v) <- arcs if u != v) { adj(u.toInt) += v.toInt; adj(v.toInt) += u.toInt }
    val deg = adj.map(_.size)
    val core = Array.fill(n)(0L)
    val removed = Array.fill(n)(false)
    var k = 0
    var remaining = n
    while (remaining > 0) {
      val stack = collection.mutable.Stack.empty[Int]
      for (v <- 0 until n if !removed(v) && deg(v) <= k) stack.push(v)
      if (stack.isEmpty) k += 1
      else while (stack.nonEmpty) {
        val v = stack.pop()
        if (!removed(v)) {
          removed(v) = true; core(v) = k.toLong; remaining -= 1
          for (u <- adj(v) if !removed(u)) {
            deg(u) -= 1; if (deg(u) <= k) stack.push(u)
          }
        }
      }
    }
    core
  }

  test("neighborhood function exact on a directed path") {
    val arcs = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Neighborhood.exactDistribution(arcs, (0L to 3L).toDF("vid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 4L, 1L -> 3L, 2L -> 2L, 3L -> 1L))
  }

  for (seed <- Seq(11L, 31L)) {
    test(s"neighborhood function matches the per-root BFS oracle [seed=$seed]") {
      val n = 40
      val arcs = randomArcs(n, 120, seed).map(a => (a._1, a._2))
      val want = denseDistribution(n, arcs)
      // Both paths (round 6: gated all-roots driver kernel vs the
      // distributed loop — localKernelMax = 0 forces the latter).
      for (gate <- Seq(1L << 20, 0L)) {
        val got = Neighborhood.exactDistribution(
            arcs.toDF("src", "dst"), (0L until n.toLong).toDF("vid"),
            localKernelMax = gate)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"gate=$gate")
      }
    }
  }

  /** Driver-side per-root BFS distance matrix (−1 = unreachable). */
  private def denseDistances(n: Int, arcs: Seq[(Long, Long)]): Array[Array[Long]] = {
    val adj = Array.fill(n)(List.empty[Int])
    for ((u, v) <- arcs.distinct if u != v) adj(u.toInt) ::= v.toInt
    Array.tabulate(n) { root =>
      val dist = Array.fill(n)(-1L)
      dist(root) = 0L
      var frontier = List(root)
      var d = 0L
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(adj).distinct.filter(dist(_) < 0)
        frontier.foreach(dist(_) = d)
      }
      dist
    }
  }

  for (seed <- Seq(17L, 53L)) {
    test(s"exact harmonic centrality matches the dense inbound oracle [seed=$seed]") {
      val n = 40
      val arcs = randomArcs(n, 120, seed).map(a => (a._1, a._2))
      val dist = denseDistances(n, arcs)
      val want = Array.tabulate(n) { v =>
        (0 until n).map { u => val d = dist(u)(v); if (d > 0) 1.0 / d else 0.0 }.sum
      }
      val got = Neighborhood.harmonicExact(
          arcs.toDF("src", "dst"), (0L until n.toLong).toDF("vid"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      for (v <- 0 until n)
        assert(math.abs(got(v.toLong) - want(v)) < 1e-12, s"vid=$v")
    }
  }

  test("HyperBall harm on reversed arcs tracks exact inbound harmonic") {
    val n = 300
    val arcs = randomArcs(n, 900, 47L).map(a => (a._1, a._2))
    val dist = denseDistances(n, arcs)
    val want = Array.tabulate(n) { v =>
      (0 until n).map { u => val d = dist(u)(v); if (d > 0) 1.0 / d else 0.0 }.sum
    }
    // Reverse the arcs: out-balls on the reversed graph are in-balls on
    // the original, so `harm` becomes the inbound Boldi-Vigna sum.
    val (_, balls) = Neighborhood.hyperball(
      arcs.map { case (u, v) => (v, u) }.toDF("src", "dst"),
      (0L until n.toLong).toDF("vid"), lgK = 12)
    val got = balls.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // lgK=12 over ≤300-element balls is near-exact; per-vertex 5% plus a
    // small absolute floor for low-centrality vertices.
    for (v <- 0 until n)
      assert(math.abs(got(v.toLong) - want(v)) <= math.max(0.05 * want(v), 0.5),
        s"vid=$v got=${got(v.toLong)} want=${want(v)}")
    val totGot = got.values.sum
    val totWant = want.sum
    assert(math.abs(totGot - totWant) / totWant < 0.02)
  }

  test("HyperBall tracks the exact cumulative N(t) within sketch error") {
    val n = 300
    val arcs = randomArcs(n, 900, 47L).map(a => (a._1, a._2))
    val exact = denseDistribution(n, arcs)
    val exactCum = exact.keys.toSeq.sorted.scanLeft(((-1L), 0.0)) {
      case ((_, acc), t) => (t, acc + exact(t))
    }.tail.toMap
    val (curve, balls) = Neighborhood.hyperball(
      arcs.toDF("src", "dst"), (0L until n.toLong).toDF("vid"),
      lgK = 12)
    // lgK=12 over <=300-element balls keeps the HLL in its linear-
    // counting near-exact regime; 5% headroom guards the regime border.
    for ((t, est) <- curve if exactCum.contains(t.toLong)) {
      val want = exactCum(t.toLong)
      assert(math.abs(est - want) / want < 0.05, s"t=$t est=$est want=$want")
    }
    // The curve must run to saturation: its last point covers all pairs.
    val total = exact.values.sum.toDouble
    assert(math.abs(curve.last._2 - total) / total < 0.05)
    // Per-vertex ball sizes sum to the same final mass.
    val ballSum = balls.agg(sum("ball_size")).first().getDouble(0)
    assert(math.abs(ballSum - total) / total < 0.05)
  }

  test("effective diameter from a cumulative curve") {
    // mass 1, 4, 8, 9.5, 10 -> 90% of 10 is 9 -> first t reaching it is 3;
    // 50% of 10 is 5 -> first t reaching it is 2 (mass 8).
    val curve = Seq(0 -> 1.0, 1 -> 4.0, 2 -> 8.0, 3 -> 9.5, 4 -> 10.0)
    assert(Neighborhood.effectiveDiameter(curve) == 3)
    assert(Neighborhood.effectiveDiameter(curve, q = 0.5) == 2)
  }

  for (seed <- Seq(13L, 41L)) {
    test(s"k-core coreness matches the peeling oracle [seed=$seed]") {
      val n = 50
      val dirArcs = randomArcs(n, 150, seed).map(a => (a._1, a._2))
      val und = dirArcs.flatMap { case (u, v) => Seq((u, v), (v, u)) }.distinct
      val want = corenessOracle(n, und)
      val got = KCore.run(und.toDF("src", "dst"), (0L until n.toLong).toDF("vid"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for (v <- 0 until n) assert(got(v.toLong) == want(v), s"vid=$v")
    }
  }

  test("k-core on a clique with a tail and an isolated vertex") {
    // 5-clique {1..5} (coreness 4), tail 5-6-7 (coreness 1), isolated 0.
    val clique = for (u <- 1L to 5L; v <- 1L to 5L if u != v) yield (u, v)
    val tail = Seq((5L, 6L), (6L, 5L), (6L, 7L), (7L, 6L))
    val got = KCore.run((clique ++ tail).toDF("src", "dst"), (0L to 7L).toDF("vid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L,
      5L -> 4L, 6L -> 1L, 7L -> 1L))
  }

  test("walks/k-core/LPA driver gates == distributed paths (r7 gates)") {
    // The round-7 bounded driver kernels must be EXACTLY the distributed
    // answer — same discipline as the CC/HITS/Triangles/Bfs gates. Long
    // vids here; string vids covered below. walkLen 64 exercises the
    // window skip-gram rewrite far past the bench's walkLen 8.
    val arcs = randomArcs(60, 240, 7L).map(a => (a._1, a._2)).distinct
    val und = arcs.flatMap { case (u, v) => Seq((u, v, 1.0), (v, u, 1.0)) }.distinct
    val verts = (0L until 60L).toDF("vid")
    def setOf(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet

    val wG = Walks.randomWalks(arcs.toDF("src", "dst"), verts, 64, 2)
    val wD = Walks.randomWalks(arcs.toDF("src", "dst"), verts, 64, 2,
      localKernelMax = 0)
    assert(setOf(wG) == setOf(wD), "walks gate mismatch")
    assert(setOf(Walks.skipGramPairs(wG, window = 3)) ==
      setOf(Walks.skipGramPairs(wD, window = 3)), "skip-gram over gated walks")

    val undDf = und.toDF("src", "dst", "weight")
    assert(setOf(KCore.run(undDf, verts)) ==
      setOf(KCore.run(undDf, verts, localKernelMax = 0)), "k-core gate mismatch")
    assert(setOf(LabelProp.run(undDf, verts, maxIter = 10)._1) ==
      setOf(LabelProp.run(undDf, verts, maxIter = 10, localKernelMax = 0)._1),
      "LPA gate mismatch")
  }

  test("walks/k-core/LPA driver gates handle string vids (SQL binary order)") {
    // String ids sort by UTF8 bytes in SQL; the gated kernels must use
    // the same order for adjacency indexing and label tie-breaks.
    val arcs = randomArcs(40, 160, 23L).map(a => (s"e${a._1}", s"e${a._2}")).distinct
    val und = arcs.flatMap { case (u, v) => Seq((u, v, 1.0), (v, u, 1.0)) }.distinct
    val verts = (0 until 40).map(i => s"e$i").toDF("vid")
    def setOf(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val wG = Walks.randomWalks(arcs.toDF("src", "dst"), verts, 8, 2)
    val wD = Walks.randomWalks(arcs.toDF("src", "dst"), verts, 8, 2,
      localKernelMax = 0)
    assert(setOf(wG) == setOf(wD), "string walks gate mismatch")
    val undDf = und.toDF("src", "dst", "weight")
    assert(setOf(KCore.run(undDf, verts)) ==
      setOf(KCore.run(undDf, verts, localKernelMax = 0)), "string k-core gate")
    assert(setOf(LabelProp.run(undDf, verts, maxIter = 10)._1) ==
      setOf(LabelProp.run(undDf, verts, maxIter = 10, localKernelMax = 0)._1),
      "string LPA gate")
  }

  test("HyperBall driver gate == distributed sketch loop (r7 gate)") {
    // Same RegHll register ops on both paths: per-vertex (ball_size,
    // harm) must be EXACTLY equal; the curve sums per-vertex sizes in a
    // different order, so it is compared to 1e-9 relative.
    val arcs = randomArcs(80, 320, 77L).map(a => (a._1, a._2)).distinct
    val verts = (0L until 80L).toDF("vid")
    val arcsDf = arcs.toDF("src", "dst")
    val (cG, bG) = Neighborhood.hyperball(arcsDf, verts, lgK = 8)
    val (cD, bD) = Neighborhood.hyperball(arcsDf, verts, lgK = 8, localKernelMax = 0)
    assert(cG.length == cD.length, s"curve lengths ${cG.length} vs ${cD.length}")
    cG.zip(cD).foreach { case ((tg, vg), (td, vd)) =>
      assert(tg == td && math.abs(vg - vd) <= 1e-9 * math.max(1.0, vd),
        s"curve@$tg: $vg vs $vd")
    }
    val g = bG.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val d = bD.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(g == d, "per-vertex ball_size/harm mismatch")
  }

  test("CC local contraction: identical labels with preContract on/off") {
    val arcs = graft.graph.Adjacency.symmetrize(
      randomArcs(200, 150, 99L).toDF("src", "dst", "weight"))
    val vertices = (0L until 200L).toDF("vid")
    def labels(pre: Boolean) =
      // gate disabled: this spec compares the DISTRIBUTED path's two
      // pre-contraction variants (the default gate would short-circuit
      // both to the same driver union-find and prove nothing).
      ConnectedComponents.run(arcs, vertices, preContract = pre,
          localFinishMax = 0L)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(true) == labels(false))
  }

  test("CC gated driver finish == star loop, reports 0 rounds, handles strings") {
    val arcs = graft.graph.Adjacency.symmetrize(
      randomArcs(300, 260, 41L).toDF("src", "dst", "weight"))
    val vertices = (0L until 300L).toDF("vid")
    val (gatedL, gatedRounds) = ConnectedComponents.run(arcs, vertices)
    val (starL, starRounds) = ConnectedComponents.run(arcs, vertices,
      localFinishMax = 0L)
    assert(gatedRounds == 0 && starRounds >= 1)
    assert(gatedL.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      starL.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // String vids: natural JVM order == SQL least/greatest order, so the
    // gate's canonical min-component id matches the star fixpoint's.
    val sArcs = Seq(("e-b", "e-a"), ("e-c", "e-b"), ("e-y", "e-x"))
      .flatMap { case (u, v) => Seq((u, v), (v, u)) }.toDF("src", "dst")
    val sVerts = Seq("e-a", "e-b", "e-c", "e-x", "e-y", "e-lone").toDF("vid")
    val sGate = ConnectedComponents.run(sArcs, sVerts)._1
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sGate == Map("e-a" -> "e-a", "e-b" -> "e-a", "e-c" -> "e-a",
      "e-x" -> "e-x", "e-y" -> "e-x", "e-lone" -> "e-lone"))
  }

  test("CC local contraction: pair set shrinks to <= one pair per vertex per partition") {
    // A dense blob: 20 vertices, ~600 arcs in ONE partition must contract
    // to <= 19 spanning-star pairs before the first shuffle.
    val arcs = randomArcs(20, 600, 5L).map { case (u, v, _) => (u, v) }
    val pairs = arcs.toDF("u", "v").repartition(1)
    val contracted = ConnectedComponents.localContract(pairs)
    assert(contracted.count() <= 19L)
    // And connectivity is preserved: same components either way.
    val full = arcs.toDF("src", "dst").withColumn("weight", lit(1.0))
    val vertices = (0L until 20L).toDF("vid")
    val viaContract = ConnectedComponents.run(
      graft.graph.Adjacency.symmetrize(full), vertices)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaMinLabel = ConnectedComponents.runMinLabel(
      graft.graph.Adjacency.symmetrize(full), vertices)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaContract == viaMinLabel)
  }

  test("CC local contraction handles string vertex ids") {
    val pairs = Seq(("entity-b", "entity-a"), ("entity-b", "entity-c"),
      ("entity-x", "entity-y")).toDF("u", "v").repartition(1)
    val got = ConnectedComponents.localContract(pairs)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("entity-a", "entity-b"), ("entity-a", "entity-c"),
      ("entity-x", "entity-y")))
  }

  test("driver gates fall through on BinaryType vids (gated == distributed)") {
    // A 3-vertex triangle on binary ids: the gated kernels must answer
    // exactly like the distributed loops (coreness 2, equal HITS scores,
    // 1 hop from the seed), not drop every arc on reference equality.
    val b = (0 to 2).map(i => Array[Byte](i.toByte))
    val und = Seq((0, 1), (1, 2), (2, 0))
      .flatMap { case (u, v) => Seq((b(u), b(v), 1.0), (b(v), b(u), 1.0)) }
      .toDF("src", "dst", "weight")
    val verts = b.toDF("vid")
    def byKey(df: org.apache.spark.sql.DataFrame): Map[Seq[Byte], Seq[Any]] =
      df.collect().map(r => r.getAs[Array[Byte]](0).toSeq -> r.toSeq.drop(1).map {
        case a: Array[Byte] => a.toSeq
        case x => x
      }).toMap
    for (gate <- Seq(1L << 20, 0L)) {
      val core = byKey(KCore.run(und, verts, localKernelMax = gate))
      assert(core.values.toSet == Set(Seq(2L)) && core.size == 3, s"k-core gate=$gate: $core")
      val hits = byKey(Hits.run(und, verts, sweeps = 5, localKernelMax = gate))
      assert(hits.size == 3 && hits.values.forall(_.forall(h =>
        math.abs(h.asInstanceOf[Double] - 1.0 / math.sqrt(3.0)) < 1e-12)), s"hits gate=$gate: $hits")
      val hops = byKey(Bfs.hops(und, verts, Seq(b(0)).toDF("vid"), localKernelMax = gate))
      assert(hops == Map(b(0).toSeq -> Seq(0L), b(1).toSeq -> Seq(1L), b(2).toSeq -> Seq(1L)),
        s"bfs gate=$gate: $hops")
      val scc = byKey(Scc.run(und, verts, localFinishMax = gate))
      assert(scc.values.toSet == Set(Seq(b(0).toSeq)) && scc.size == 3, s"scc gate=$gate")
      val lpa = byKey(LabelProp.run(und, verts, maxIter = 10, localKernelMax = gate)._1)
      assert(lpa.size == 3, s"lpa gate=$gate")
      val dist = Neighborhood.exactDistances(und, verts, localKernelMax = gate).count()
      assert(dist == 9L, s"exact distances gate=$gate")
    }
  }

  test("SCC minimum is SQL's UTF-8 order outside the Basic Multilingual Plane (both paths)") {
    // java.lang.String order puts U+1F600 (a surrogate pair) before
    // U+FFFD; Spark's UTF-8 byte order, and so the distributed min, after.
    val lo = "a\uFFFD"; val hi = "a\uD83D\uDE00"
    val arcs = Seq((lo, hi), (hi, lo)).toDF("src", "dst")
    for (gate <- Seq(1L << 20, 0L)) {
      val got = Scc.run(arcs, Seq(lo, hi).toDF("vid"), localFinishMax = gate)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == Map(lo -> lo, hi -> lo), s"gate=$gate")
    }
  }

  test("LPA with fractional weights: gated == distributed (integer-weight gate)") {
    // Per target t: three parallel arcs from s1 = 3t+1 whose weights sum
    // to 0.6 or 0.6000000000000001 depending on summation order, against
    // one 0.6 arc from s0 = 3t. A driver sum in a different order than the
    // distributed partial aggregation flips the tie-break, so fractional
    // weights must take the distributed path.
    val perms = Seq(0.1, 0.2, 0.3).permutations.toSeq
    val arcs = (0 until 24).flatMap { t =>
      val (s0, s1, d) = (3L * t, 3L * t + 1, 3L * t + 2)
      (s0, d, 0.6) +: perms(t % perms.length).map(w => (s1, d, w))
    }.toDF("src", "dst", "weight").repartition(3)
    val verts = (0L until 72L).toDF("vid")
    def run(gate: Long) = LabelProp.run(arcs, verts, maxIter = 5, localKernelMax = gate)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1L << 20) == run(0L))
  }
}
