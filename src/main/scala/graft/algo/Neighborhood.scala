package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.SketchOps

/** Neighborhood function N(t) — the distance distribution of a directed
  * graph: for each hop count t, how many ordered pairs (u, v) have
  * shortest-path distance exactly t. The canonical web-graph statistic
  * behind "effective diameter" and "spid" (Broder et al. WWW'00 measured
  * it on the crawl graph the reference's corpus derives from).
  *
  * Two implementations, one contract:
  *
  *  - [[exactDistribution]]: all-roots synchronous BFS — state is the
  *    reached (root, vid) pair set, O(V·reach) rows. Exact, value-SQL-
  *    oracle-able (bounded recursive CTE); the small/medium-graph path
  *    and the correctness anchor for the sketch path.
  *
  *  - [[hyperball]]: HyperBall (Boldi & Vigna, "In-core computation of
  *    geometric centralities with HyperBall", 2013 — public algorithm):
  *    per-vertex HyperLogLog sketches of the out-ball, one
  *    join + register-max union aggregate per round, O(V · 2^lgK bytes)
  *    state TOTAL
  *    regardless of reach — the only way to get a distance distribution
  *    at 10^12-page scale. Sketches are the in-house register-array HLL
  *    kernel ([[org.apache.spark.sql.graftx.RegHll]] — TypedImperative
  *    aggregates with in-place merges and map-side partials; chosen over
  *    Spark's Datasketches hll_* builtins whose per-row sketch-object
  *    allocation was measured to anti-scale on the merge-heavy path),
  *    no UDFs.
  *
  * Both follow the [[Fixpoint]] loop discipline.
  */
object Neighborhood {

  /** Exact distance distribution of the directed graph `arcs` restricted
    * to roots in `vertices`. Returns (hops: Long, pairs: Long), hops = 0
    * counted (one per vertex), unreachable pairs absent — ordered by
    * hops.
    */
  def exactDistribution(arcs: DataFrame, vertices: DataFrame,
                        maxRounds: Int = 64, checkpointEvery: Int = 5,
                        localKernelMax: Long = 1L << 20): DataFrame =
    exactDistances(arcs, vertices, maxRounds, checkpointEvery, localKernelMax)
      .groupBy("hops").agg(count(lit(1)).as("pairs"))
      .orderBy("hops")

  /** Exact all-pairs shortest-path frame (root, vid, hops) of the
    * directed graph — every ordered pair (root → vid) with its hop
    * distance; unreachable pairs absent, (v, v, 0) present. O(V·reach)
    * rows: the exact anchor for the sketch paths, not the 10^12-scale
    * route (that is [[hyperball]]). `localKernelMax` is the row cap of the
    * [[LocalGraph]] gate (0 disables it).
    */
  def exactDistances(arcs: DataFrame, vertices: DataFrame,
                     maxRounds: Int = 64, checkpointEvery: Int = 5,
                     localKernelMax: Long = 1L << 20): DataFrame = {
    // Driver all-roots BFS under the [[LocalGraph]] gate. The result is
    // O(roots·reach) (root, vid, hops) rows, each carrying two vid payloads
    // like an arc row, so the gate also bounds the output: roots ×
    // (2·arcs + 1) (reach ⊆ arc endpoints ∪ root) must fit 2²¹ rows and,
    // at the probed per-arc-row byte estimate, twice the byte cap. Hop
    // counts are integers: both paths agree exactly.
    val admitted = LocalGraph.admit(localKernelMax, arcs, vertices).exists {
      case (pa, pv) =>
        val outRows = pv.rows * (2L * pa.rows + 1L)
        val perRowB = pa.estBytes / math.max(1L, pa.rows) + 8L
        outRows <= (1L << 21) && outRows * perRowB <= 2L * DriverGate.defaultMaxBytes
    }
    if (admitted) return exactDistancesLocal(LocalGraph.collect(arcs, Some(vertices)), maxRounds)
    // Bfs.hops' frontier relaxation, keyed by root.
    val a0 = arcs.select("src", "dst").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val out = Bfs.relax(a0, vertices.select(col("vid").as("root"), col("vid"), lit(0L).as("hops")),
      Seq("root"), maxRounds, checkpointEvery)(_.localCheckpoint(true))
    a0.unpersist(false)
    out
  }

  /** The gated driver kernel: per-root BFS over the distinct arcs, levels
    * capped at `maxRounds`. Emits the identical (root, vid, hops) pair set:
    * one hop-0 row per INPUT vertex row, like the distributed state init,
    * while everything past hop 0 is per distinct root, like its groupBy.
    */
  private def exactDistancesLocal(g: LocalGraph, maxRounds: Int): DataFrame = {
    val csr = g.csr(distinct = true)
    val (roots, at, hops) = (Array.newBuilder[Int], Array.newBuilder[Int], Array.newBuilder[Long])
    def emit(r: Int, v: Int, d: Long): Unit = { roots += r; at += v; hops += d }
    g.vertexRows.foreach(r => emit(r, r, 0L))
    g.vertexRows.distinct.foreach { r =>
      val dist = g.hops(csr, Array(r), maxRounds)
      dist.indices.foreach(v => if (dist(v) > 0L) emit(r, v, dist(v)))
    }
    g.frame("root" -> roots.result(), "vid" -> at.result(), "hops" -> hops.result())
      .localCheckpoint(true)
  }

  /** Exact INBOUND harmonic centrality H(v) = Σ_{u ≠ v, d(u,v) < ∞}
    * 1 / d(u,v) — the Boldi-Vigna "axioms for centrality" pick for web
    * graphs (handles disconnectedness where closeness degenerates).
    * Unreached vertices score 0. Exact anchor for the [[hyperball]]
    * `harm` column (which computes the same sum from sketch ball-size
    * deltas — pass REVERSED arcs there to match this direction).
    */
  def harmonicExact(arcs: DataFrame, vertices: DataFrame,
                    maxRounds: Int = 64): DataFrame = {
    val d = exactDistances(arcs, vertices, maxRounds)
    val h = d.where(col("hops") > 0L)
      .groupBy(col("vid"))
      .agg(sum(lit(1.0) / col("hops")).as("h"))
    vertices.select(col("vid")).distinct()
      .join(h, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("h"), lit(0.0)).as("harmonic"))
  }

  /** HyperBall: per-round estimates of the CUMULATIVE neighborhood
    * function N(t) = #pairs within distance ≤ t (t = 0 first), plus the
    * final per-vertex frame (vid, ball_size: Double, harm: Double).
    *
    * ball_{t+1}(v) = ball_t(v) ∪ ⋃_{(v,w)∈arcs} ball_t(w), with
    * Boldi-Vigna's "modified" tracking: a vertex is DIRTY while its
    * sketch bytes still change, and each round gathers only along arcs
    * whose head is dirty — so round cost is O(arcs-into-dirty + V),
    * not O(E), and the loop terminates at the exact sketch fixpoint
    * (zero dirty) rather than on a growth tolerance. On web-ish graphs
    * the dirty set collapses after ~effective-diameter rounds, which is
    * what makes the tail rounds near-free.
    *
    * Per round: one arc⋈dirty join + a register-max union aggregate
    * (declarative, so partial unions combine MAP-SIDE: shuffled bytes
    * are bounded by distinct-dirty-heads × sketch size, not gathered
    * rows), then one vid-equi-join merging the delta into the carried
    * state via the scalar union. ONE exchange per round: arcs are pre-hashed by
    * dst and the state stays hashed by vid across rounds — this loop
    * checkpoints EVERY round (not every K) because `localCheckpoint`
    * preserves outputPartitioning where the LogicalRDD re-root idiom
    * drops it, so the gather join and the state-merge join both reuse
    * the standing partitioning and only the transpose (groupBy src)
    * shuffles. The convergence probe (sum of sizes + dirty count) rides
    * the single action that materializes the round.
    *
    * `harm` accumulates Boldi-Vigna harmonic centrality from ball-size
    * deltas: harm(v) += (|B_t(v)| − |B_{t−1}(v)|) / t, clamped at ≥ 0
    * (the raw HLL estimator can jitter down by an ulp around its
    * switch-over). With `arcs` as given this is the OUTBOUND sum
    * Σ 1/d(v,u); pass reversed arcs for the standard inbound centrality
    * ([[harmonicExact]]'s direction).
    *
    * lgK=12 → 4 KiB per vertex, ~1.6% per-ball standard error; at 10^12
    * pages the state is sharded by vid and never collected.
    * `localKernelMax` is the row cap of the [[LocalGraph]] gate (0
    * disables it).
    */
  def hyperball(arcs: DataFrame, vertices: DataFrame, lgK: Int = 12,
                maxRounds: Int = 64, localKernelMax: Long = 1L << 20)
      : (Seq[(Int, Double)], DataFrame) = {
    val spark = arcs.sparkSession
    // Driver kernel under the [[LocalGraph]] gate, for Long vids only (the
    // kernel hashes the long like regHllAgg does) and at most 256 MB of
    // registers (V × 2^lgK bytes): each distributed round is a join + two
    // aggregates + a checkpoint — pure scheduling floor on a tiny graph.
    // The kernel calls the SAME RegHll statics (hash, register update,
    // max-merge, estimate), so the per-vertex (ball_size, harm) frame is
    // bit-identical; only the curve's Σ-size differs in summation ORDER
    // (few ulps — every consumer applies a ±5% sketch gate).
    val admitted = vertices.schema("vid").dataType == org.apache.spark.sql.types.LongType &&
      LocalGraph.admit(localKernelMax, arcs, vertices).exists(ps =>
        ps._2.rows * org.apache.spark.sql.graftx.RegHll.numRegisters(lgK).toLong <= (1L << 28))
    if (admitted) return hyperballLocal(LocalGraph.collect(arcs, Some(vertices)), lgK, maxRounds)
    val nPart = spark.sessionState.conf.numShufflePartitions
    // Pre-hash arcs by dst: every round's gather join then lines up with
    // the vid-hashed state without a new exchange.
    val a0 = arcs.select("src", "dst").distinct()
      .repartition(nPart, col("dst")).persist(StorageLevel.MEMORY_AND_DISK)

    // groupBy(vid) leaves the state hash(vid, nPart); a pin materializes
    // it WITH that partitioning, every round.
    var state = Fixpoint.pin(vertices.select("vid").distinct()
      .groupBy("vid").agg(SketchOps.regHllAgg(col("vid"), lgK).as("ball"))
      .select(col("vid"), col("ball"),
        SketchOps.regHllEstimate(col("ball")).as("size"),
        lit(0.0).as("harm"), lit(true).as("dirty"))
      // Explicit repartition: AQE may coalesce the groupBy's shuffle, and
      // a coalesced count would put the state out of line with a0's.
      .repartition(nPart, col("vid")))
    // One action per round: (Σ size, #dirty).
    def probe(st: DataFrame): (Double, Long) = {
      val r = st.agg(sum(col("size")), sum(col("dirty").cast("long"))).first()
      (r.getDouble(0), r.getLong(1))
    }
    var (n0, nDirty) = probe(state)
    var curve = List(0 -> n0)
    var round = 0
    while (nDirty > 0 && round < maxRounds) {
      val dirtyHeads = state.where(col("dirty"))
        .select(col("vid").as("dst"), col("ball"))
      val gathered = a0.join(dirtyHeads, "dst")
        .select(col("src").as("vid"), col("ball"))
      val delta = gathered.groupBy("vid")
        .agg(SketchOps.regHllUnionAgg(col("ball"), lgK).as("gball"))
      val merged = state.join(delta, Seq("vid"), "left")
        .withColumn("nball", when(col("gball").isNotNull,
          SketchOps.regHllUnion(col("ball"), col("gball"))).otherwise(col("ball")))
        // BinaryType equality is by content in Spark; register arrays
        // are byte-equal iff no register grew (no representation modes).
        .withColumn("ndirty", col("gball").isNotNull && !(col("nball") === col("ball")))
        .withColumn("nsize", when(col("ndirty"),
          SketchOps.regHllEstimate(col("nball"))).otherwise(col("size")))
        .select(col("vid"), col("nball").as("ball"), col("nsize").as("size"),
          (col("harm") + greatest(col("nsize") - col("size"), lit(0.0))
            / lit((round + 1).toDouble)).as("harm"),
          col("ndirty").as("dirty"))
      state = Fixpoint.pin(merged) // keeps hash(vid, nPart)
      val (nf, nd) = probe(state)
      nDirty = nd
      round += 1
      curve ::= (round -> nf)
    }
    val balls = state
      .select(col("vid"), col("size").as("ball_size"), col("harm"))
      .localCheckpoint(true)
    a0.unpersist(false)
    (curve.reverse, balls)
  }

  /** The gated driver kernel: identical HyperBall rounds on the SAME
    * [[org.apache.spark.sql.graftx.RegHll]] register operations the
    * distributed aggregates run — register-max union is order-insensitive,
    * the estimator scans registers in index order, and the per-round harm
    * accumulation is per-vertex sequential, so the (vid, ball_size, harm)
    * frame is exactly the distributed answer. Arcs count between vertices
    * of the vertex frame only (the distributed gather inner-joins dirty
    * heads on dst and the merge left-joins from the state on src).
    */
  private def hyperballLocal(g: LocalGraph, lgK: Int,
                             maxRounds: Int): (Seq[(Int, Double)], DataFrame) = {
    import org.apache.spark.sql.graftx.RegHll
    val verts = g.vertexRows.distinct
    val inV = g.mask(verts)
    val out = g.csr(distinct = true, keep = (s, d) => inV(s) && inV(d))
    val m = RegHll.numRegisters(lgK)
    val balls = new Array[Array[Byte]](g.n)
    val size = new Array[Double](g.n)
    verts.foreach { v =>
      balls(v) = new Array[Byte](m)
      RegHll.updateRegisters(balls(v), org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(g.vids(v).asInstanceOf[Long], RegHll.Seed), lgK)
      size(v) = RegHll.estimate(balls(v))
    }
    val harm = new Array[Double](g.n)
    val dirty = inV.clone()
    var nDirty = verts.length.toLong
    def total = verts.iterator.map(size(_)).sum
    var curve = List(0 -> total)
    var round = 0
    while (nDirty > 0 && round < maxRounds) {
      // delta(v) = register-max over balls of DIRTY out-neighbors w; all
      // deltas are taken before any ball moves (synchronous rounds)
      val delta = verts.map { v =>
        val ws = out.dsts.slice(out.offsets(v), out.offsets(v + 1)).filter(dirty(_))
        if (ws.isEmpty) null
        else { val d = new Array[Byte](m); ws.foreach(w => RegHll.maxInPlace(d, balls(w))); d }
      }
      nDirty = 0
      verts.indices.foreach { i =>
        val v = verts(i)
        if (delta(i) != null) {
          val nball = java.util.Arrays.copyOf(balls(v), m)
          RegHll.maxInPlace(nball, delta(i))
          val nd = !java.util.Arrays.equals(nball, balls(v))
          val nsize = if (nd) RegHll.estimate(nball) else size(v)
          harm(v) += math.max(nsize - size(v), 0.0) / (round + 1).toDouble
          balls(v) = nball
          size(v) = nsize
          dirty(v) = nd
          if (nd) nDirty += 1
        } else dirty(v) = false
      }
      round += 1
      curve ::= (round -> total)
    }
    (curve.reverse, g.frame("vid" -> verts, "ball_size" -> verts.map(size(_)),
      "harm" -> verts.map(harm(_))).localCheckpoint(true))
  }

  /** Effective diameter at quantile q (default 0.9, Broder et al.'s
    * convention) from a [[hyperball]] / cumulative-N(t) curve: the
    * smallest t whose N(t) reaches q of the final mass.
    */
  def effectiveDiameter(curve: Seq[(Int, Double)], q: Double = 0.9): Int = {
    require(curve.nonEmpty, "empty neighborhood curve")
    val target = q * curve.last._2
    curve.find(_._2 >= target).map(_._1).getOrElse(curve.last._1)
  }
}
