package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-core decomposition: coreness(v) = the largest k such that v belongs
  * to a subgraph where every vertex has degree ≥ k. The standard
  * web-graph density/spam signal (dense cores ≈ link farms / hot
  * communities; the reference's entity graph concentrates its synonymy
  * edges exactly there).
  *
  * Distributed h-index iteration (Montresor, De Pellegrini & Miorandi,
  * "Distributed k-core decomposition", IEEE TPDS 2013 — public
  * algorithm): start c(v) = deg(v), repeat
  *
  *   c(v) ← H({ c(u) : u ∈ N(v) })
  *
  * where H is the h-index (largest h with ≥ h neighbors of value ≥ h).
  * Every c(v) is non-increasing and lower-bounded by coreness(v); the
  * fixpoint IS the coreness (Montresor et al.'s convergence proof).
  * Each round is closed-form, so a fixed-round unrolled SQL oracle
  * value-checks the whole run (q41, same design as q27c/q33/q35).
  *
  * Event-driven rounds (the paper's actual schedule): a vertex is DIRTY
  * while its value still falls, and a round recomputes H only for
  * vertices with ≥ 1 dirty neighbor — skipped vertices keep their value
  * (their inputs did not change, so their output could not). Round cost
  * is O(frontier arcs), not O(E); termination (zero dirty) is the exact
  * fixpoint, with no separate change-detector join. Loop mechanics
  * follow the HyperBall discipline: arcs persisted pre-hashed on BOTH
  * keys, state kept hash(vid) by a [[Fixpoint]] pin every round, three
  * frontier-sized exchanges per round (affected
  * ids, value gather by dst, h-index window by src), one action per
  * round carrying the dirty count.
  *
  * The h-index itself is a row_number window keyed by vertex — partial
  * values can't combine map-side, but the window state is one vertex's
  * neighbor list at a time (sort-based, spillable), and values are
  * capped by c(v) ≤ deg(v), so Zipf hubs cost a sort of their
  * adjacency, not a hot reducer. Rounds needed in practice: O(few) on
  * web-ish graphs; a long induced path degrades to O(path length)
  * (bounded by `maxRounds`, same caveat as min-label CC).
  */
object KCore {

  /** @param arcs     UNDIRECTED arc table (src, dst) — both directions
    *                  present (symmetrized), self-loops excluded;
    *                  deduplicated here.
    * @param vertices (vid) full vertex set; isolated vertices → 0
    * @return (vid, coreness: Long) at the fixpoint. THROWS if `maxRounds`
    *         is exhausted with dirty vertices left: the values would be
    *         upper bounds, not coreness, and returning them silently is
    *         how a chain-heavy graph ships wrong analytics (a sparse Zipf
    *         graph was measured to need a few hundred rounds —
    *         bench.KCoreProbe). Callers that explicitly tolerate bounds
    *         use [[runWithStats]] and check `converged` themselves.
    * @param localKernelMax row cap of the [[LocalGraph]] gate (0 disables it)
    */
  def run(arcs: DataFrame, vertices: DataFrame, maxRounds: Int = 512,
          verbose: Boolean = false, localKernelMax: Long = 1L << 20): DataFrame = {
    // Driver kernel under the [[LocalGraph]] gate: the h-index fixpoint is
    // integer-exact, so it equals the distributed event-driven loop; on a
    // tiny graph the distributed rounds are pure scheduling floor
    // (measured 2.2 s / 22 jobs at bench sf0.1 on 31 vertices).
    if (LocalGraph.admit(localKernelMax, arcs, vertices).isDefined)
      return runLocal(LocalGraph.collect(arcs, Some(vertices)), maxRounds)
    val (out, rounds, converged) = runWithStats(arcs, vertices, maxRounds, verbose)
    require(converged,
      s"k-core h-index iteration did not converge within $rounds rounds " +
        s"(cap $maxRounds); values are still upper bounds — raise maxRounds " +
        "or call runWithStats to accept bounds explicitly")
    out
  }

  /** The gated driver kernel: synchronous h-index iteration to the same
    * fixpoint (the event-driven distributed rounds skip only provably-
    * unchanged vertices, so both reach the unique coreness fixpoint).
    * One row per distinct vertex. Arcs count only from vertices in the
    * vertex frame; a dangling dst endpoint still adds to its source's
    * degree but holds value 0, as in the distributed degree init.
    */
  private def runLocal(g: LocalGraph, maxRounds: Int): DataFrame = {
    val verts = g.vertexRows.distinct
    val inV = g.mask(verts)
    val csr = g.csr(distinct = true, keep = (s, d) => inV(s) && s != d)
    val off = csr.offsets
    var c = Array.tabulate(g.n)(v => (off(v + 1) - off(v)).toLong)
    var next = new Array[Long](g.n)
    val buf = new Array[Long](if (g.n == 0) 0 else c.max.toInt)
    var round = 0
    var changed = true
    while (changed && round < maxRounds) {
      changed = false
      var v = 0
      while (v < g.n) {
        // h-index of the neighbor values: largest h with h values >= h
        val d = off(v + 1) - off(v)
        var k = 0
        while (k < d) { buf(k) = c(csr.dsts(off(v) + k)); k += 1 }
        java.util.Arrays.sort(buf, 0, d)
        var h = 0L
        k = 0
        while (k < d) { h = math.max(h, math.min(k + 1L, buf(d - 1 - k))); k += 1 }
        next(v) = math.min(c(v), h)
        if (next(v) != c(v)) changed = true
        v += 1
      }
      val t = c; c = next; next = t
      round += 1
    }
    require(!changed || round < maxRounds,
      s"k-core h-index iteration did not converge within $maxRounds rounds")
    g.frame("vid" -> verts, "coreness" -> verts.map(c(_))).localCheckpoint(true)
  }

  /** [[run]] plus (rounds executed, converged) — converged=false means
    * the maxRounds cap hit with dirty vertices left, i.e. some values
    * are still upper bounds, not final coreness. Long induced paths are
    * the degenerate case (value propagation is one hop per round).
    */
  def runWithStats(arcs: DataFrame, vertices: DataFrame, maxRounds: Int = 64,
                   verbose: Boolean = false): (DataFrame, Int, Boolean) = {
    val spark = arcs.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val dedup = arcs.select("src", "dst").where(col("src") =!= col("dst")).distinct()
    // Two hash-partitioned copies: bySrc feeds the affected→out-arcs join
    // and the degree init, byDst feeds the dirty→affected probe and the
    // neighbor-value gather. 2×E storage for exchange-free joins on both
    // keys — the space/time trade a 10^12-arc deployment makes per key.
    val bySrc = dedup.repartition(nPart, col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    val byDst = dedup.repartition(nPart, col("dst")).persist(StorageLevel.MEMORY_AND_DISK)

    // c₀ = degree (bySrc is already hash(src): groupBy reuses it), zero
    // for isolated vertices; everyone starts dirty.
    val degrees = bySrc.groupBy(col("src").as("vid")).agg(count(lit(1)).as("c"))
    var state = Fixpoint.pin(vertices.select("vid").distinct()
      .join(degrees, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("c"), lit(0L)).as("c"), lit(true).as("dirty"))
      .repartition(nPart, col("vid")))

    def dirtyCount(st: DataFrame): Long =
      st.agg(sum(col("dirty").cast("long"))).first().getLong(0)

    var nDirty = dirtyCount(state)
    var round = 0
    while (nDirty > 0 && round < maxRounds) {
      // Vertices with ≥1 dirty neighbor — the only ones whose H can move.
      // The distinct's exchange lands on hash(vid)=hash(src), exactly the
      // partitioning the out-arcs join needs.
      val affected = byDst
        .join(state.where(col("dirty")).select(col("vid").as("dst")), "dst")
        .select(col("src")).distinct()
      // Gather all neighbor values of affected vertices (h needs the FULL
      // neighborhood, dirty or not), then the per-vertex h-index.
      val nb = bySrc.join(affected, "src")
        .join(state.select(col("vid").as("dst"), col("c").as("nc")), "dst")
        .select(col("src").as("vid"), col("nc"))
      val w = Window.partitionBy("vid").orderBy(col("nc").desc)
      val delta = nb.withColumn("rn", row_number().over(w))
        .groupBy("vid").agg(max(least(col("rn"), col("nc"))).as("nc"))
      // Merge: recomputed vertices take min(old, new) — monotone by
      // theory, min guards float-free exactness anyway — others carry.
      val merged = state.join(delta, Seq("vid"), "left")
        .select(col("vid"),
          when(col("nc").isNotNull, least(col("c"), col("nc")))
            .otherwise(col("c")).as("c"),
          (col("nc").isNotNull && col("nc") < col("c")).as("dirty"))
      state = Fixpoint.pin(merged) // keeps hash(vid, nPart)
      nDirty = dirtyCount(state)
      round += 1
      if (verbose) System.err.println(s"[kcore] round $round dirty=$nDirty")
    }
    val out = state.select(col("vid"), col("c").as("coreness")).localCheckpoint(true)
    bySrc.unpersist(false); byDst.unpersist(false)
    (out, round, nDirty == 0L)
  }
}
