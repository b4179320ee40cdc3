package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Weighted HITS (Kleinberg hubs & authorities) over a DIRECTED arc
  * table — the classic link-graph companion to PageRank for a
  * Common-Crawl-style web graph (north-rule tier `link_graph`). The
  * reference's graph memory is undirected, but its triples ARE directed
  * (subject → object, src/hipporag/information_extraction — the
  * undirection happens at graph-build, HippoRAG.py:1004-1012); HITS is
  * the analysis that direction pays for.
  *
  * Fixed `sweeps` double power iteration with L2 normalization after
  * each half-step (the networkx `hits` update shape), so every sweep is
  * closed-form and the whole run is expressible as a recursive-CTE SQL
  * oracle (same design as the q27c/q33 fixed-sweep PPR oracles):
  *
  *   a₁(v)  = Σ_{(u,v)∈arcs} w(u,v) · h(u);    aₙ = a₁ / ‖a₁‖₂
  *   h₁(u)  = Σ_{(u,v)∈arcs} w(u,v) · aₙ(v);   hₙ = h₁ / ‖h₁‖₂
  *
  * Scale shape: each half-step is one shuffle join on the arc table plus
  * a map-side-combinable groupBy; the norm is a broadcast one-row
  * crossJoin, NOT a driver action — sweeps are lazy [[Fixpoint]] rounds,
  * so the whole run executes as one Spark job per `checkpointEvery`
  * sweeps (2·sweeps driver round-trips made a tiny-graph run take 24 s of
  * pure scheduling; same action-count discipline as the PPR kernels).
  * State is O(V); Zipf hubs cost partial aggregation, not a hot reducer.
  */
object Hits {

  /** @param arcs     directed (src, dst, weight ≥ 0), no self-loops needed
    * @param vertices (vid) — every vertex, incl. ones without arcs
    * @param localKernelMax row cap of the [[LocalGraph]] gate (0 disables
    *        it): an admitted graph runs the whole double power iteration
    *        as ONE driver kernel instead of 2·sweeps distributed half-steps
    *        (20 sweeps over a tiny graph are ~160 scheduled stages of pure
    *        barrier floor, measured 17 s at bench sf0.1 on a 31-vertex
    *        graph vs <1 s gated). Driver == distributed to 1e-12
    *        (spec-pinned): both compute the same fixed-sweep update.
    * @return (vid, hub, authority), both L2-normalized at the last sweep
    */
  def run(arcs: DataFrame, vertices: DataFrame, sweeps: Int = 20,
          checkpointEvery: Int = 5, localKernelMax: Long = 1L << 20): DataFrame = {
    // sweeps = 0 would leave `auth` unbound (NPE at the final join) and has
    // no meaning anyway: HITS without a power step is just the init vector.
    require(sweeps >= 1, s"HITS needs at least one sweep (got $sweeps)")
    if (LocalGraph.admit(localKernelMax, arcs, vertices).isDefined)
      return runLocal(LocalGraph.collect(arcs, Some(vertices), weighted = true), sweeps)
    val a0 = arcs.select(col("src"), col("dst"), col("weight").cast("double").as("weight"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // distinct: the gated kernel deduplicates vids, and WITHOUT it here a
    // duplicate vid row would double-count through every half-step's left
    // join (inflated L2 norms) — the 1e-12 path-equality claim must hold
    // for all inputs, not just pre-deduplicated ones (round-5 advice).
    val verts = vertices.select("vid").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    verts.count() // materialize once; every half-step left-joins it

    // One shuffle half-step: scores (vid, c) gathered along arcs joined on
    // `side`, summed per opposite endpoint, zero-filled over all vertices.
    def gather(scores: DataFrame, side: String, out: String): DataFrame = {
      val other = if (side == "src") "dst" else "src"
      val contrib = a0.join(scores.withColumnRenamed("vid", side), side)
        .groupBy(col(other).as("vid"))
        .agg(sum(col("weight") * col(scores.columns(1))).as(out))
      verts.join(contrib, Seq("vid"), "left")
        .select(col("vid"), coalesce(col(out), lit(0.0)).as(out))
    }

    // LAZY L2 normalization: the norm is a one-row aggregate broadcast
    // back via crossJoin, so no per-half-step driver action exists. The
    // all-zero guard keeps zeros instead of NaN (empty arc side).
    def normalized(scores: DataFrame, c: String): DataFrame = {
      val n = scores.agg(sqrt(sum(col(c) * col(c))).as("_n"))
      scores.crossJoin(broadcast(n))
        .select(col("vid"),
          (col(c) / when(col("_n") === 0.0, lit(1.0)).otherwise(col("_n"))).as(c))
    }

    // normalized() references its input twice (norm branch + value
    // branch), so every half-step is re-leafed: a chained plan would grow
    // 4^sweeps. The leaf's RDD lineage is a DAG (shared node) whose
    // shuffle dependencies materialize once.
    var hub = verts.select(col("vid"), lit(1.0).as("h")).localCheckpoint(true)
    var auth: DataFrame = null
    var it = 0
    while (it < sweeps) {
      it += 1
      val last = it == sweeps
      val aN = Fixpoint.leaf(normalized(Fixpoint.leaf(gather(hub, "src", "a")), "a"))
      // A pin runs the (up to `checkpointEvery`) sweeps since the previous
      // one as ONE job — the inter-sweep DAG is a linear join chain, no
      // fan-out, so nothing recomputes exponentially. auth is pinned WITH
      // its hub (same underlying sweep) only at the end.
      hub = Fixpoint.lazyRound(it, checkpointEvery,
        normalized(Fixpoint.leaf(gather(aN, "dst", "h")), "h"), last)
      auth = if (last) Fixpoint.pin(aN) else aN
    }
    val out = hub.join(auth, "vid")
      .select(col("vid"), col("h").as("hub"), col("a").as("authority"))
      .localCheckpoint(true)
    a0.unpersist(false); verts.unpersist(false)
    out
  }

  /** The gated driver kernel: the same fixed-sweep update. Summation runs
    * in collected-arc order — deterministic, and within fp ulp of the
    * distributed partial-agg order (the q35 oracle rounds to 9 dp; the
    * equality spec pins 1e-12). Arcs with an endpoint outside the vertex
    * frame contribute nothing, as the distributed zero-fill over it.
    */
  private def runLocal(g: LocalGraph, sweeps: Int): DataFrame = {
    val verts = g.vertexRows.distinct
    val inV = g.mask(verts)
    val es = g.src.indices.filter(e => inV(g.src(e)) && inV(g.dst(e))).toArray
    val hub = Array.fill(g.n)(1.0)
    val auth = new Array[Double](g.n)
    def l2normalize(x: Array[Double]): Unit = {
      val nr = math.sqrt(x.map(v => v * v).sum)
      if (nr != 0.0) x.indices.foreach(x(_) /= nr)
    }
    for (_ <- 0 until sweeps) {
      java.util.Arrays.fill(auth, 0.0)
      es.foreach(e => auth(g.dst(e)) += g.weight(e) * hub(g.src(e)))
      l2normalize(auth)
      java.util.Arrays.fill(hub, 0.0)
      es.foreach(e => hub(g.src(e)) += g.weight(e) * auth(g.dst(e)))
      l2normalize(hub)
    }
    g.frame("vid" -> verts, "hub" -> verts.map(hub(_)), "authority" -> verts.map(auth(_)))
  }
}
