package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Synchronous weighted label propagation, deterministic by construction.
  *
  * label₀(v) = v. Each round, v adopts the label with the largest incident
  * weight sum among its neighbors' labels; ties break to the SMALLEST label
  * id; vertices with no neighbors keep their label. Stops when no label
  * changes or after `maxIter` (synchronous LPA can 2-cycle on bipartite
  * structures — the cap is part of the contract, SURVEY.md §7.3.6).
  *
  * The reference ships igraph whose async LPA is seed-dependent and
  * untestable; this synchronous min-tie-break variant is the documented,
  * oracle-able replacement (FIXTURES.md §4 lpa_smoke). The distributed
  * rounds follow [[Fixpoint]]: persisted, truncated every `checkpointEvery`.
  */
object LabelProp {

  /** @param localKernelMax row cap of the [[LocalGraph]] gate (0 disables
    *        it). This kernel also needs integer-valued weights: its vote
    *        sums are then exact in any order, so the driver kernel equals
    *        the distributed rounds; fractional weights take those rounds.
    */
  def run(arcs: DataFrame, vertices: DataFrame, maxIter: Int = 20,
          checkpointEvery: Int = 5, localKernelMax: Long = 1L << 20): (DataFrame, Int) = {
    // Per distributed round one join + groupBy + window — pure scheduling
    // floor on a tiny graph.
    if (LocalGraph.admit(localKernelMax, arcs, vertices, integerWeights = true).isDefined)
      return runLocal(LocalGraph.collect(arcs, Some(vertices), weighted = true), maxIter)
    runDistributed(arcs, vertices, maxIter, checkpointEvery)
  }

  /** The gated driver kernel: the same synchronous min-tie-break update.
    * Votes flow between vertices of the vertex frame only (the distributed
    * join keys labels on src and aggregates into existing dst rows); one
    * output row per input vertex row.
    */
  private def runLocal(g: LocalGraph, maxIter: Int): (DataFrame, Int) = {
    val inV = g.mask(g.vertexRows)
    val in = g.csr(keep = (s, d) => inV(s) && inV(d), flip = (_, _) => true)
    var labels = Array.range(0, g.n) // label = own dense id initially
    val votes = new Array[Double](g.n) // per-label weight sum, reset per vertex
    var iter = 0
    var changed = 1
    while (changed > 0 && iter < maxIter) {
      changed = 0
      val next = labels.clone()
      var v = 0
      while (v < g.n) {
        val (lo, hi) = (in.offsets(v), in.offsets(v + 1))
        if (hi > lo) {
          var e = lo
          while (e < hi) { votes(labels(in.dsts(e))) += in.weights(e); e += 1 }
          var best = labels(in.dsts(lo))
          e = lo
          while (e < hi) {
            val l = labels(in.dsts(e))
            if (votes(l) > votes(best) || (votes(l) == votes(best) && l < best)) best = l
            e += 1
          }
          e = lo
          while (e < hi) { votes(labels(in.dsts(e))) = 0.0; e += 1 }
          next(v) = best
          if (best != labels(v)) changed += 1
        }
        v += 1
      }
      labels = next
      iter += 1
    }
    val vs = g.vertexRows
    (g.frame("vid" -> vs, "label" -> vs.map(labels(_))).localCheckpoint(true), iter)
  }

  private def runDistributed(arcs: DataFrame, vertices: DataFrame, maxIter: Int,
                             checkpointEvery: Int): (DataFrame, Int) = {
    // A caller may hand an already-cached arc table whose plan equals the
    // projection (entityArcs is exactly (src,dst,weight)) — re-persisting
    // the identical plan only logs CacheManager warnings, and unpersisting
    // at the end would evict the CALLER's cache. Persist only when this
    // call owns the cache entry.
    val proj = arcs.select("src", "dst", "weight")
    val ownsCache = proj.storageLevel == StorageLevel.NONE
    val edges = if (ownsCache) proj.persist(StorageLevel.MEMORY_AND_DISK) else proj
    val lineage = new Fixpoint.Lineage(checkpointEvery)
    var labels = lineage.hold(vertices.select(col("vid"), col("vid").as("label"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val votes = labels.join(edges, labels("vid") === edges("src"))
        .groupBy(col("dst").as("vid"), col("label"))
        .agg(sum("weight").as("w"))
      val w = Window.partitionBy("vid").orderBy(col("w").desc, col("label").asc)
      val winners = votes.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("vid"), col("label").as("new_label"))
      val next = labels.join(winners, Seq("vid"), "left")
        .select(col("vid"),
          coalesce(col("new_label"), col("label")).as("label"),
          (coalesce(col("new_label"), col("label")) =!= col("label")).as("chg"))
      // The capped last round skips its changed count (nothing reads it):
      // the read-out pin below materializes that round instead.
      val last = iter + 1 == maxIter
      val (state, chg) = lineage.round(iter + 1, next)(s =>
        if (last) 0L else s.where(col("chg")).count())
      labels = state
      changed = chg
      iter += 1
    }
    // Pin the read-out, then release the last round's state: a caller
    // holds only the pin, and no round stays cached behind it.
    val out = labels.select("vid", "label").localCheckpoint(true)
    lineage.release()
    if (ownsCache) edges.unpersist(false)
    (out, iter)
  }
}
