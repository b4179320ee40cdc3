package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-source BFS hop distance over an arc table — "how far is every
  * page/entity from the seed set", the link-graph primitive behind crawl
  * frontier depth, seed-expansion neighborhoods and HippoRAG-style
  * "k-hop from the query entities" analyses (the reference's dense PPR
  * damping plays this role probabilistically; hops are its hard-edged
  * counterpart).
  *
  * Synchronous min-plus relaxation (Bellman-Ford specialization): each
  * round one join + one map-side-combinable groupBy(min); state is the
  * frontier-reached vertex set only (not all V), so early rounds shuffle
  * O(|reached|), not O(V). Converges in `diameter(reached region)`
  * rounds — web graphs are small-diameter, and the round bound is
  * explicit (`maxRounds`). The loop ([[relax]], shared with
  * [[Neighborhood.exactDistances]]) follows [[Fixpoint]]: the settled set
  * is truncated every `checkpointEvery` rounds.
  */
object Bfs {

  /** @param arcs     directed (src, dst, ...) — symmetrize first for
    *                  undirected semantics
    * @param vertices (vid) full vertex set
    * @param seeds    (vid) distance-0 set (deduplicated here)
    * @param localKernelMax row cap of the [[LocalGraph]] gate on the arcs
    *        and the seeds (0 disables it): an admitted graph runs ONE
    *        driver multi-source BFS instead of O(diameter) distributed
    *        rounds of ~3 scheduled stages each. Hop counts are integers,
    *        so both paths agree exactly.
    * @return (vid, hops) for EVERY vertex; unreachable → null hops
    */
  def hops(arcs: DataFrame, vertices: DataFrame, seeds: DataFrame,
           maxRounds: Int = 64, checkpointEvery: Int = 5,
           localKernelMax: Long = 1L << 20): DataFrame = {
    if (LocalGraph.admit(localKernelMax, arcs, seeds).isDefined)
      return hopsLocal(LocalGraph.collect(arcs, Some(seeds)), vertices, maxRounds)
    val a0 = arcs.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    val out = relax(a0, seeds.select(col("vid")).distinct().select(col("vid"), lit(0L).as("hops")),
        Nil, maxRounds, checkpointEvery) { settled =>
      vertices.select("vid")
        .join(settled, Seq("vid"), "left")
        .select(col("vid"), col("hops"))
        .localCheckpoint(true)
    }
    a0.unpersist(false)
    out
  }

  /** Synchronous frontier relaxation to exhaustion (or `maxRounds`), per
    * key: starting from the hop-0 rows `init` (keys…, vid, hops), each
    * round moves one hop along `arcs` (src, dst) from the rows settled
    * last round only — an unweighted distance never improves once
    * settled, so a round's join is O(frontier arcs), not O(reached arcs).
    * [[hops]] runs it with no key, [[Neighborhood.exactDistances]] keyed by
    * root. `readOut` pins its result from the settled (keys…, vid, hops)
    * rows before the loop state is released.
    */
  private[algo] def relax(arcs: DataFrame, init: DataFrame, keys: Seq[String],
                          maxRounds: Int, checkpointEvery: Int)
                         (readOut: DataFrame => DataFrame): DataFrame = {
    val lineage = new Fixpoint.Lineage(checkpointEvery)
    var settled = Fixpoint.leaf(lineage.hold(init.persist(StorageLevel.MEMORY_AND_DISK)))
    var frontier = settled
    var fresh: Option[DataFrame] = None // the persisted frontier, after round 1
    var round = 0
    var grew = true
    while (grew && round < maxRounds) {
      val cand = arcs.join(frontier.withColumnRenamed("vid", "src"), "src")
        .groupBy(keys.map(col) :+ col("dst").as("vid"): _*)
        .agg(min(col("hops") + 1L).as("hops"))
      val next = cand.join(settled.select((keys :+ "vid").map(col): _*), keys :+ "vid", "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      grew = next.count() > 0L
      if (grew) {
        val nextLeaf = Fixpoint.leaf(next)
        val (state, _) = lineage.round(round + 1, settled.unionByName(nextLeaf))(_.count())
        fresh.foreach(_.unpersist(false))
        fresh = Some(next)
        settled = Fixpoint.leaf(state)
        frontier = nextLeaf
      } else next.unpersist(false)
      round += 1
    }
    val out = readOut(settled)
    lineage.release()
    fresh.foreach(_.unpersist(false))
    out
  }

  /** The gated driver kernel: the same multi-source BFS over dense-id
    * adjacency, levels capped at `maxRounds` like the distributed loop.
    */
  private def hopsLocal(g: LocalGraph, vertices: DataFrame, maxRounds: Int): DataFrame = {
    val dist = g.hops(g.csr(), g.vertexRows, maxRounds)
    val reached = dist.indices.filter(dist(_) >= 0L).toArray
    g.toFrame(vertices, "vid" -> reached, "hops" -> reached.map(dist(_))).localCheckpoint(true)
  }
}
