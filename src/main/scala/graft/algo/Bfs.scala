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
  * explicit (`maxRounds`). Lineage truncated every `checkpointEvery`
  * rounds like the other iterative jobs.
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
    val spark = arcs.sparkSession
    if (LocalGraph.admit(localKernelMax, arcs, seeds).isDefined)
      return hopsLocal(LocalGraph.collect(arcs, Some(seeds)), vertices, maxRounds)
    def reRoot(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)
    val a0 = arcs.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)

    var reached = seeds.select(col("vid")).distinct()
      .select(col("vid"), lit(0L).as("hops"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var reachedLeaf = reRoot(reached)
    var frontier = reached // rows whose hops value is new this round
    var frontierLeaf = reachedLeaf
    var round = 0
    var grew = true
    while (grew && round < maxRounds) {
      // Only the FRONTIER gathers: a settled vertex relaxes nothing new
      // (unweighted hops never improve once assigned), so each round's
      // join is O(frontier arcs), not O(reached arcs).
      val cand = a0.join(frontierLeaf.withColumnRenamed("vid", "src"), "src")
        .groupBy(col("dst").as("vid")).agg(min(col("hops") + 1L).as("hops"))
      val fresh = cand.join(reachedLeaf.select("vid"), Seq("vid"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      grew = fresh.count() > 0L
      if (grew) {
        val merged = reachedLeaf.unionByName(reRoot(fresh))
        val next =
          if ((round + 1) % checkpointEvery == 0) merged.localCheckpoint(true)
          else merged.persist(StorageLevel.MEMORY_AND_DISK)
        next.count() // materialize before releasing parents
        reached.unpersist(false)
        if (frontier ne reached) frontier.unpersist(false)
        reached = next
        reachedLeaf = reRoot(reached)
        frontier = fresh
        frontierLeaf = reRoot(fresh)
      } else {
        fresh.unpersist(false)
      }
      round += 1
    }
    val out = vertices.select("vid")
      .join(reachedLeaf, Seq("vid"), "left")
      .select(col("vid"), col("hops"))
      .localCheckpoint(true)
    reached.unpersist(false)
    if (frontier ne reached) frontier.unpersist(false)
    a0.unpersist(false)
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
