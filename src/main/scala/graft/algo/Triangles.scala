package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting by degree orientation (the standard two-join scheme).
  *
  * Every undirected edge is oriented from the endpoint with the smaller
  * (degree, vid) to the larger, which caps each vertex's oriented
  * out-degree at O(√E) — the classic mitigation that keeps the wedge join
  * from exploding on Zipf hubs. Wedges (a→b, a→c) close iff oriented edge
  * (b→c) exists; each triangle is found exactly once.
  *
  * Oracle: `networkx.triangles` (FIXTURES.md §4 tri_smoke).
  */
object Triangles {

  /** @param arcs symmetrized (src, dst, weight)
    * @param localKernelMax row cap of the [[LocalGraph]] gate on the
    *        DISTINCT undirected edge set (0 disables it): an admitted graph
    *        is counted by one driver kernel instead of the two-join wedge
    *        pipeline, ~5 scheduled stages riding the per-job floor on a
    *        tiny graph (q25 swung 3.6→5.8 s at bench sf0.1 on a 31-vertex
    *        graph). The gate's probe is the eager count the pipeline takes
    *        anyway; counts are integers, so both paths agree exactly.
    * @return (perVertex: (vid, triangles), total count)
    */
  def run(arcs: DataFrame, vertices: DataFrame,
          localKernelMax: Long = 1L << 20): (DataFrame, Long) = {
    // Undirected edge set, one row per unordered pair.
    val und = arcs.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .persist() // feeds degrees, orientation, and the closing probe
    // Eager probe (avoids branch-stage recompute races within one action);
    // doubles as the driver-kernel gate, row- AND byte-bounded.
    val probe = DriverGate.pairProbe(und, "a", "b")
    if (LocalGraph.fits(localKernelMax, probe) && LocalGraph.admits(und.schema("a").dataType)) {
      val out = runLocal(LocalGraph.collect(und.select(col("a").as("src"), col("b").as("dst"))),
        vertices)
      und.unpersist(false)
      return out
    }
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))

    val withDeg = und
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
    val oriented = withDeg.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("lo"), col("b").as("hi")))
          .otherwise(struct(col("b").as("lo"), col("a").as("hi"))).as("e"))
      .select(col("e.lo").as("u"), col("e.hi").as("v"))

    val e1 = oriented.select(col("u").as("a"), col("v").as("b"))
    val e2 = oriented.select(col("u").as("a2"), col("v").as("c"))
    // b<c alone enumerates each unordered wedge exactly once (e1/e2 range
    // over the same oriented edge set).
    val wedges = e1.join(e2, e1("a") === e2("a2") && e1("b") < e2("c"))
      .select(col("a"), col("b"), col("c"))
    // Wedge endpoints are normalized b<c, so the undirected (a<b) edge set
    // is directly the closing-edge probe table.
    val closing = und.select(col("a").as("b"), col("b").as("c"))
    val tris = wedges.join(closing, Seq("b", "c")).persist()
    val total = tris.count()
    val perVertex = tris.select(explode(array(col("a"), col("b"), col("c"))).as("vid"))
      .groupBy("vid").agg(count(lit(1)).as("triangles"))
    val all = vertices.select("vid")
      .join(perVertex, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("triangles"), lit(0L)).as("triangles"))
    // Pin the O(V) result and release the O(E)/O(wedges) working caches —
    // callers can't reach `und`/`tris`, so returning a frame that depends
    // on them would leak two cached frames per invocation in a long-lived
    // serving JVM (same localCheckpoint-then-unpersist discipline as
    // ConnectedComponents.run).
    val pinned = all.localCheckpoint(true)
    tris.unpersist(false)
    und.unpersist(false)
    (pinned, total)
  }

  /** The gated driver kernel: the same degree-oriented scheme over sorted
    * dense-id adjacency — orient lo→hi by (degree, id), merge-intersect
    * out-neighborhoods per oriented edge; each common out-neighbor w of
    * (u, v) is triangle {u, v, w}, found exactly once.
    */
  private def runLocal(g: LocalGraph, vertices: DataFrame): (DataFrame, Long) = {
    val deg = new Array[Int](g.n)
    g.src.foreach(deg(_) += 1)
    g.dst.foreach(deg(_) += 1)
    val out = g.csr(distinct = true,
      flip = (a, b) => deg(b) < deg(a) || (deg(a) == deg(b) && b < a))
    val (off, adj) = (out.offsets, out.dsts)
    val tri = new Array[Long](g.n)
    var total = 0L
    var u = 0
    while (u < g.n) {
      var p = off(u)
      while (p < off(u + 1)) {
        val v = adj(p)
        var x = off(u); var y = off(v)
        while (x < off(u + 1) && y < off(v + 1)) {
          val wu = adj(x); val wv = adj(y)
          if (wu == wv) { tri(u) += 1; tri(v) += 1; tri(wu) += 1; total += 1; x += 1; y += 1 }
          else if (wu < wv) x += 1
          else y += 1
        }
        p += 1
      }
      u += 1
    }
    val all = g.toFrame(vertices, "vid" -> Array.range(0, g.n), "t" -> tri)
      .select(col("vid"), coalesce(col("t"), lit(0L)).as("triangles"))
    (all.localCheckpoint(true), total)
  }
}
