package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED arc table — the bow-tie
  * decomposition primitive for Common-Crawl-style web graphs (Broder et
  * al.'s giant-SCC structure), complementing the undirected CC the
  * reference's graph memory uses.
  *
  * Distributed FW-coloring with trimming and MULTI-PIVOT class draining
  * (the MapReduce SCC scheme — same family as Salihoglu & Widom,
  * "Optimizing Graph Algorithms on Pregel-like Systems", VLDB'14):
  *
  *  1. TRIM: a vertex with no in-arcs or no out-arcs within the active
  *     subgraph is its own singleton SCC — peel to fixpoint. The arc set
  *     is filtered LAZILY against the latest active set (active shrinks
  *     monotonically, so only the newest set matters and the filter plan
  *     stays one join layer deep); the O(E) arc table is re-materialized
  *     once per OUTER round, never per peel.
  *  2. COLOR: propagate color(v) = max active vid that reaches v along
  *     forward arcs, run to the EXACT fixpoint (max-label rounds of one
  *     join + one map-side-combinable groupBy(max)). At the fixpoint an
  *     SCC's members share one reaching set, hence one color — the class
  *     invariant the pivot BFS below relies on, which is why this loop
  *     has no round cap (a truncated coloring can split an SCC across
  *     classes and silently fragment it).
  *  3. PIVOT BFS: each color class takes up to `pivotsPerClass` pivots
  *     (its largest vids — the class max, which always reaches the whole
  *     class, is pivot #1 by construction). ALL pivots of ALL classes run
  *     one simultaneous forward BFS and one simultaneous backward BFS,
  *     both restricted to same-color arcs and run to frontier exhaustion
  *     (never truncated: a cut-short BFS would assign a partial SCC).
  *     SCC(p) = fwd(p) ∩ bwd(p); two pivots of the same SCC find the
  *     same set, so a member takes min(pivot) as its provisional id.
  *     Restriction to same-color arcs is lossless: any p→v→p cycle lies
  *     entirely inside SCC(p), whose members all share p's fixpoint
  *     color, so every arc of the cycle is same-color.
  *  4. Remove assigned vertices, repeat.
  *
  * Each outer round assigns up to `pivotsPerClass` SCCs per color class
  * IN PARALLEL, so DAG-like regions drain in a few rounds; the giant-SCC
  * + shallow tendril shape of real web graphs typically needs 2-4 outer
  * rounds (trim absorbs the tendrils, one coloring grabs the core). The
  * adversarial worst case — a descending chain of small SCCs, one color
  * class per round — retires at least min(pivotsPerClass, |class|)
  * VERTICES per class per round (every pivot is a top-|class| vid and
  * sits inside its own SCC's output), bounding the chain case at
  * ceil(V / pivotsPerClass) outer rounds instead of one SCC per round
  * (spec-pinned on a 100-×-2-cycle chain).
  *
  * Output scc ids are canonical (min vid of the component), so results
  * are partitioning- and schedule-invariant. Every intermediate frame is
  * a [[Fixpoint]] pin; the color and pivot-BFS loops are lazy rounds
  * pinned every `batchRounds`.
  */
object Scc {

  /** @param arcs     directed (src, dst) — extra columns ignored
    * @param vertices (vid) full vertex set
    * @param pivotsPerClass SCCs retired per color class per outer round
    * @param localFinishMax row cap of the [[LocalGraph]] gate (0 disables
    *        it): an admitted graph is solved by ONE driver-side iterative
    *        Tarjan pass instead of the trim/color/pivot fixpoint, which is
    *        O(rounds) driver barriers × O(E) exchanges — pure scheduling
    *        floor when the graph fits in one task. Identical output
    *        (canonical min-member ids), spec-pinned against the
    *        distributed path.
    * @return (vid, scc) with scc = min vid of the strongly connected
    *         component (every vertex assigned; singletons map to
    *         themselves)
    */
  def run(arcs: DataFrame, vertices: DataFrame, maxOuter: Int = 50,
          pivotsPerClass: Int = 16, localFinishMax: Long = 1L << 20): DataFrame = {
    if (LocalGraph.admit(localFinishMax, arcs, vertices).isDefined)
      return runLocalTarjan(LocalGraph.collect(arcs, Some(vertices)))
    import Fixpoint.pin
    val batchRounds = 4

    var active = pin(vertices.select("vid").distinct())
    var nActive = active.count()
    // The arc table restricted to a RECENT active set; trim filters it
    // lazily against the CURRENT one (strictly fewer rows, same closure).
    var arcsBase = pin(arcs.select("src", "dst").distinct()
      .join(active.select(col("vid").as("src")), "src")
      .join(active.select(col("vid").as("dst")), "dst"))
    val assigned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var outer = 0
    while (nActive > 0 && outer < maxOuter) {
      // ---- 1. TRIM to fixpoint: no in-arcs or no out-arcs → singleton.
      var trimmed = true
      while (trimmed && nActive > 0) {
        val arcsView = arcsBase
          .join(active.select(col("vid").as("src")), "src")
          .join(active.select(col("vid").as("dst")), "dst")
        val srcs = arcsView.select(col("src").as("vid")).distinct()
        val dsts = arcsView.select(col("dst").as("vid")).distinct()
        val keep = srcs.join(dsts, "vid") // has BOTH in- and out-arcs
        val peeled = pin(active.join(keep, Seq("vid"), "left_anti")
          .select(col("vid"), col("vid").as("scc")))
        val nPeeled = peeled.count()
        if (nPeeled == 0L) trimmed = false
        else {
          assigned += peeled
          active = pin(active.join(peeled.select("vid"), Seq("vid"), "left_anti"))
          nActive -= nPeeled
        }
      }
      if (nActive > 0) {
        // One O(E) materialization per outer round: the color loop and
        // both BFS sweeps iterate over this same restricted arc set.
        val arcsActive = pin(arcsBase
          .join(active.select(col("vid").as("src")), "src")
          .join(active.select(col("vid").as("dst")), "dst"))

        // ---- 2. COLOR: max-vid forward reachability, run to fixpoint.
        // Propagation hops are lazy rounds pinned every `batchRounds` (the
        // Hits idiom): one pin+count per block instead of per hop — on a
        // high-diameter region (a long cycle) this cuts driver round-trips
        // 4×. The fixpoint test stays exact: values are monotone, so "no
        // change in a pinned hop" == fixpoint.
        def colorStep(cur: DataFrame): DataFrame = {
          val incoming = cur.join(arcsActive, cur("vid") === arcsActive("src"))
            .groupBy(col("dst").as("vid"))
            .agg(max("color").as("nbr_max"))
          cur.join(incoming, Seq("vid"), "left")
            .select(col("vid"),
              greatest(col("color"), coalesce(col("nbr_max"), col("color"))).as("color"),
              (col("nbr_max") > col("color")).as("chg"))
        }
        var colors = pin(active.select(col("vid"), col("vid").as("color")))
        var changed = 1L
        var hop = 0
        while (changed > 0) {
          hop += 1
          val next = Fixpoint.lazyRound(hop, batchRounds, colorStep(colors))
          if (Fixpoint.due(hop, batchRounds)) changed = next.where(col("chg")).count()
          colors = next.select("vid", "color")
        }

        // ---- 3. Pivots: the top `pivotsPerClass` vids of each class.
        // The class max c (the one vertex with color(c) = c) is rank 1.
        val wp = Window.partitionBy("color").orderBy(col("vid").desc)
        val pivots = pin(colors.withColumn("rn", row_number().over(wp))
          .where(col("rn") <= pivotsPerClass)
          .select(col("vid").as("pivot"), col("color")))

        // Same-color arcs, labeled with the shared color.
        val colArcs = pin(arcsActive
          .join(colors.withColumnRenamed("vid", "src"), "src")
          .withColumnRenamed("color", "c_src")
          .join(colors.withColumnRenamed("vid", "dst")
            .withColumnRenamed("color", "c_dst"), "dst")
          .where(col("c_src") === col("c_dst"))
          .select(col("src"), col("dst"), col("c_src").as("color")))

        // Simultaneous multi-pivot BFS to frontier EXHAUSTION (state rows
        // are (vid, pivot, color) pairs, ≤ pivotsPerClass × class size).
        // Like the color loop, frontier expansions are lazy rounds pinned
        // every `batchRounds`; exhaustion = the reached set stopped
        // growing across a whole block (monotone, so exact).
        def bfs(dir: DataFrame /* (from, to, color) */): DataFrame = {
          var reached = pin(pivots.select(
            col("pivot").as("vid"), col("pivot"), col("color")))
          var nReached = reached.count()
          var r = reached
          var f = reached
          var hop = 0
          var grew = true
          while (grew) {
            hop += 1
            val cand = dir.join(f.select(col("vid").as("from"),
                col("pivot"), col("color")), Seq("from", "color"))
              .select(col("to").as("vid"), col("pivot"), col("color")).distinct()
            f = Fixpoint.leaf(cand.join(r.select("vid", "pivot"),
              Seq("vid", "pivot"), "left_anti"))
            r = Fixpoint.lazyRound(hop, batchRounds, r.unionByName(f))
            if (Fixpoint.due(hop, batchRounds)) {
              val n2 = r.count()
              grew = n2 > nReached
              if (grew) {
                // Flat re-derivation over two PINNED frames — carrying the
                // lazy `f` across blocks would chain its RDD lineage.
                f = r.join(reached.select("vid", "pivot"), Seq("vid", "pivot"), "left_anti")
                reached = r
                nReached = n2
              }
            }
          }
          reached
        }
        val fwd = bfs(colArcs.select(col("src").as("from"), col("dst").as("to"),
          col("color")))
        val bwd = bfs(colArcs.select(col("dst").as("from"), col("src").as("to"),
          col("color")))

        // SCC(p) = fwd(p) ∩ bwd(p); pivots of one SCC find identical sets,
        // min(pivot) dedups them into one provisional id per vertex.
        val reached = pin(fwd.select("vid", "pivot")
          .join(bwd.select("vid", "pivot"), Seq("vid", "pivot"))
          .groupBy("vid").agg(min("pivot").as("scc")))
        assigned += reached
        active = pin(active.join(reached.select("vid"), Seq("vid"), "left_anti"))
        nActive = active.count()
        arcsBase = arcsActive
      }
      outer += 1
    }
    require(nActive == 0L,
      s"SCC did not converge within $maxOuter outer rounds ($nActive active)")
    if (assigned.isEmpty) // empty vertex set
      return vertices.select(col("vid"), col("vid").as("scc")).limit(0)
    val all = assigned.reduce(_.unionByName(_))
    // Canonicalize: scc id = min member vid (provisional ids are pivots).
    val canon = all.groupBy("scc").agg(min("vid").as("scc_min"))
    pin(all.join(canon, "scc").select(col("vid"), col("scc_min").as("scc")))
  }

  /** The gated driver path: one iterative (explicit-stack) Tarjan pass
    * over the distinct arcs between vertices of the vertex frame — O(V+E),
    * no recursion, no cluster barriers. The canonical id is the min dense
    * id of each component, i.e. its SQL-min member vid.
    */
  private def runLocalTarjan(g: LocalGraph): DataFrame = {
    val verts = g.vertexRows.distinct
    val inV = g.mask(verts)
    val csr = g.csr(distinct = true, keep = (s, d) => inV(s) && inV(d))
    val (deg, adj) = (csr.offsets, csr.dsts)
    val n = g.n
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val comp = Array.fill(n)(-1)
    val stack = new java.util.ArrayDeque[Integer]() // Tarjan vertex stack
    var counter = 0
    var nComp = 0
    val callV = new Array[Int](n) // explicit DFS frames: vertex + arc cursor
    val callE = new Array[Int](n)
    verts.foreach { root =>
      if (index(root) == -1) {
        var top = 0
        callV(0) = root; callE(0) = deg(root)
        index(root) = counter; low(root) = counter; counter += 1
        stack.push(root); onStack(root) = true
        while (top >= 0) {
          val v = callV(top)
          if (callE(top) < deg(v + 1)) {
            val wv = adj(callE(top)); callE(top) += 1
            if (index(wv) == -1) {
              index(wv) = counter; low(wv) = counter; counter += 1
              stack.push(wv); onStack(wv) = true
              top += 1; callV(top) = wv; callE(top) = deg(wv)
            } else if (onStack(wv) && index(wv) < low(v)) low(v) = index(wv)
          } else {
            if (low(v) == index(v)) { // v roots an SCC: pop it
              var w = -1
              while (w != v) {
                w = stack.pop(); onStack(w) = false; comp(w) = nComp
              }
              nComp += 1
            }
            top -= 1
            if (top >= 0 && low(v) < low(callV(top))) low(callV(top)) = low(v)
          }
        }
      }
    }
    val minOf = Array.fill(nComp)(Int.MaxValue)
    verts.foreach(v => minOf(comp(v)) = math.min(minOf(comp(v)), v))
    g.frame("vid" -> verts, "scc" -> verts.map(v => minOf(comp(v))))
  }
}
