package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components. Two implementations behind one contract
  * (canonical component id = min vid in the component, exact at
  * convergence — north rule; matches the committed networkx goldens,
  * FIXTURES.md §4):
  *
  *  - [[run]] (default): ALTERNATING LARGE-STAR / SMALL-STAR contraction
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    SoCC'14 — SURVEY.md §2.9). Round count is O(log² V) regardless of
  *    graph DIAMETER: a 10⁴-vertex path converges in ~15 rounds where
  *    label propagation needs ~10⁴ (spec-pinned). Each round is two
  *    groupBy(min) + joins — map-side combinable, so Zipf hubs cost
  *    partial aggregation, not a hot reducer.
  *  - [[runMinLabel]]: synchronous min-label propagation — one join +
  *    one groupBy(min) per round, O(diameter) rounds. Cheaper per round;
  *    fine for small-diameter web graphs, kept for cross-checks.
  *
  * Both loops follow [[Fixpoint]]: the state is truncated every
  * `checkpointEvery` rounds.
  */
object ConnectedComponents {

  /** Per-partition union-find contraction: replaces each partition's edge
    * subset with its local spanning star (root = partition-local min).
    * Connectivity-preserving for ANY partitioning — each partition's star
    * connects exactly the vertex sets its own edges connect, and the
    * union over partitions therefore has the same transitive closure as
    * the input. Output is ≤ one pair per distinct vertex per partition,
    * so a pair set whose average local degree is d shrinks ~d× BEFORE
    * the first shuffle — the star loop (5-6 full exchanges of the pair
    * set per round) then runs on the contracted set. This is the narrow
    * (zero-shuffle) half of the two-phase CC scheme; the star loop is
    * the log-round global half.
    *
    * The local root is the partition-local min (same orderable types the
    * star loop's least/greatest handle); orientation/canonicalization is
    * NOT assumed downstream — run() re-applies least/greatest + distinct.
    */
  private[algo] def localContract(pairs: DataFrame): DataFrame = {
    val schema = pairs.schema
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(schema)
    def less(x: Any, y: Any): Boolean = (x, y) match {
      case (a: Long, b: Long)     => a < b
      case (a: Int, b: Int)       => a < b
      case (a: String, b: String) => a < b
      // Root choice is arbitrary for connectivity — any deterministic
      // tie-break works for types without a natural order here.
      case _ => x.hashCode < y.hashCode
    }
    pairs.mapPartitions { it =>
      val parent = new java.util.HashMap[Any, Any]()
      val seen = new java.util.LinkedHashSet[Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val n = parent.get(c); parent.put(c, r); c = n
        }
        r
      }
      it.foreach { row =>
        val a = row.get(0); val b = row.get(1)
        seen.add(a); seen.add(b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (less(rb, ra)) parent.put(ra, rb) else parent.put(rb, ra)
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      seen.forEach { v =>
        val r = find(v)
        if (r != v) out += org.apache.spark.sql.Row(r, v)
      }
      out.iterator
    }
  }

  /** @param arcs symmetrized (src, dst, weight) — weights ignored
    * @param vertices (vid) every vertex incl. isolated ones
    * @param preContract run [[localContract]] before the star loop
    *        (identical result — spec-pinned; off only for cross-checks)
    * @param localFinishMax row cap of the [[LocalGraph]] gate on the
    *        DISTINCT contracted pair set (0 disables it): an admitted
    *        remainder is finished by ONE driver-side union-find instead of
    *        the star loop (the standard small-remainder phase of two-phase
    *        CC), which costs 5-6 full exchanges of the pair set per round
    *        times O(log V) rounds — pure driver-barrier floor when the
    *        remainder fits in one task. The gate's probe is the one the
    *        loop needs anyway.
    * @param checkpointDir durable-resume directory ([[Fixpoint.Checkpoint]]
    *        holding the pair set plus one metadata row: iter, n_pairs,
    *        checksum, elapsed_sec): when set, the contracted pair set is
    *        persisted to disk every
    *        `diskCheckpointEvery` rounds, and a run over a dir holding a
    *        committed checkpoint RESUMES from it (skipping input rebuild
    *        and pre-contraction — the stored pair set IS the loop state).
    *        Resumed == uninterrupted exactly (deterministic rounds over an
    *        identical pair set; spec-pinned). None = in-memory only.
    * @param diskCheckpointEvery rounds between durable checkpoints
    * @return (vid, component) with component = min vid reachable, and the
    *         number of star rounds (one round = large-star + small-star;
    *         0 when the gate finished the job; includes rounds replayed
    *         from a restored checkpoint's counter)
    */
  def run(arcs: DataFrame, vertices: DataFrame, checkpointEvery: Int = 5,
          maxIter: Int = 200, preContract: Boolean = true,
          localFinishMax: Long = 1L << 20,
          checkpointDir: Option[String] = None,
          diskCheckpointEvery: Int = 10): (DataFrame, Int) = {
    val spark = arcs.sparkSession
    val t0 = System.nanoTime()

    // Unordered simple pairs (a < b) — the star edge set. `cur` is the
    // persisted state; `edges` its leaf view (each star round references
    // the previous edge set FOUR times — sym union ×2, then join + min ×2
    // — so a chained plan would grow 4^k). A committed durable checkpoint
    // replaces the whole construction: the stored pair set is already
    // contracted/canonicalized.
    val restored = checkpointDir.flatMap(d => Fixpoint.Checkpoint.readLatest(spark, d))
    val cur = restored match {
      case Some(st) => st.state.persist(StorageLevel.MEMORY_AND_DISK)
      case None =>
        val raw0 = arcs.select(col("src").as("u"), col("dst").as("v"))
          .where(col("u") =!= col("v"))
        val raw = if (preContract) localContract(raw0) else raw0
        raw.select(least(col("u"), col("v")).as("a"),
            greatest(col("u"), col("v")).as("b"))
          .distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
    }
    // bit_xor, not sum: ANSI mode overflow-checks long sums; xor is
    // order-insensitive and exact over the DISTINCT pair set. The same
    // single action also estimates collected bytes for the driver gate.
    val p0 = DriverGate.pairProbe(cur, "a", "b")
    var nEdges = p0.rows
    // Driver union-find finish on a small contracted remainder.
    if (nEdges > 0L && LocalGraph.fits(localFinishMax, p0) &&
        LocalGraph.admits(cur.schema("a").dataType)) {
      val g = LocalGraph.collect(cur.select(col("a").as("src"), col("b").as("dst")))
      val parent = Array.range(0, g.n)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // Union by MIN root: the surviving root is the component's min dense
      // id, i.e. the SQL-min vid the star fixpoint converges to.
      g.src.indices.foreach { e =>
        val (ra, rb) = (find(g.src(e)), find(g.dst(e)))
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      val labels = g.toFrame(vertices, "vid" -> Array.range(0, g.n),
          "root" -> Array.tabulate(g.n)(find))
        .select(col("vid"), coalesce(col("root"), col("vid")).as("component"))
      val pinned = labels.localCheckpoint(true)
      cur.unpersist(false)
      return (pinned, 0)
    }
    var lastChecksum = p0.checksum
    val lineage = new Fixpoint.Lineage(checkpointEvery)
    var edges = Fixpoint.leaf(lineage.hold(cur))
    var iter = restored.map(_.iter).getOrElse(0)
    var converged = nEdges == 0L
    while (!converged && iter < maxIter) {
      // LARGE-STAR: every node u links its STRICTLY LARGER neighbors to
      // m(u) = min(N(u) ∪ {u}). Each unordered pair (a < b) appears once
      // from its smaller endpoint's perspective (b > a), so one pass over
      // the symmetric view emits exactly one pair per edge.
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      val mLarge = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val afterLarge = sym.join(mLarge, "u")
        .where(col("v") > col("u"))
        // m ≤ u < v, so the pair is already ordered (m, v)
        .select(col("m").as("a"), col("v").as("b"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)

      // SMALL-STAR: orient pairs toward the larger endpoint b; its
      // smaller neighbors (plus b itself) all link to m(b) = min
      // neighbor (every neighbor is < b, so the min neighbor is m).
      val mSmall = afterLarge.groupBy("b").agg(min("a").as("m"))
      val next = afterLarge.join(mSmall, "b")
        .select(col("a").as("x"), col("m").as("y"))
        .unionAll(mSmall.select(col("b").as("x"), col("m").as("y")))
        .where(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
        .distinct()
      // Fixpoint iff the edge sets are equal. The cheap probe — size +
      // order-insensitive content checksum, ONE aggregate on the frame
      // being materialized anyway — almost never matches before the
      // fixpoint, so the EXACT set comparison (an except, a full extra
      // shuffle + barrier per round) runs only when the probe says
      // "likely converged": exactness is preserved, the per-round cost is
      // one action.
      val (state, (nNext, ckNext, same)) = lineage.round(iter + 1, next) { st =>
        val probe = st.agg(count(lit(1)), expr("bit_xor(xxhash64(a, b))")).first()
        val n = probe.getLong(0)
        val ck = if (probe.isNullAt(1)) 0L else probe.getLong(1)
        (n, ck, n == nEdges && ck == lastChecksum && st.except(edges).isEmpty)
      }
      afterLarge.unpersist(false)
      converged = same
      lastChecksum = ckNext
      edges = Fixpoint.leaf(state)
      nEdges = nNext
      iter += 1
      // Durable checkpoint: written AFTER the round's state is
      // materialized, so a kill mid-round resumes from the previous commit.
      if (!converged && checkpointDir.isDefined && Fixpoint.due(iter, diskCheckpointEvery)) {
        import spark.implicits._
        Fixpoint.Checkpoint.write(checkpointDir.get, iter, state,
          Seq((iter, nEdges, lastChecksum, (System.nanoTime() - t0) / 1e9))
            .toDF("iter", "n_pairs", "checksum", "elapsed_sec"))
      }
    }
    // At the fixpoint every pair is (root = component min, member). The
    // read-out still groupBy-mins per vertex: mid-contraction (maxIter
    // exhausted before the fixpoint) a vertex can carry SEVERAL pairs,
    // and a bare left join would emit duplicate, contradictory label
    // rows — the min keeps the output well-formed (one row per vertex,
    // partial labels like the min-label variant's).
    val roots = edges.groupBy(col("b").as("vid")).agg(min(col("a")).as("root"))
    val labels = vertices
      .join(roots, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("root"), col("vid")).as("component"))
    // Pin the O(V) labels and release the O(E) pair-set cache — callers
    // can't reach the loop state, so returning a frame that depends on it
    // would leak one cached edge set per CC invocation.
    val pinned = labels.localCheckpoint(true)
    lineage.release()
    (pinned, iter)
  }

  /** Synchronous min-label propagation to fixpoint:
    * label₀(v) = v;  label'(v) = min(label(v), min_{(u,v)∈arcs} label(u)).
    * O(diameter) rounds — kept as the cross-check implementation.
    */
  def runMinLabel(arcs: DataFrame, vertices: DataFrame, checkpointEvery: Int = 5,
                  maxIter: Int = 200): (DataFrame, Int) = {
    val edges = arcs.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    val lineage = new Fixpoint.Lineage(checkpointEvery)
    var labels = lineage.hold(vertices.select(col("vid"), col("vid").as("component"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val incoming = labels.join(edges, labels("vid") === edges("src"))
        .groupBy(col("dst").as("vid"))
        .agg(min("component").as("nbr_min"))
      val next = labels.join(incoming, Seq("vid"), "left")
        .select(col("vid"),
          least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component"),
          (col("nbr_min") < col("component")).as("chg"))
      val (state, chg) = lineage.round(iter + 1, next)(_.where(col("chg")).count())
      labels = state
      changed = chg
      iter += 1
    }
    edges.unpersist(false)
    val pinned = labels.select("vid", "component").localCheckpoint(true)
    lineage.release()
    (pinned, iter)
  }
}
