package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Personalized PageRank, multi-query, matching igraph/networkx semantics.
  *
  * Reference call (src/hipporag/HippoRAG.py:1709-1749):
  * `personalized_pagerank(vertices=all, damping=0.5, directed=False,
  * weights='weight', reset=seed, implementation='prpack')` with reset
  * NaN/negative → 0 (L1735). The equivalent fixpoint (networkx
  * `_pagerank_python`, the committed-golden oracle):
  *
  *   p        = reset / Σreset                      (normalized per query)
  *   x₀       = p
  *   x'(v)    = α·( Σ_{u→v} x(u)·w(u,v)/outW(u) + danglesum·p(v) ) + (1−α)·p(v)
  *   danglesum = Σ_{u: outW(u)=0} x(u)
  *   stop when Σ_v |x'−x| < N·tol                   (per query)
  *
  * `arcs` must be the SYMMETRIZED simple digraph (both directions, parallel
  * weights summed — [[graft.graph.Adjacency.symmetrize]]), which reproduces
  * the reference's undirected weighted multigraph exactly (SURVEY.md §1.2).
  *
  * State is a sparse (qid, vid, x) frame — many queries converge inside ONE
  * iterative job (SURVEY.md §3.2(b)). Per iteration: one join (ranks⋈arcs —
  * broadcast when ranks are small, else sort-merge with AQE skew split),
  * one groupBy(dst) (map-side partial aggregation absorbs Zipf-hub in-degree
  * skew), one Q-row driver collect. The loop follows [[Fixpoint]]: the
  * state is truncated every `checkpointEvery` iterations, and with
  * `checkpointDir` it is also written as a [[Fixpoint.Checkpoint]] (ranks
  * plus one metadata row per query) at that cadence and at convergence,
  * so a new driver resumes mid-convergence.
  */
case class PprConfig(
    damping: Double = 0.5,
    tol: Double = 1e-12,
    maxIter: Int = 500,
    checkpointEvery: Int = 8,
    checkpointDir: Option[String] = None)

case class PprStats(iterations: Int, converged: Boolean, traversedEdges: Long, wallSec: Double)

object Ppr {

  /** Sanitize + per-query normalize a seed frame (qid, vid, weight).
    * NaN / negative → 0 (reference HippoRAG.py:1735); Σ must be > 0
    * (reference asserts, HippoRAG.py:1643) — zero-mass queries are dropped.
    */
  def normalizeSeeds(seeds: DataFrame): DataFrame = {
    val clean = seeds.withColumn("weight",
      when(isnan(col("weight")) || col("weight") < 0, 0.0).otherwise(col("weight")))
    val sums = clean.groupBy("qid").agg(sum("weight").as("s"))
    clean.join(sums, "qid")
      .where(col("s") > 0)
      .select(col("qid"), col("vid"), (col("weight") / col("s")).as("p"))
  }

  /** Fresh run. `nVertices` is |V| of the full graph (the convergence
    * threshold is N·tol, networkx semantics).
    */
  def run(
      spark: SparkSession,
      arcs: DataFrame, // (src: Long, dst: Long, weight: Double) symmetrized
      nVertices: Long,
      seeds: DataFrame, // (qid: Long, vid: Long, weight: Double)
      cfg: PprConfig = PprConfig()): (DataFrame, PprStats) =
    iterate(spark, arcs, nVertices, seeds, cfg, prior = None)

  /** Resume from `cfg.checkpointDir` if a manifest exists, else fresh run.
    * The loop body is shared with [[run]], so resumed and uninterrupted
    * runs produce identical final scores (tested).
    */
  def resume(
      spark: SparkSession,
      arcs: DataFrame,
      nVertices: Long,
      seeds: DataFrame,
      cfg: PprConfig): (DataFrame, PprStats) = {
    val dir = cfg.checkpointDir.getOrElse(
      throw new IllegalArgumentException("resume needs checkpointDir"))
    iterate(spark, arcs, nVertices, seeds, cfg,
      prior = Fixpoint.Checkpoint.readLatest(spark, dir))
  }

  private def iterate(
      spark: SparkSession,
      arcs: DataFrame,
      nVertices: Long,
      seeds: DataFrame,
      cfg: PprConfig,
      prior: Option[Fixpoint.Checkpoint.Saved]): (DataFrame, PprStats) = {

    val t0 = System.nanoTime()
    val nPart = spark.sessionState.conf.numShufflePartitions
    val outW = arcs.groupBy("src").agg(sum("weight").as("out_w"))
    // Pre-normalize transition weights once: nw = w / outW(src), and
    // PRE-HASH the arc table by its gather key (round-6 verdict #2, the
    // HyperBall idiom): the cached partitioning is reused by every
    // iteration's gather join, so the O(E) side never crosses the wire
    // again — before this the sort-merge gather re-exchanged (and
    // re-sorted) the arcs EVERY sweep. The arc columns get loop-unique
    // names: after iteration 1 the rank frame derives from arcsN, and a
    // same-name join would be an ambiguous self-join.
    val arcsN = arcs.join(outW, "src")
      .select(col("src").as("a_src"), col("dst").as("a_dst"),
        (col("weight") / col("out_w")).as("nw"))
      .repartition(nPart, col("a_src"))
      // Sorted IN the cache: if the planner ever falls back from the
      // shuffled-hash gather to sort-merge, the cached ordering satisfies
      // the sort requirement and the O(E) side is still never re-sorted
      // per sweep (one in-partition sort here, paid once).
      .sortWithinPartitions("a_src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = arcsN.count()

    // In a symmetrized graph only isolated vertices are dangling; only
    // seed-carrying ones can ever hold rank mass, so tracking those suffices.
    // p and danglingSeeds are loop constants — pre-hashed by the update
    // join key (qid, vid) once, so the per-iteration 3-way full_outer
    // runs entirely on the standing partitioning.
    val nonDangling = outW.select(col("src").as("vid"))
    val p = normalizeSeeds(seeds)
      .repartition(nPart, col("qid"), col("vid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nQueries = p.select("qid").distinct().count()
    val danglingSeeds = p.join(nonDangling, Seq("vid"), "left_anti")
      .select("qid", "vid")
      .repartition(nPart, col("qid"), col("vid"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val alpha = cfg.damping
    val threshold = nVertices.toDouble * cfg.tol

    // State invariant (FUSED state): one MATERIALIZED leaf
    // (qid, vid, x, p, isd) — the per-(qid,vid) loop constants p and isd
    // ride IN the state instead of being re-joined every sweep (support
    // monotonicity: support(p) ⊆ support(x) forever, and a row entering
    // via contrib gets p = 0 / isd = false, exactly what the old 3-way
    // full_outer chain coalesced). Per iteration the update is then ONE
    // full_outer (contrib × state) plus a broadcast of the Q-row dangle
    // frame: two fewer state-sized joins/sorts than the chained form,
    // zero arc-sized exchanges (the arcs' cached hash(a_src) feeds the
    // gather directly).
    val initState = prior match {
      case Some(st) =>
        // support(ranks) ⊇ support(p) at every checkpoint — left joins
        // are complete.
        st.state
          .join(p, Seq("qid", "vid"), "left")
          .join(danglingSeeds.withColumn("isd", lit(true)), Seq("qid", "vid"), "left")
          .select(col("qid"), col("vid"), col("x"),
            coalesce(col("p"), lit(0.0)).as("p"),
            coalesce(col("isd"), lit(false)).as("isd"))
      case None =>
        p.join(danglingSeeds.withColumn("isd", lit(true)), Seq("qid", "vid"), "left")
          .select(col("qid"), col("vid"), col("p").as("x"), col("p"),
            coalesce(col("isd"), lit(false)).as("isd"))
    }
    // The state is persisted + re-leafed (constant-size plan) and truncated
    // every `checkpointEvery` iterations ([[Fixpoint.Lineage]]). NOTE the
    // update's full_outer yields UNKNOWN output partitioning either way
    // (its key columns are coalesced from both sides), so an
    // every-iteration partitioning-preserving pin would buy nothing and
    // cost one extra job per sweep — the exchange math is unchanged:
    // gather re-keys the state by vid, the transpose shuffles the
    // contributions, the update re-keys the state by (qid, vid); all
    // state-sized, never arc-sized.
    val lineage = new Fixpoint.Lineage(cfg.checkpointEvery)
    var xLeaf = lineage.hold(Fixpoint.pin(initState.repartition(nPart, col("qid"), col("vid"))))
    var x = xLeaf.select("qid", "vid", "x")
    // Per-query column `c` of the prior checkpoint's metadata rows.
    def priorMeta(c: String): Map[Long, Double] = prior.toSeq.flatMap(_.meta)
      .map(r => r.getAs[Long]("qid") -> r.getAs[Double](c)).toMap
    var dangle: Map[Long, Double] =
      if (prior.isDefined) priorMeta("ds")
      else xLeaf.where(col("isd"))
        .groupBy("qid").agg(sum("x").as("ds"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val priorErrs = priorMeta("err")
    var iter = prior.map(_.iter).getOrElse(0)
    var converged = priorErrs.nonEmpty && priorErrs.values.forall(_ < threshold)
    val iter0 = iter

    while (iter < cfg.maxIter && !converged) {
      val dangleDf = toDangleDf(spark, dangle)
      // Gather: x re-keyed by vid meets the arcs' standing hash(a_src)
      // partitioning — shuffled-hash build on the (small) rank side, the
      // arc side streams from cache with no exchange and no sort.
      val contrib = x.hint("SHUFFLE_HASH").join(arcsN, col("vid") === col("a_src"))
        .groupBy(col("qid"), col("a_dst").as("v"))
        .agg(sum(col("x") * col("nw")).as("c"))
      // ONE pass over the (qid, vid) state per iteration: the old rank is
      // carried through the update join (same (qid, v) keys — the
      // standing partitioning is reused, no extra shuffle), so the
      // per-row L1 delta and the next danglesum come out of the SAME
      // projection the update writes, instead of a second full_outer
      // self-join over the state (which doubled the per-iteration
      // shuffle volume).
      //
      // Support monotonicity makes the 3-way full_outer complete: x(v)>0
      // requires p(v)>0 or an in-neighbor with mass, so support(x) ⊆
      // support(p) ∪ support(contrib) — no old-rank row can vanish
      // without a matching update row.
      val joined = contrib
        .join(xLeaf.select(col("qid"), col("vid").as("v"), col("x").as("xold"),
            col("p"), col("isd")),
          Seq("qid", "v"), "full_outer")
        .join(broadcast(dangleDf), Seq("qid"), "left")
        .select(col("qid"), col("v").as("vid"),
          (lit(alpha) * (coalesce(col("c"), lit(0.0)) +
             coalesce(col("ds"), lit(0.0)) * coalesce(col("p"), lit(0.0))) +
           lit(1.0 - alpha) * coalesce(col("p"), lit(0.0))).as("x"),
          coalesce(col("xold"), lit(0.0)).as("xo"),
          coalesce(col("p"), lit(0.0)).as("p"),
          coalesce(col("isd"), lit(false)).as("isd"))
      // Plan forensics (GRAFT_PPR_EXPLAIN=1): dump the first iteration's
      // formatted plan so Exchange counts are auditable from artifacts.
      if (iter == iter0 && sys.env.get("GRAFT_PPR_EXPLAIN").contains("1"))
        System.err.println("[ppr-plan]\n" + joined.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      // ONE action per iteration: the stats aggregate materializes the
      // round's state as a side effect, and the re-leaf keeps the next
      // plan constant-size (the fused update references x twice, so an
      // un-leafed plan would double per iteration).
      val (state, stats) = lineage.round(iter + 1, joined) {
        _.groupBy("qid")
          .agg(
            sum(abs(col("x") - col("xo"))).as("err"),
            sum(when(col("isd"), col("x")).otherwise(0.0)).as("ds"))
          .collect()
      }
      val errs = stats.map(r => r.getLong(0) -> r.getDouble(1)).toMap
      dangle = stats.map(r => r.getLong(0) -> r.getDouble(2)).toMap
      xLeaf = Fixpoint.leaf(state.select("qid", "vid", "x", "p", "isd"))
      x = xLeaf.select("qid", "vid", "x")
      iter += 1
      converged = errs.nonEmpty && errs.values.forall(_ < threshold)
      cfg.checkpointDir.foreach { dir =>
        if (Fixpoint.due(iter, cfg.checkpointEvery) || converged) {
          import spark.implicits._
          val elapsed = (System.nanoTime() - t0) / 1e9
          // One metadata row per query.
          val meta = (errs.keySet ++ dangle.keySet).toSeq.sorted.map(q =>
            (iter, q, errs.getOrElse(q, Double.NaN), dangle.getOrElse(q, 0.0),
              nVertices, nEdges, elapsed))
            .toDF("iter", "qid", "err", "ds", "nVertices", "nEdges", "elapsedSec")
          Fixpoint.Checkpoint.write(dir, iter, x, meta)
        }
      }
    }
    arcsN.unpersist(false)
    // p / danglingSeeds are loop-only inputs; the final state is pinned by
    // the checkpointed leaf, so dropping these never recomputes an
    // iteration.
    p.unpersist(false)
    danglingSeeds.unpersist(false)
    // Pin the final projection OUTSIDE the loop state and release the
    // last iteration's leaf: the returned frame must survive a caller's
    // unpersist() and the ContextCleaner GCs its backing RDD with it.
    val result = x.select(col("qid"), col("vid"), col("x").as("score"))
      .localCheckpoint(true)
    lineage.release()
    val wall = (System.nanoTime() - t0) / 1e9
    (result, PprStats(iter, converged, nEdges * (iter - iter0).toLong * nQueries, wall))
  }

  private def toDangleDf(spark: SparkSession, m: Map[Long, Double]): DataFrame = {
    import spark.implicits._
    val rows = if (m.isEmpty) Seq((-1L, 0.0)) else m.toSeq
    rows.toDF("qid", "ds")
  }
}
