package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.algo.{ConnectedComponents, LabelProp, PerfbenchGates, Ppr, PprConfig, PprCsr, PprShard, Triangles}
import graft.core.Ids
import graft.extract.Extract
import graft.graph.Adjacency
import graft.retrieve.{GraphStore, Indexer, Retriever}

/** The traced run's layer-by-layer calls. Each function wraps the
  * benchmark's own calls into one layer's public engine functions in a span
  * and records the layer's counts as notes; the per-layer metrics are read
  * back from the tracer by [[Layers.report]].
  */
object Layers {

  /** Force full evaluation of a frame without collecting it. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Store shape every workload's store must have: a non-degenerate
    * HippoRAG graph (entity vertices plus fact, passage and synonym edges).
    */
  def requireNonDegenerate(store: GraphStore): Unit = {
    val counts = Seq(
      "fact edges" -> store.factEdges.read().count(),
      "passage edges" -> store.passageEdges.read().count(),
      "synonym edges" -> store.synEdges.read().count(),
      "entity vertices" -> store.vertices.read()
        .where(col("kind") === graft.graph.GraphBuild.EntityKind).count())
    val empty = counts.collect { case (what, 0L) => what }
    if (empty.nonEmpty)
      throw new IllegalStateException(
        s"degenerate store: zero ${empty.mkString(", ")} (${counts.mkString(", ")})")
  }

  def extract(ctx: Ctx, docs: DataFrame): Unit =
    ctx.tracer.span("extract.triples") {
      noop(Extract.sentenceTriples(Extract.chunks(docs, "content", Seq.empty)))
    }

  def synonymy(ctx: Ctx, store: GraphStore): Unit =
    ctx.tracer.span("indexer.synonymy") {
      noop(Indexer.synonymyEdges(store.entityEmb.read(), Indexer.SynonymyConfig()))
    }

  /** Serving-graph build and CSR collect for the store's current snapshot
    * (a cache hit, and near-free, when the snapshot has not moved).
    */
  def serving(ctx: Ctx, store: GraphStore): Unit = {
    val sg = ctx.tracer.span("graph.serving_build")(store.servingGraph())
    ctx.tracer.span("graph.csr_collect")(sg.csr)
  }

  /** Dictionary and symmetrize+encode of a string-keyed edge table. */
  def graphBuild(ctx: Ctx, keys: DataFrame, edges: DataFrame): Unit = {
    val dict = ctx.tracer.span("graph.dictionary") {
      val d = Ids.dictionary(keys, "key"); d.count(); d
    }
    ctx.tracer.span("graph.encode")(noop(Adjacency.encode(Adjacency.symmetrize(edges), dict)))
  }

  def lake(ctx: Ctx, store: GraphStore): Unit = {
    ctx.tracer.span("lake.read")(store.tables.foreach(_.read().count()))
    ctx.tracer.note("lake.entries_max",
      store.tables.map(t => t.manifest(t.currentSnapshot.get).entries.size).max)
    ctx.tracer.note("lake.compactions",
      store.tables.map(t => t.snapshots.count(k => t.manifest(k).op.endsWith("compact"))).sum)
  }

  /** Retrieve decomposed into fact scoring, DPR and seed build, then PPR on
    * seeds of retrieve's shape (linking-map phrase seeds plus dense DPR
    * passage weights) through the shard, CSR (Q = 1) and shuffle kernels.
    */
  def retrieve(ctx: Ctx, store: GraphStore, queries: Seq[(Long, String)],
               cfg: Retriever.RetrieveConfig): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val qdf = Retriever.queryFrame(spark, queries, cfg.embedQuery)
    tr.span("retrieve.fact_scores")(noop(Retriever.factScores(qdf, store.factEmb.read())))
    val dpr = tr.span("retrieve.dpr_scores") {
      Retriever.dprScores(qdf, store.chunkEmb.read()).localCheckpoint(true)
    }
    val link = tr.span("retrieve.seed_build") {
      Retriever.linkingScoreMap(store, queries, cfg).localCheckpoint(true)
    }
    val sg = store.servingGraph()
    val seedFrame = link.where(col("key").startsWith(Ids.EntityNs))
      .select("qid", "key", "weight")
      .unionByName(dpr.select(col("qid"), col("chunk_id").as("key"),
        (col("dpr") * cfg.passageNodeWeight).as("weight")))
      .join(sg.dict, "key").select("qid", "vid", "weight")
      .localCheckpoint(true)
    val seeds = seedFrame.collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (q, rs) => q -> rs.toSeq.map(r => (r.getLong(1), r.getDouble(2))) }
    val pprCfg = PprConfig(damping = cfg.damping, tol = cfg.pprTol)
    val sharded = shard(ctx, sg.runner, seeds, pprCfg)
    checkPpr(ctx, "shard", sharded)

    val blocks = Adjacency.csrBlocks(spark, sg.arcs, edgesPerBlock = 1 << 16)
    val outW = new Array[Double](sg.nVertices.toInt)
    Adjacency.outWeights(sg.arcs).collect()
      .foreach(r => outW(r.getAs[Long]("src").toInt) = r.getAs[Double]("out_w"))
    val (dense, _) = tr.span("algo.ppr_csr")(PprCsr.run(blocks, outW, seeds.take(1), pprCfg))
    checkPpr(ctx, "csr", PprCsr.toFrame(spark, dense))

    val few = seeds.take(2).map(_._1) // shuffle PPR: a few queries
    val shuffled = shuffle(ctx, sg.arcs, sg.nVertices, seedFrame.where(col("qid").isin(few: _*)), pprCfg)
    checkPpr(ctx, "shuffle", shuffled)
    // Untimed: the shuffle and shard strategies agree on their shared queries.
    val diff = shuffled.withColumnRenamed("score", "a")
      .join(sharded.where(col("qid").isin(few: _*)).withColumnRenamed("score", "b"),
        Seq("qid", "vid"), "full_outer")
      .select(max(abs(coalesce(col("a"), lit(0.0)) - coalesce(col("b"), lit(0.0))))).first()
    val d = if (diff.isNullAt(0)) 0.0 else diff.getDouble(0)
    ctx.report.check(d <= 1e-6, s"shuffle and shard PPR differ by $d")
    Seq(sharded, shuffled).foreach(_.unpersist(false))
  }

  /** Scores non-negative with per-query mass at most 1. */
  def checkPpr(ctx: Ctx, what: String, scores: DataFrame): Unit = {
    val bad = scores.groupBy("qid").agg(min("score").as("mn"), sum("score").as("mass"))
      .where(col("mn") < 0.0 || col("mass") > 1.0 + 1e-9).count()
    ctx.report.check(bad == 0L, s"$bad $what PPR queries with a negative score or mass > 1")
  }

  def shard(ctx: Ctx, runner: PprShard.Runner, seeds: Seq[(Long, Seq[(Long, Double)])],
            cfg: PprConfig): DataFrame = {
    val (scores, st) = ctx.tracer.span("algo.ppr_shard")(runner.run(seeds, cfg))
    ctx.tracer.note("algo.ppr_shard_sweeps", st.iterations)
    ctx.tracer.note("algo.ppr_edges_per_s", st.traversedEdges / math.max(st.wallSec, 1e-9))
    scores
  }

  def shuffle(ctx: Ctx, arcs: DataFrame, nV: Long, seeds: DataFrame,
              cfg: PprConfig): DataFrame = {
    val (scores, st) = ctx.tracer.span("algo.ppr_shuffle") {
      val r = Ppr.run(ctx.spark, arcs, nV, seeds, cfg); r._1.count(); r
    }
    ctx.tracer.note("algo.ppr_shuffle_sweeps", st.iterations)
    scores
  }

  def gateProbe(ctx: Ctx, arcs: DataFrame): PerfbenchGates.Side = {
    val side = ctx.tracer.span("algo.gate_probe")(PerfbenchGates.arcProbe(arcs))
    ctx.tracer.note("algo.gate_rows", side.rows.toDouble)
    ctx.tracer.note("algo.gate_bytes", side.bytes.toDouble)
    side
  }

  /** CC, LPA (10 iterations) and triangles, each fully evaluated. */
  def cc(ctx: Ctx, arcs: DataFrame, verts: DataFrame): DataFrame = {
    val (labels, rounds) = ctx.tracer.span("algo.cc") {
      val r = ConnectedComponents.run(arcs, verts); noop(r._1); r
    }
    ctx.tracer.note("algo.cc_rounds", rounds)
    labels
  }

  def lpa(ctx: Ctx, arcs: DataFrame, verts: DataFrame): DataFrame = {
    val (labels, iters) = ctx.tracer.span("algo.lpa") {
      val r = LabelProp.run(arcs, verts, maxIter = 10); noop(r._1); r
    }
    ctx.tracer.note("algo.lpa_iterations", iters)
    labels
  }

  def triangles(ctx: Ctx, arcs: DataFrame, verts: DataFrame): (DataFrame, Long) =
    ctx.tracer.span("algo.triangles") {
      val r = Triangles.run(arcs, verts); noop(r._1); r
    }

  /** The store-backed layers on one store and its queries: graph build,
    * serving graph, lake read, synonymy and the retrieve layers with PPR.
    */
  def storeSweep(ctx: Ctx, store: GraphStore, queries: Seq[(Long, String)],
                 cfg: Retriever.RetrieveConfig): Unit = {
    graphBuild(ctx, store.vertices.read().select("key"), store.edges.read())
    serving(ctx, store)
    lake(ctx, store)
    synonymy(ctx, store)
    retrieve(ctx, store, queries, cfg)
  }

  /** CC, LPA and triangles on the store's serving graph, with their output
    * checks. At the benchmark's sizes every driver gate admits this graph;
    * that is asserted before the algorithms run.
    */
  def algoSweep(ctx: Ctx, store: GraphStore): Unit = {
    val sg = store.servingGraph()
    val arcs = sg.arcs
    val verts = sg.dict.select("vid")
    val rep = ctx.report
    PerfbenchGates.sides(arcs, verts).foreach(s => rep.check(s.admitted, s"driver gate not admitted: $s"))
    gateProbe(ctx, arcs)

    val labels = cc(ctx, arcs, verts).select("vid", "component")
    val split = arcs
      .join(labels.withColumnRenamed("vid", "src").withColumnRenamed("component", "cs"), "src")
      .join(labels.withColumnRenamed("vid", "dst").withColumnRenamed("component", "cd"), "dst")
      .where(col("cs") =!= col("cd")).count()
    rep.check(split == 0L, s"$split arcs join vertices with different CC labels")
    rep.check(labels.count() == sg.nVertices, "CC labels do not cover every vertex")
    rep.check(ctx.tracer.notes("algo.cc_rounds").forall(_ == 0.0),
      "CC ran star rounds on a graph its driver gate admits")

    rep.check(lpa(ctx, arcs, verts).count() == sg.nVertices, "LPA labels do not cover every vertex")

    val (perVertex, total) = triangles(ctx, arcs, verts)
    val sum3 = perVertex.agg(coalesce(sum("triangles"), lit(0L))).first().getLong(0)
    rep.check(sum3 % 3 == 0 && sum3 == 3 * total, s"per-vertex triangles sum to $sum3 for $total triangles")
  }

  /** Tracing overhead: `op` run alternately traced (one span, listener
    * attached) and untraced, `n` times each.
    */
  def overhead(ctx: Ctx, n: Int)(op: => Unit): Unit = {
    val (traced, plain) = (1 to n).map { _ =>
      (Stats.timed(ctx.tracer.span("trace.op")(op))._2, Stats.timed(ctx.tracer.pause(op))._2)
    }.unzip
    val (t, p) = (Stats.median(traced), Stats.median(plain))
    ctx.tracer.note("trace.traced_op_s", t)
    ctx.tracer.note("trace.untraced_op_s", p)
    ctx.tracer.note("trace.overhead_pct", 100.0 * (t / p - 1.0))
  }

  /** Span names reported as `<name>_s` (median) and with Spark counters. */
  val spanMetrics: Seq[String] = Seq(
    "retrieve.fact_scores", "retrieve.dpr_scores", "retrieve.seed_build",
    "algo.ppr_shard", "algo.ppr_csr", "algo.ppr_shuffle", "algo.gate_probe",
    "algo.cc", "algo.lpa", "algo.triangles",
    "graph.serving_build", "graph.csr_collect", "graph.dictionary", "graph.encode",
    "extract.triples", "indexer.synonymy", "lake.read")

  /** Layer counts (median over the run's notes) and their units. */
  val noteMetrics: Seq[(String, String)] = Seq(
    "algo.ppr_shard_sweeps" -> "count", "algo.ppr_edges_per_s" -> "1/s",
    "algo.ppr_shuffle_sweeps" -> "count", "algo.gate_rows" -> "count",
    "algo.gate_bytes" -> "bytes", "algo.cc_rounds" -> "count",
    "algo.lpa_iterations" -> "count", "lake.bytes_written" -> "bytes",
    "lake.write_amp" -> "ratio", "lake.compactions" -> "count", "lake.entries_max" -> "count",
    "trace.untraced_op_s" -> "s", "trace.traced_op_s" -> "s", "trace.overhead_pct" -> "%")

  /** Spark counters reported per span name, and their units. */
  val counterMetrics: Seq[(String, String)] = Seq(
    "jobs" -> "count", "tasks" -> "count", "sched_delay_s" -> "s", "shuffle_bytes" -> "bytes")

  /** Per-layer metrics of a traced run; a layer with no span fails the run. */
  def report(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    spanMetrics.foreach { s =>
      val d = tr.durations(s)
      ctx.report.check(d.nonEmpty, s"no $s span in the traced run")
      ctx.report.put(s"${s}_s", Stats.median(d), "s")
    }
    noteMetrics.foreach { case (n, u) =>
      val v = tr.notes(n)
      ctx.report.check(v.nonEmpty, s"no $n note in the traced run")
      ctx.report.put(n, Stats.median(v), u)
    }
    spanMetrics.foreach { s =>
      val m = tr.counterMeans(s)
      counterMetrics.foreach { case (c, u) => ctx.report.put(s"$s.$c", m(c), u) }
    }
    ctx.report.put("spark.gc_s", tr.gcSeconds(), "s")
  }
}
