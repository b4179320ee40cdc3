package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic "random"-walk corpus generation — the DeepWalk /
  * node2vec data-prep primitive (Perozzi et al. KDD'14): `walksPerVertex`
  * walks of length `walkLen` from every vertex, emitted as one row per
  * visited position. At 100 TB this is the job that turns a web link
  * graph into embedding-training sequences, so determinism matters twice:
  * reruns must produce identical corpora (resumable pipelines), and the
  * step rule must be engine-portable for oracle checking.
  *
  * Step rule: at position t the walk at vertex v moves to the neighbor
  * with index  h(seed, start, walk, t) mod outdeg(v)  in v's dst-sorted
  * adjacency, where h = the first 8 md5 hex digits as a long — the same
  * portable md5 arithmetic as the MinHash kernel (`conv(hex,16,10)` in
  * Spark == `CAST('0x'||hex AS BIGINT)` in DuckDB, Dedup.scala:137).
  * Hashing (start, walk, t) — not the current vertex — keeps successive
  * picks independent; dead ends (outdeg 0) stop the walk.
  *
  * Scale shape: walk state is (start, walk, cur) — W·V rows, never the
  * history; each step is one 1:1 join against the degree table plus one
  * equi-join on (src, idx) against the indexed adjacency (no candidate
  * blowup: the choice index is computed BEFORE the adjacency join).
  * Steps are lazy [[Fixpoint]] rounds pinned every `batchRounds` (the
  * Hits idiom), and the indexed adjacency is built once — two window
  * functions over one shuffle by src — and reused by every step.
  */
object Walks {

  /** @param arcs     directed (src, dst) — extra columns ignored, parallel
    *                  arcs collapse (distinct)
    * @param vertices (vid) walk starts — every vertex, walksPerVertex each
    * @param localKernelMax row cap of the [[LocalGraph]] gate (0 disables it)
    * @return (start, walk, step, vid): position `step` ∈ [0, walkLen] of
    *         walk `walk` ∈ [0, walksPerVertex) started at `start`; walks
    *         from dead-end vertices end early
    */
  def randomWalks(arcs: DataFrame, vertices: DataFrame, walkLen: Int,
                  walksPerVertex: Int, seed: String = "w",
                  batchRounds: Int = 4, localKernelMax: Long = 1L << 20): DataFrame = {
    require(walkLen >= 0 && walksPerVertex >= 1)
    val spark = arcs.sparkSession
    // Driver kernel under the [[LocalGraph]] gate, plus an output bound of
    // 2²¹ walk rows: the walkLen distributed steps are 2 joins + a
    // checkpoint each — pure scheduling floor when the graph fits one task
    // (measured 4.3 s / 46 jobs on a 31-vertex entity graph). The md5 step
    // rule is integer-exact and dense ids sort like SQL, so both paths
    // agree exactly.
    val admitted = LocalGraph.admit(localKernelMax, arcs, vertices)
      .exists(_._2.rows * walksPerVertex.toLong * (walkLen + 1L) <= (1L << 21))
    if (admitted)
      return randomWalksLocal(LocalGraph.collect(arcs, Some(vertices)), walkLen,
        walksPerVertex, seed)
    val adj0 = arcs.select("src", "dst").distinct()
    val wIdx = Window.partitionBy("src").orderBy("dst")
    val indexed = adj0
      .select(col("src"), col("dst"), (row_number().over(wIdx) - 1L).as("idx"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val degs = indexed.groupBy("src").agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    degs.count() // materialize both (indexed feeds degs' plan)

    import spark.implicits._
    val walkIds = (0L until walksPerVertex.toLong).toDF("walk")
    var cur = vertices.select(col("vid").as("start"))
      .crossJoin(broadcast(walkIds))
      .select(col("start"), col("walk"), col("start").as("cur"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer[DataFrame](
      cur.select(col("start"), col("walk"), lit(0L).as("step"), col("cur").as("vid")))

    for (t <- 1 to walkLen) {
      // Portable pick: first 8 md5 hex digits of "seed|start|walk|t".
      val pick = conv(substring(md5(concat_ws("|",
        lit(seed), col("start"), col("walk"), lit(t))), 1, 8), 16, 10)
        .cast("long")
      val chosen = cur
        .join(degs.withColumnRenamed("src", "cur"), Seq("cur")) // dead ends drop
        .withColumn("idx", pmod(pick, col("deg")))
        .withColumnRenamed("cur", "src")
        .join(indexed, Seq("src", "idx"))
        .select(col("start"), col("walk"), col("dst").as("cur"))
      // Each step's slice reads the step's own leaf (or pin), so the
      // final union reuses the steps' shuffles instead of re-running
      // their join chains.
      cur = Fixpoint.lazyRound(t, batchRounds, chosen, last = t == walkLen)
      out += cur.select(col("start"), col("walk"), lit(t.toLong).as("step"),
        col("cur").as("vid"))
    }
    val res = out.reduce(_ unionByName _).localCheckpoint(true)
    indexed.unpersist(false)
    degs.unpersist(false)
    res
  }

  /** The gated driver kernel: the same walks over the distinct, SQL-sorted
    * adjacency. The pick index is the first 8 md5 hex digits of
    * "seed|start|walk|t" (concat_ws renders long/int vids in decimal,
    * exactly like String.valueOf) mod outdeg. One walk set per input
    * vertex row, like the distributed crossJoin.
    */
  private def randomWalksLocal(g: LocalGraph, walkLen: Int, walksPerVertex: Int,
                               seed: String): DataFrame = {
    val adj = g.csr(distinct = true)
    val md = java.security.MessageDigest.getInstance("MD5")
    def pick(start: Int, walk: Long, t: Int, deg: Int): Int = {
      val s = seed + "|" + g.vids(start).toString + "|" + walk + "|" + t
      val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 hex digits == first 4 bytes, as an unsigned 32-bit value
      val h = (0 until 4).foldLeft(0L)((h, i) => (h << 8) | (d(i) & 0xFFL))
      (h % deg).toInt
    }
    val (starts, walks, steps, at) = (Array.newBuilder[Int], Array.newBuilder[Long],
      Array.newBuilder[Long], Array.newBuilder[Int])
    def emit(start: Int, w: Long, t: Int, v: Int): Unit = {
      starts += start; walks += w; steps += t.toLong; at += v
    }
    for (start <- g.vertexRows; w <- 0L until walksPerVertex.toLong) {
      var cur = start
      emit(start, w, 0, cur)
      var t = 1
      while (t <= walkLen && adj.offsets(cur + 1) > adj.offsets(cur)) {
        val deg = adj.offsets(cur + 1) - adj.offsets(cur)
        cur = adj.dsts(adj.offsets(cur) + pick(start, w, t, deg))
        emit(start, w, t, cur)
        t += 1
      }
    }
    g.frame("start" -> starts.result(), "walk" -> walks.result(), "step" -> steps.result(),
      "vid" -> at.result()).localCheckpoint(true)
  }

  /** Skip-gram (center, context) pair counts over a walk corpus — the
    * word2vec/DeepWalk training-pair generator that consumes
    * [[randomWalks]] (Perozzi et al. KDD'14 §4.2: each position pairs
    * with every other position within `window` steps, both directions).
    *
    * Scale shape: `lead(vid, k)` over Window.partitionBy(start, walk).
    * orderBy(step) for k ≤ window — 2·window projected pair streams, NO
    * join — followed by one map-side-combinable count per (center,
    * context). The earlier self-equi-join on (start, walk) materialized
    * O(L²) intermediate rows per walk before the |Δstep| ≤ window filter
    * — fine at walkLen 8, a 25–100× blowup at the walkLen 40–80 a real
    * node2vec corpus uses (round-6 verdict #6); the window form is
    * O(L·window) with one sort per walk. At 100 TB this is one shuffle
    * on walk ids (uniform by construction) then one on vertex pairs
    * (Zipf, but partial-agg absorbs the hubs).
    *
    * @param walks (start, walk, step, vid) — [[randomWalks]] output. Rows
    *              are deduplicated on (start, walk, step) first: a
    *              duplicated vertex row repeats its walks, and a tied
    *              step would make the window order arbitrary. Steps within
    *              a walk are then consecutive and unique, so `lead` by k
    *              rows IS the pair at step distance k. The dedup runs on
    *              the window's own (start, walk) shuffle.
    * @return (center, context, pairs), pairs = co-occurrence count
    */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1 (got $window)")
    val w = Window.partitionBy("start", "walk").orderBy("step")
    val leads = walks.repartition(col("start"), col("walk"))
      .dropDuplicates("start", "walk", "step").select(
      (col("vid") +: (1 to window).map(k => lead(col("vid"), k).over(w).as(s"l$k"))): _*)
    val pairs = (1 to window).map { k =>
      val present = leads.where(col(s"l$k").isNotNull)
      // both directions: (v, v+k) and (v+k, v) — the join form counted
      // each ordered pair once per sign of Δstep
      present.select(col("vid").as("center"), col(s"l$k").as("context"))
        .unionAll(present.select(col(s"l$k").as("center"), col("vid").as("context")))
    }.reduce(_ unionAll _)
    pairs.groupBy("center", "context").agg(count(lit(1)).as("pairs"))
  }
}
