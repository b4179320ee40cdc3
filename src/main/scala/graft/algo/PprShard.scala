package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query-sharded PPR: the third execution strategy, for the reference's
  * actual serving workload — MANY per-query reset vectors over a graph
  * that fits per-executor memory (HippoRAG runs one igraph PPR per query,
  * HippoRAG.py:1736; a retrieval service runs thousands).
  *
  * The whole graph (~20 B/edge) is broadcast ONCE; queries are sharded
  * across tasks; every task runs its queries' power iterations locally
  * with zero cross-task synchronization. Scaling in cores is
  * embarrassingly parallel — this is the strategy that targets the N→4N
  * ≥ 0.8 efficiency rule for query throughput, while [[PprCsr]] (few
  * queries, big graph) and [[Ppr]] (graph ≫ memory) cover the other
  * regimes.
  *
  * Kernel design (measured, see BENCH.md): a naive CSR sweep is bound by
  * the random read-modify-write traffic into the next-rank array — ~16
  * bytes of DRAM per edge per query-iteration, which saturates this
  * class of machine (~130 GB/s) at well under 32 cores and caps thread
  * scaling near 0.3. Two structural fixes:
  *
  *  1. BATCHING (vertex-major `x[v*B+b]`): one edge-list pass serves B
  *     queries — edge-stream traffic drops B×.
  *  2. DESTINATION BLOCKING (propagation blocking): edges are laid out
  *     grouped by destination block sized so the block's slice of the
  *     next-rank array stays L2-resident — the random RMW traffic never
  *     leaves the private cache, leaving only the streaming edge read.
  *
  * Fixpoint semantics identical to [[Ppr]]/[[PprCsr]] (networkx
  * `_pagerank_python`), cross-checked in tests.
  */
object PprShard {

  /** Immutable local CSR over dense vids [0, nV). */
  case class LocalCsr(nV: Int, offsets: Array[Int], dsts: Array[Int],
                      weights: Array[Double], outW: Array[Double]) {
    def nEdges: Long = dsts.length.toLong
  }

  object LocalCsr {
    /** Counting sort of (src, dst, weight) chunks by src. Stable: each
      * neighbor list keeps the chunks' arc order.
      */
    def build(nV: Int, chunks: Array[(Array[Int], Array[Int], Array[Double])]): LocalCsr = {
      val m = chunks.iterator.map(_._1.length.toLong).sum
      require(m <= Int.MaxValue, s"CSR edge count $m exceeds local limit")
      val deg = new Array[Int](nV)
      chunks.foreach { case (ss, _, _) =>
        var i = 0
        while (i < ss.length) { deg(ss(i)) += 1; i += 1 }
      }
      val offsets = new Array[Int](nV + 1)
      var i = 0
      while (i < nV) { offsets(i + 1) = offsets(i) + deg(i); i += 1 }
      val cursor = offsets.clone()
      val dsts = new Array[Int](m.toInt)
      val ws = new Array[Double](m.toInt)
      chunks.foreach { case (ss, dd, ww) =>
        var k = 0
        while (k < ss.length) {
          val c = cursor(ss(k))
          dsts(c) = dd(k)
          ws(c) = ww(k)
          cursor(ss(k)) = c + 1
          k += 1
        }
      }
      val outW = new Array[Double](nV)
      i = 0
      while (i < nV) {
        var e = offsets(i)
        while (e < offsets(i + 1)) { outW(i) += ws(e); e += 1 }
        i += 1
      }
      LocalCsr(nV, offsets, dsts, ws, outW)
    }
  }

  /** Destination-blocked edge layout: entries grouped by dst-block, src
    * ascending within a block (the natural order of a src-major sweep,
    * so construction is two O(E) passes, no sort). `wNorm` pre-folds the
    * source's inverse out-weight into the edge weight, and `dangling`
    * lists zero-out-weight vertices, so the sweep needs no outW lookups.
    */
  case class BlockedCsr(
      nV: Int, blockVerts: Int,
      blockOff: Array[Int],
      srcs: Array[Int], dsts: Array[Int], wNorm: Array[Double],
      dangling: Array[Int]) {
    def nEdges: Long = dsts.length.toLong
    def nBlocks: Int = blockOff.length - 1
  }

  /** Collect symmetrized arcs into a driver-side CSR (use only when
    * E·20B fits comfortably — the same regime this strategy targets).
    *
    * The row decode runs ON EXECUTORS into per-partition primitive
    * arrays; the driver only concatenates and counting-sorts. A plain
    * `collect()` deserialized ~2E boxed Rows single-threaded on the
    * driver — measured as the dominant SERIAL term of the bench's graph
    * phase (Amdahl floor on the 8→32 build scaling), and this collect
    * sits on the serving path (one per query-sharded retrieve).
    */
  def buildLocal(arcs: DataFrame, nV: Int): LocalCsr = {
    val chunks: Array[(Array[Int], Array[Int], Array[Double])] =
      arcs.select(col("src").cast("long"), col("dst").cast("long"),
          col("weight").cast("double"))
        .queryExecution.toRdd.mapPartitions { it =>
          val s = new scala.collection.mutable.ArrayBuilder.ofInt
          val d = new scala.collection.mutable.ArrayBuilder.ofInt
          val w = new scala.collection.mutable.ArrayBuilder.ofDouble
          it.foreach { row =>
            s += row.getLong(0).toInt
            d += row.getLong(1).toInt
            w += row.getDouble(2)
          }
          Iterator.single((s.result(), d.result(), w.result()))
        }.collect()
    LocalCsr.build(nV, chunks)
  }

  /** Re-lay a CSR into destination blocks. `blockVerts` should be sized
    * so blockVerts × batchSize × 8 B stays within the private L2 (the
    * auto choice in [[run]] targets 512 KiB).
    */
  def block(csr: LocalCsr, blockVerts: Int): BlockedCsr = {
    val nV = csr.nV
    val bv = math.max(1, math.min(blockVerts, nV))
    val nBlocks = (nV + bv - 1) / bv
    val m = csr.dsts.length
    val counts = new Array[Int](nBlocks)
    var e = 0
    while (e < m) { counts(csr.dsts(e) / bv) += 1; e += 1 }
    val blockOff = new Array[Int](nBlocks + 1)
    var k = 0
    while (k < nBlocks) { blockOff(k + 1) = blockOff(k) + counts(k); k += 1 }
    val cursor = blockOff.clone()
    val srcs = new Array[Int](m)
    val dsts = new Array[Int](m)
    val wNorm = new Array[Double](m)
    var u = 0
    while (u < nV) {
      val inv = if (csr.outW(u) == 0.0) 0.0 else 1.0 / csr.outW(u)
      e = csr.offsets(u)
      val end = csr.offsets(u + 1)
      while (e < end) {
        val d = csr.dsts(e)
        val c = cursor(d / bv)
        srcs(c) = u
        dsts(c) = d
        wNorm(c) = csr.weights(e) * inv
        cursor(d / bv) = c + 1
        e += 1
      }
      u += 1
    }
    val dangling = (0 until nV).filter(csr.outW(_) == 0.0).toArray
    BlockedCsr(nV, bv, blockOff, srcs, dsts, wNorm, dangling)
  }

  /** A BATCH of queries' power iterations, one blocked edge sweep per
    * iteration for all B queries (see object doc for why).
    *
    * The batch iterates until EVERY query's L1 delta is under n·tol;
    * already-converged queries keep refining toward the same fixpoint
    * (harmless — power iteration is a contraction). Per-query convergence
    * iterations are recorded when first crossed.
    *
    * @return (vertex-major scores x[v*B+b], per-query convergence iters,
    *          sweeps performed)
    */
  private[graft] def solveBatch(csr: BlockedCsr, batch: Array[Seq[(Long, Double)]],
                                damping: Double, tol: Double, maxIter: Int)
      : (Array[Double], Array[Int], Int) = {
    val n = csr.nV
    val nB = batch.length
    // The reset vectors stay SPARSE: a (vertex-sorted) triple list instead
    // of a dense n×B array — one fewer full-size state array per batch, so
    // 32 concurrent tasks' working sets stay inside the shared L3.
    val nSeeds = batch.map(_.count { case (_, w) => !w.isNaN && w > 0 }).sum
    val ssV = new Array[Int](nSeeds)
    val ssB = new Array[Int](nSeeds)
    val ssW = new Array[Double](nSeeds)
    locally {
      var si = 0
      var b = 0
      while (b < nB) {
        var mass = 0.0
        batch(b).foreach { case (v, w) =>
          if (!w.isNaN && w > 0) { ssV(si) = v.toInt; ssB(si) = b; ssW(si) = w; si += 1; mass += w }
        }
        require(mass > 0, "PPR reset vector must have positive mass")
        var j = si - 1
        while (j >= 0 && ssB(j) == b) { ssW(j) /= mass; j -= 1 }
        b += 1
      }
      // stable sort by vertex so per-block seed ranges are contiguous
      val order = Array.range(0, nSeeds).sortBy(i => ssV(i))
      val tv = order.map(i => ssV(i))
      val tb = order.map(i => ssB(i))
      val tw = order.map(i => ssW(i))
      System.arraycopy(tv, 0, ssV, 0, nSeeds)
      System.arraycopy(tb, 0, ssB, 0, nSeeds)
      System.arraycopy(tw, 0, ssW, 0, nSeeds)
    }
    // x starts at p (the normalized reset distribution)
    var x = new Array[Double](n * nB)
    locally {
      var si = 0
      while (si < nSeeds) { x(ssV(si) * nB + ssB(si)) += ssW(si); si += 1 }
      // duplicate (v,b) seeds: += above matches the dense accumulation
    }
    var buf = new Array[Double](n * nB)
    val itersAt = Array.fill(nB)(-1)
    val errs = new Array[Double](nB)
    val dangle = new Array[Double](nB)
    val threshold = n * tol
    val srcs = csr.srcs
    val dsts = csr.dsts
    val wNorm = csr.wNorm
    val blockOff = csr.blockOff
    val bv = csr.blockVerts
    val oneMinusD = 1.0 - damping
    var iter = 0
    var remaining = nB
    var b = 0
    while (iter < maxIter && remaining > 0) {
      val nx = buf
      java.util.Arrays.fill(nx, 0.0)
      java.util.Arrays.fill(dangle, 0.0)
      java.util.Arrays.fill(errs, 0.0)
      var di = 0
      while (di < csr.dangling.length) {
        val off = csr.dangling(di) * nB
        b = 0
        while (b < nB) { dangle(b) += x(off + b); b += 1 }
        di += 1
      }
      var k = 0
      var seedCursor = 0
      val nBlocks = csr.nBlocks
      while (k < nBlocks) {
        // gather: all in-edges of this dst block (nx slice is L2-resident)
        var e = blockOff(k)
        val end = blockOff(k + 1)
        while (e < end) {
          val sOff = srcs(e) * nB
          val dOff = dsts(e) * nB
          val wn = wNorm(e)
          b = 0
          while (b < nB) { nx(dOff + b) += wn * x(sOff + b); b += 1 }
          e += 1
        }
        // finalize the slice while it is still cache-hot: damping, the
        // sparse teleport term, then the L1-delta accumulation
        val lo = k * bv
        val hi = math.min(n, lo + bv)
        var off = lo * nB
        val offEnd = hi * nB
        while (off < offEnd) { nx(off) *= damping; off += 1 }
        while (seedCursor < nSeeds && ssV(seedCursor) < hi) {
          val sb = ssB(seedCursor)
          nx(ssV(seedCursor) * nB + sb) +=
            (damping * dangle(sb) + oneMinusD) * ssW(seedCursor)
          seedCursor += 1
        }
        var v = lo
        while (v < hi) {
          val o = v * nB
          b = 0
          while (b < nB) { errs(b) += math.abs(nx(o + b) - x(o + b)); b += 1 }
          v += 1
        }
        k += 1
      }
      buf = x
      x = nx
      iter += 1
      b = 0
      while (b < nB) {
        if (itersAt(b) < 0 && errs(b) < threshold) { itersAt(b) = iter; remaining -= 1 }
        b += 1
      }
    }
    b = 0
    while (b < nB) { if (itersAt(b) < 0) itersAt(b) = maxIter; b += 1 }
    (x, itersAt, iter)
  }

  /** Single-query convenience wrapper over [[solveBatch]]. */
  private[algo] def solveOne(csr: LocalCsr, seeds: Seq[(Long, Double)],
                             damping: Double, tol: Double, maxIter: Int): (Array[Double], Int) = {
    val (x, iters, _) = solveBatch(block(csr, csr.nV), Array(seeds), damping, tol, maxIter)
    (x, iters(0))
  }

  /** Bounded top-k over one query's strided scores (score desc, vid asc):
    * a k-heap ordered worst-first — O(V log k), no V-sized buffer, no
    * boxing. Returns (vids, scores) sorted best-first.
    */
  private[graft] def topKStrided(x: Array[Double], nB: Int, b: Int, nV: Int,
                                 k: Int): (Array[Int], Array[Double]) = {
    val cap = math.min(k, nV)
    val hv = new Array[Int](cap)
    val hs = new Array[Double](cap)
    var size = 0
    // "a worse than b" under (score desc, vid asc) readout order
    @inline def worse(s1: Double, v1: Int, s2: Double, v2: Int): Boolean =
      s1 < s2 || (s1 == s2 && v1 > v2)
    def siftDown(i0: Int): Unit = {
      var i = i0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var w = i
        if (l < size && worse(hs(l), hv(l), hs(w), hv(w))) w = l
        if (r < size && worse(hs(r), hv(r), hs(w), hv(w))) w = r
        if (w == i) done = true
        else {
          val ts = hs(i); val tv = hv(i)
          hs(i) = hs(w); hv(i) = hv(w)
          hs(w) = ts; hv(w) = tv
          i = w
        }
      }
    }
    var v = 0
    while (v < nV) {
      val s = x(v * nB + b)
      if (s != 0.0) {
        if (size < cap) {
          // insert with sift-up
          var i = size
          hv(i) = v; hs(i) = s; size += 1
          var parent = (i - 1) / 2
          while (i > 0 && worse(hs(i), hv(i), hs(parent), hv(parent))) {
            val ts = hs(i); val tv = hv(i)
            hs(i) = hs(parent); hv(i) = hv(parent)
            hs(parent) = ts; hv(parent) = tv
            i = parent; parent = (i - 1) / 2
          }
        } else if (worse(hs(0), hv(0), s, v)) {
          hs(0) = s; hv(0) = v
          siftDown(0)
        }
      }
      v += 1
    }
    // heap-sort into best-first order
    val outV = new Array[Int](size)
    val outS = new Array[Double](size)
    var i = size - 1
    while (i >= 0) {
      outV(i) = hv(0); outS(i) = hs(0)
      size -= 1
      hv(0) = hv(size); hs(0) = hs(size)
      siftDown(0)
      i -= 1
    }
    (outV, outS)
  }

  /** Per-partition solve + emission shared by Runner.run / Runner.runFrame.
    * Object-level on purpose: task closures must capture only this static
    * call + primitives, never the Runner (it holds the SparkSession).
    */
  private def solvePartition(
      it: Iterator[(Long, Seq[(Long, Double)])],
      local: BlockedCsr, cfg: PprConfig, topK: Int, batchCap: Int,
      iterAcc: org.apache.spark.util.LongAccumulator,
      capped: org.apache.spark.util.LongAccumulator): Iterator[(Long, Long, Double)] = {
    val nV = local.nV
    it.grouped(math.max(1, batchCap)).flatMap { group =>
      val (x, iters, _) = solveBatch(local, group.map(_._2).toArray,
        cfg.damping, cfg.tol, cfg.maxIter)
      val nB = group.length
      group.iterator.map(_._1).zipWithIndex.flatMap { case (qid, b) =>
        iterAcc.add(iters(b))
        if (iters(b) >= cfg.maxIter) capped.add(1)
        if (topK > 0) {
          val (vs, ss) = topKStrided(x, nB, b, nV, topK)
          Iterator.tabulate(vs.length)(i => (qid, vs(i).toLong, ss(i)))
        } else {
          (0 until nV).iterator
            .map(v => (qid, v.toLong, x(v * nB + b)))
            .filter(_._3 != 0.0)
        }
      }
    }
  }

  /** Reusable handle: blocks + broadcasts the graph ONCE, then serves any
    * number of query batches — repeated [[run]] calls would otherwise pay
    * a fresh O(E) broadcast per call.
    */
  final class Runner(spark: SparkSession, csr: LocalCsr, batchSize: Int = 16,
                     blockVerts: Int = 0) {
    private val bv =
      if (blockVerts > 0) blockVerts
      // Target: blockVerts × batchSize × 8 B ≈ 512 KiB (half a typical L2)
      else math.max(1024, 524288 / (8 * math.max(1, batchSize)))
    private val bc = spark.sparkContext.broadcast(block(csr, bv))
    val nEdges: Long = csr.nEdges

    private def finish(scores: DataFrame, t0: Long,
                       iterAcc: org.apache.spark.util.LongAccumulator,
                       capped: org.apache.spark.util.LongAccumulator): (DataFrame, PprStats) = {
      val out = scores.persist()
      out.count() // materialize so stats are final
      val wall = (System.nanoTime() - t0) / 1e9
      val iters = iterAcc.value.toInt
      (out, PprStats(iters, converged = capped.value == 0L, nEdges * iters, wall))
    }

    def run(seeds: Seq[(Long, Seq[(Long, Double)])], cfg: PprConfig = PprConfig(),
            numShards: Int = 0, topK: Int = 0): (DataFrame, PprStats) = {
      val t0 = System.nanoTime()
      val iterAcc = spark.sparkContext.longAccumulator("ppr_iterations")
      val capped = spark.sparkContext.longAccumulator("ppr_maxiter_hits")
      finish(plan(seeds, cfg, numShards, topK, iterAcc, capped), t0, iterAcc, capped)
    }

    /** [[run]] without the eager persist+count: for single-consumer
      * callers (one readout action) the eager materialization is a whole
      * extra job + cached copy that buys nothing — the caller's action
      * computes the scores exactly once either way. No stats (they would
      * not be final before the caller's action runs).
      */
    def runLazy(seeds: Seq[(Long, Seq[(Long, Double)])], cfg: PprConfig = PprConfig(),
                numShards: Int = 0, topK: Int = 0): DataFrame = {
      val iterAcc = spark.sparkContext.longAccumulator("ppr_iterations")
      val capped = spark.sparkContext.longAccumulator("ppr_maxiter_hits")
      plan(seeds, cfg, numShards, topK, iterAcc, capped)
    }

    private def plan(seeds: Seq[(Long, Seq[(Long, Double)])], cfg: PprConfig,
                     numShards: Int, topK: Int,
                     iterAcc: org.apache.spark.util.LongAccumulator,
                     capped: org.apache.spark.util.LongAccumulator): DataFrame = {
      import spark.implicits._
      val shards0 = if (numShards > 0) numShards else spark.sparkContext.defaultParallelism
      val shards = math.min(shards0, math.max(1, seeds.length))
      // Deterministic round-robin interleave, then parallelize — even
      // shards with mixed per-query costs, NO shuffle stage (the old
      // createDataset(...).repartition(...) paid one per call).
      val strided = (0 until shards).flatMap(s =>
        Iterator.range(s, seeds.length, shards).map(seeds))
      val bcLocal = bc
      val batchCap = batchSize
      spark.sparkContext.parallelize(strided, shards)
        .mapPartitions(it =>
          PprShard.solvePartition(it, bcLocal.value, cfg, topK, batchCap, iterAcc, capped))
        .toDF("qid", "vid", "score")
    }

    /** Seeds as a DataFrame (qid, vid, weight) — the serving path for
      * dense per-query reset vectors (the Retriever's passage weights
      * span ALL chunks per query): seed rows are hash-repartitioned by
      * qid and grouped INSIDE tasks against the broadcast CSR, so the
      * driver never materializes the Q×V seed matrix (round-1 collected
      * it — OOM territory for thousands of queries near the CSR gate).
      */
    def runFrame(seeds: DataFrame, cfg: PprConfig = PprConfig(),
                 numShards: Int = 0, topK: Int = 0): (DataFrame, PprStats) = {
      val t0 = System.nanoTime()
      val iterAcc = spark.sparkContext.longAccumulator("ppr_iterations")
      val capped = spark.sparkContext.longAccumulator("ppr_maxiter_hits")
      finish(planFrame(seeds, cfg, numShards, topK, iterAcc, capped), t0, iterAcc, capped)
    }

    /** [[runFrame]] without the eager persist+count (see [[runLazy]]). */
    def runFrameLazy(seeds: DataFrame, cfg: PprConfig = PprConfig(),
                     numShards: Int = 0, topK: Int = 0): DataFrame = {
      val iterAcc = spark.sparkContext.longAccumulator("ppr_iterations")
      val capped = spark.sparkContext.longAccumulator("ppr_maxiter_hits")
      planFrame(seeds, cfg, numShards, topK, iterAcc, capped)
    }

    private def planFrame(seeds: DataFrame, cfg: PprConfig,
                          numShards: Int, topK: Int,
                          iterAcc: org.apache.spark.util.LongAccumulator,
                          capped: org.apache.spark.util.LongAccumulator): DataFrame = {
      import spark.implicits._
      val shards = if (numShards > 0) numShards else spark.sparkContext.defaultParallelism
      val bcLocal = bc
      val batchCap = batchSize
      seeds
        .select(col("qid").cast("long"), col("vid").cast("long"),
          col("weight").cast("double"))
        .repartition(shards, col("qid"))
        .sortWithinPartitions("qid", "vid")
        .as[(Long, Long, Double)]
        .mapPartitions { it =>
          // consecutive same-qid rows → one query's sparse reset vector
          val grouped = new Iterator[(Long, Seq[(Long, Double)])] {
            private val buf = it.buffered
            def hasNext: Boolean = buf.hasNext
            def next(): (Long, Seq[(Long, Double)]) = {
              val q = buf.head._1
              val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
              while (buf.hasNext && buf.head._1 == q) {
                val r = buf.next()
                b += ((r._2, r._3))
              }
              (q, b.toSeq)
            }
          }
          PprShard.solvePartition(grouped, bcLocal.value, cfg, topK, batchCap, iterAcc, capped)
        }.toDF("qid", "vid", "score")
    }

    def close(): Unit = bc.destroy()
  }

  /** @param topK when > 0, each query emits only its top-k vertices
    *              (score desc, vid asc) — the retrieval serving shape,
    *              which also keeps the result exchange tiny.
    * @return ((qid, vid, score) rows — nonzero scores only, stats)
    */
  def run(
      spark: SparkSession,
      csr: LocalCsr,
      seeds: Seq[(Long, Seq[(Long, Double)])],
      cfg: PprConfig = PprConfig(),
      numShards: Int = 0,
      topK: Int = 0,
      batchSize: Int = 16): (DataFrame, PprStats) =
    new Runner(spark, csr, batchSize).run(seeds, cfg, numShards, topK)
}
