package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.Neighborhood

/** HyperBall at scale: the sketch-based distance-distribution /
  * effective-diameter path ([[Neighborhood.hyperball]], Boldi-Vigna on
  * Spark's native Datasketches HLL aggregates) on the SAME deterministic
  * Zipf graph family the scaling bench uses — the regime where the exact
  * all-roots BFS (q40's oracle-able form) is impossible (V·reach pairs)
  * and sketches are the only 10^12-page route.
  *
  * Measures wall/rounds/sketch-gather throughput at local[8] vs
  * local[32] interleaved (the north-rule N→4N protocol), and validates
  * the estimates in-run: a handful of exact single-root ball sizes
  * ([[Neighborhood.exactDistances]] with the root as its only vertex,
  * O(reach) rows each) must match the per-vertex HLL estimates within
  * sketch error.
  *
  *   sbt "runMain graft.bench.HyperBallProbe [nV] [nSamples] [lgK]"
  */
object HyperBallProbe {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"hyperball-probe-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Same deterministic Zipf arc construction as Bench.writeScalingArcs /
    * ShufflePprProbe (directed, no weights needed here).
    */
  private def zipfArcs(spark: SparkSession, nV: Int, nSamples: Long): DataFrame = {
    val u1 = pmod(xxhash64(col("id"), lit(1)), lit(1000000000L)).cast("double") / 1e9
    val u2 = pmod(xxhash64(col("id"), lit(2)), lit(1000000000L)).cast("double") / 1e9
    spark.range(0L, nSamples, 1L, 192)
      .select(floor(u1 * u1 * nV).cast("long").as("src"),
              floor(u2 * u2 * nV).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Exact out-ball size of one root (for validation). */
  private def exactBallSize(arcs: DataFrame, root: Long, maxRounds: Int): Long = {
    val spark = arcs.sparkSession
    import spark.implicits._
    Neighborhood.exactDistances(arcs, Seq(root).toDF("vid"), maxRounds).count()
  }

  /** In-JVM sketch-merge ceiling: N threads stream register-max merges
    * over a RAM-resident (≫ LLC) pool of 2^lgK-byte register arrays — the
    * exact inner op of an HLL union, zero shared state, no Spark. Returns
    * (bytes/s @8, bytes/s @32, 8→32 efficiency). If THIS anti-scales,
    * the workload is memory-bus-bound on this box and no engine can
    * beat the bus (same argument as Bench's FMA/md5 ceilings).
    */
  private def mergeCeiling(lgK: Int): (Double, Double, Double) = {
    val k = 1 << lgK
    val nSketch = 1 << 18 // × 1 KiB = 256 MiB pool: RAM, not cache
    val pool = Array.tabulate(nSketch)(s =>
      Array.tabulate(k)(i => ((i * 31 + s) & 0x3f).toByte))
    @volatile var sink = 0
    def burn(threads: Int, perThread: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => {
          val acc = new Array[Byte](k)
          var i = 0
          while (i < perThread) {
            val s = pool(((i.toLong * 131 + t * 7919) % nSketch).toInt)
            var j = 0
            while (j < k) { val v = s(j); if (v > acc(j)) acc(j) = v; j += 1 }
            i += 1
          }
          sink += acc(k - 1)
        })
        th.start(); th
      }
      ts.foreach(_.join())
      threads.toDouble * perThread * k / ((System.nanoTime() - t0) / 1e9)
    }
    burn(32, 20000) // JIT + page-in warmup
    val reps = (1 to 3).map(_ => (burn(8, 60000), burn(32, 60000)))
    val b8 = reps.map(_._1).max
    val b32 = reps.map(_._2).max
    (b8, b32, b32 / b8 / 4.0)
  }

  def main(args: Array[String]): Unit = {
    val nV = if (args.length > 0) args(0).toInt else 65536
    val nSamples = if (args.length > 1) args(1).toLong else 1300000L
    val lgK = if (args.length > 2) args(2).toInt else 10
    val walls = scala.collection.mutable.Map.empty[Int, List[Double]]
    var lastCurve: Seq[(Int, Double)] = Nil
    var nArcs = 0L
    for (cores <- Seq(8, 32, 8, 32)) {
      val spark = session(cores)
      val arcs = zipfArcs(spark, nV, nSamples)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      nArcs = arcs.count()
      val vertices = spark.range(0L, nV.toLong).select(col("id").as("vid"))
      val t0 = System.nanoTime()
      val (curve, balls) = Neighborhood.hyperball(arcs, vertices, lgK = lgK)
      val wall = (System.nanoTime() - t0) / 1e9
      val rounds = curve.size - 1
      val gathersPerSec = nArcs.toDouble * rounds / wall
      println(f"[probe] cores=$cores%2d nV=$nV arcs=$nArcs rounds=$rounds " +
        f"wall=$wall%.1fs sketch-gathers/s=$gathersPerSec%.3e " +
        f"effDiam(0.9)=${Neighborhood.effectiveDiameter(curve)} " +
        f"N(inf)=${curve.last._2}%.3e")
      walls(cores) = wall :: walls.getOrElse(cores, Nil)
      lastCurve = curve

      if (cores == 32 && walls(32).size == 1) {
        // Validate once: exact out-ball sizes for 4 roots vs HLL estimates.
        val roots = Seq(1L, 7L, 1000L, (nV - 3).toLong)
        val est = balls.where(col("vid").isin(roots: _*))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        for (root <- roots) {
          val exact = exactBallSize(arcs, root, maxRounds = rounds + 2)
          val e = est(root)
          val rel = math.abs(e - exact) / math.max(1.0, exact.toDouble)
          println(f"[probe] root=$root exact-ball=$exact hll=$e%.0f rel-err=$rel%.3f")
          require(rel < 0.12, s"HLL ball estimate off by $rel at root $root")
        }
        println("[probe] HLL BALL ESTIMATES AGREE with exact BFS")
      }
      balls.unpersist()
      arcs.unpersist()
      spark.stop()
    }
    val t8 = walls(8).min
    val t32 = walls(32).min
    val eff = t8 / (4.0 * t32)
    val (b8, b32, ceil) = mergeCeiling(lgK)
    println(f"[probe] best-rep local[8]=$t8%.1fs local[32]=$t32%.1fs " +
      f"scaling-efficiency(8->32)=$eff%.3f")
    println(f"[probe] in-JVM sketch-merge ceiling: ${b8 / 1e9}%.1f GB/s @8 -> " +
      f"${b32 / 1e9}%.1f GB/s @32, efficiency=$ceil%.3f; engine/ceiling=${eff / ceil}%.2f")
  }
}
