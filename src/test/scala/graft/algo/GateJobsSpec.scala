package graft.algo

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.bench.BenchExtra.MetricsListener

/** Spark jobs per gated entry point, on both paths, counted with the
  * bench's [[MetricsListener]] around the call plus one collect of its
  * result (a lazily built result still runs its jobs inside the count).
  * Each bound is the count measured before the driver kernels moved onto
  * [[LocalGraph]]: a gate that quietly adds a job fails here.
  */
class GateJobsSpec extends SparkSpec {
  import spark.implicits._

  private def arcs(n: Int, m: Int, seed: Long): Seq[(Long, Long, Double)] = {
    var s = seed
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s >>> 33 }
    (0 until m).map(_ => ((next() % n).toLong, (next() % n).toLong, (next() % 3 + 1).toDouble))
      .filter { case (u, v, _) => u != v }
  }

  private def jobs(body: => DataFrame): Int = {
    val l = new MetricsListener
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain.drain(sc)
    sc.addSparkListener(l)
    try {
      body.collect()
      org.apache.spark.ListenerDrain.drain(sc)
      l.jobs.get
    } finally sc.removeSparkListener(l)
  }

  test("gated entry points run no more Spark jobs than before, on either path") {
    val dir = arcs(40, 160, 11L).distinct.toDF("src", "dst", "weight")
    val und = dir.unionByName(dir.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    val verts = (0L until 40L).toDF("vid")
    val seeds = Seq(0L, 7L).toDF("vid")
    val calls: Seq[(String, Long => DataFrame)] = Seq(
      "cc" -> (g => ConnectedComponents.run(und, verts, localFinishMax = g)._1),
      "triangles" -> (g => Triangles.run(und, verts, localKernelMax = g)._1),
      "lpa" -> (g => LabelProp.run(und, verts, maxIter = 10, localKernelMax = g)._1),
      "kcore" -> (g => KCore.run(und, verts, localKernelMax = g)),
      "hits" -> (g => Hits.run(dir, verts, sweeps = 5, localKernelMax = g)),
      "bfs" -> (g => Bfs.hops(und, verts, seeds, localKernelMax = g)),
      "walks" -> (g => Walks.randomWalks(dir, verts, 4, 1, localKernelMax = g)),
      "scc" -> (g => Scc.run(dir, verts, localFinishMax = g)),
      "exactDistances" -> (g => Neighborhood.exactDistances(dir, verts, localKernelMax = g)),
      "hyperball" -> (g => Neighborhood.hyperball(dir, verts, lgK = 6, localKernelMax = g)._2))
    val got = for ((name, call) <- calls; gate <- Seq(1L << 20, 0L)) yield {
      jobs(call(gate)) // warm-up: first-touch caches must not skew the count
      (name, gate, jobs(call(gate)))
    }
    got.foreach { case (name, gate, n) => info(s"$name gate=$gate jobs=$n") }
    val over = got.filter { case (name, gate, n) =>
      val (gated, distributed) = bounds(name)
      n > (if (gate > 0) gated else distributed)
    }
    assert(over.isEmpty, s"more jobs than the bound (name, gate, jobs): $over")
  }

  test("distributed loops run no more Spark jobs than before") {
    val dir = arcs(40, 160, 11L).distinct.toDF("src", "dst", "weight")
    val und = dir.unionByName(dir.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    val verts = (0L until 40L).toDF("vid")
    val seeds = Seq((0L, 0L, 1.0), (0L, 7L, 2.0), (1L, 3L, 1.0)).toDF("qid", "vid", "weight")
    // A fresh directory per call: a committed checkpoint would be resumed.
    def fresh(): Option[String] =
      Some(java.nio.file.Files.createTempDirectory("graft_jobs_ckpt").toString)
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "ppr" -> (() => Ppr.run(spark, und, 40L, seeds, PprConfig(tol = 1e-8))._1),
      "ccMinLabel" -> (() => ConnectedComponents.runMinLabel(und, verts)._1),
      "ccDurable" -> (() => ConnectedComponents.run(und, verts, preContract = false,
        localFinishMax = 0L, checkpointDir = fresh(), diskCheckpointEvery = 1)._1))
    val got = calls.map { case (name, call) =>
      jobs(call()) // warm-up, as above
      (name, jobs(call()))
    }
    got.foreach { case (name, n) => info(s"$name jobs=$n") }
    val over = got.filter { case (name, n) => n > loopBounds(name) }
    assert(over.isEmpty, s"more jobs than the bound (name, jobs): $over")
  }

  /** Job counts of the distributed loops on this fixture, measured before
    * the loops moved onto [[Fixpoint]].
    */
  private val loopBounds = Map("ppr" -> 120, "ccMinLabel" -> 29, "ccDurable" -> 63)

  /** (gated, distributed) job counts of each entry point on this fixture,
    * measured when every kernel still collected its own graph.
    */
  private val bounds = Map(
    "cc" -> (8, 41), "triangles" -> (8, 21), "lpa" -> (7, 76), "kcore" -> (10, 58),
    "hits" -> (5, 63), "bfs" -> (10, 45), "walks" -> (8, 25), "scc" -> (13, 265),
    "exactDistances" -> (8, 81), "hyperball" -> (10, 65))
}
