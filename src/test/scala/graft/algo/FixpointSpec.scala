package graft.algo

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.graph.Adjacency

/** The shared loop pieces of [[Fixpoint]]: durable checkpoints that only
  * count once committed, the walk corpus feeding skip-grams, and a loop's
  * state cache released once its read-out is pinned.
  */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def path(n: Int): DataFrame =
    Adjacency.symmetrize((0 until n - 1).map(i => (i.toLong, (i + 1).toLong, 1.0))
      .toDF("src", "dst", "weight"))

  /** Leave round `k` of a checkpoint uncommitted, as a driver killed while
    * writing its metadata would.
    */
  private def uncommit(dir: String, k: Int): Unit =
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/iter=$k/meta/_SUCCESS"))

  private def latest(dir: String): Int =
    Fixpoint.Checkpoint.readLatest(spark, dir).map(_.iter).getOrElse(-1)

  test("PPR: an uncommitted checkpoint is skipped, and resuming past it == the uninterrupted run") {
    val arcs = path(16)
    val seeds = Seq((0L, 0L, 1.0), (1L, 9L, 1.0)).toDF("qid", "vid", "weight")
    val dir = java.nio.file.Files.createTempDirectory("graft_ppr_uncommitted").toString
    val cfg = PprConfig(tol = 1e-6, checkpointEvery = 2, checkpointDir = Some(dir))
    val (full, fullStats) = Ppr.run(spark, arcs, 16L, seeds, cfg)
    val last = latest(dir)
    assert(last == fullStats.iterations)
    uncommit(dir, last)
    assert(new java.io.File(s"$dir/iter=$last/state").exists)
    assert(latest(dir) < last, "the uncommitted round must not be read")
    val (resumed, resStats) = Ppr.resume(spark, arcs, 16L, seeds, cfg)
    def scores(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(resStats.iterations == fullStats.iterations)
    assert(scores(resumed) == scores(full), "resumed scores must be bit-identical")
  }

  test("CC: an uncommitted checkpoint is skipped, and resuming past it == the uninterrupted run") {
    val arcs = path(64)
    val vertices = (0L until 64L).toDF("vid")
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_uncommitted").toString
    def run() = ConnectedComponents.run(arcs, vertices, preContract = false,
      localFinishMax = 0L, checkpointDir = Some(dir), diskCheckpointEvery = 1)
    val (full, fullRounds) = run()
    val last = latest(dir)
    assert(last >= 2, s"fixture must commit at least two rounds (got $last)")
    uncommit(dir, last)
    assert(latest(dir) == last - 1, "the uncommitted round must not be read")
    val (resumed, resumedRounds) = run()
    def labels(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumedRounds == fullRounds)
    assert(labels(resumed) == labels(full))
  }

  test("skip-gram pairs: a duplicated vertex row changes nothing, on either walk path") {
    val arcs = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 0L))
      .toDF("src", "dst")
    val verts = (0L until 5L).toDF("vid")
    val dup = verts.unionByName(Seq(3L).toDF("vid"))
    for (gate <- Seq(1L << 20, 0L)) {
      def pairs(vs: DataFrame) = Walks.skipGramPairs(
          Walks.randomWalks(arcs, vs, walkLen = 4, walksPerVertex = 2, localKernelMax = gate), 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(pairs(dup) == pairs(verts), s"gate=$gate")
    }
  }

  test("distributed LabelProp leaves no round cached: only the read-out's own pin") {
    val arcs = path(24)
    val verts = (0L until 24L).toDF("vid")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (labels, iters) = LabelProp.run(arcs, verts, maxIter = 7, checkpointEvery = 3,
      localKernelMax = 0L)
    assert(iters > 3, "the loop must pass a truncation round")
    assert(labels.count() == 24L)
    // The read-out is one localCheckpoint: a leaf over the RDD it pinned.
    val own = labels.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => Some(r.rdd)
      case _ => None
    }
    assert((sc.getPersistentRDDs.keySet -- before).subsetOf(own.map(_.id).toSet),
      "a loop state is still cached after run returned")
    own.foreach(_.unpersist(blocking = true))
    assert(sc.getPersistentRDDs.size <= before.size)
  }
}
