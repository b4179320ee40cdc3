package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Goldens, SparkSpec}
import graft.graph.Adjacency

class GraphAlgoSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(name: String): (Goldens.Golden, DataFrame, DataFrame) = {
    val g = Goldens.load(name)
    val arcs = Adjacency.symmetrize(g.edges.toDF("src", "dst", "weight"))
    val vertices = (0L until g.nVertices.toLong).toDF("vid")
    (g, arcs, vertices)
  }

  for (name <- Goldens.all) {
    test(s"connected components exact vs networkx [$name]") {
      val (g, arcs, vertices) = fixture(name)
      // Both execution paths against the same golden: the gated driver
      // union-find finish (default — these fixtures sit under the gate)
      // and the distributed star loop (localFinishMax = 0 forces it).
      for (gate <- Seq(1L << 20, 0L)) {
        val (labels, _) = ConnectedComponents.run(arcs, vertices,
          localFinishMax = gate)
        val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        for (v <- 0 until g.nVertices)
          assert(got(v.toLong) == g.cc(v), s"vid=$v gate=$gate")
      }
    }

    test(s"synchronous min-label LPA exact vs oracle [$name]") {
      val (g, arcs, vertices) = fixture(name)
      val (labels, _) = LabelProp.run(arcs, vertices, maxIter = 20)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for (v <- 0 until g.nVertices)
        assert(got(v.toLong) == g.lpa(v), s"vid=$v")
    }

    test(s"triangle count exact vs networkx [$name]") {
      val (g, arcs, vertices) = fixture(name)
      // Both execution paths (round 6: gated driver kernel vs the
      // distributed wedge join, localKernelMax = 0 forces the latter)
      // against the same networkx golden — counts are integers, so the
      // paths must agree EXACTLY.
      for (gate <- Seq(1L << 20, 0L)) {
        val (perVertex, total) = Triangles.run(arcs, vertices,
          localKernelMax = gate)
        assert(total == g.triTotal, s"total gate=$gate")
        val got = perVertex.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        for (v <- 0 until g.nVertices)
          assert(got(v.toLong) == g.triPerVertex(v), s"vid=$v gate=$gate")
      }
    }
  }

  for (name <- Goldens.all) {
    test(s"star-contraction CC == min-label CC [$name]") {
      val (_, arcs, vertices) = fixture(name)
      val star = ConnectedComponents.run(arcs, vertices)._1.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val minLabel = ConnectedComponents.runMinLabel(arcs, vertices)._1.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == minLabel)
    }
  }

  test("CC durable checkpoint: kill-at-round-2 resume == uninterrupted run (north-rule resumability)") {
    // The CC half of the north rule's resumable-state requirement
    // (PprSpec pins the PPR half): a run killed mid-convergence resumes
    // from its last committed CcCheckpoint and lands on the IDENTICAL
    // labels at the IDENTICAL absolute round count. preContract off +
    // localFinishMax 0 force the multi-round star loop; the 512-vertex
    // path needs several rounds, so round 2 is genuinely mid-convergence.
    val n = 512
    val edges = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong, 1.0))
      .toDF("src", "dst", "weight")
    val arcs = Adjacency.symmetrize(edges)
    val vertices = (0L until n.toLong).toDF("vid")
    def labelMap(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (full, fullRounds) = ConnectedComponents.run(arcs, vertices,
      preContract = false, localFinishMax = 0L)
    assert(fullRounds >= 4, s"fixture must be multi-round (got $fullRounds)")
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    // "Kill" after 2 rounds: maxIter = 2 with per-round durable commits.
    val (_, partialRounds) = ConnectedComponents.run(arcs, vertices,
      preContract = false, localFinishMax = 0L,
      checkpointDir = Some(dir), diskCheckpointEvery = 1, maxIter = 2)
    assert(partialRounds == 2)
    val st = Fixpoint.Checkpoint.readLatest(spark, dir)
    assert(st.exists(_.iter == 2), "round-2 checkpoint must be committed")
    assert(new java.io.File(s"$dir/iter=2/partstats").exists,
      "per-partition lineage must be part of the checkpoint")
    // Resume over the same dir: starts at round 2, replays to the same
    // fixpoint — labels exactly equal, absolute round count preserved.
    val (resumed, resumedRounds) = ConnectedComponents.run(arcs, vertices,
      preContract = false, localFinishMax = 0L, checkpointDir = Some(dir))
    assert(resumedRounds == fullRounds,
      s"resume must land on the same absolute round count ($resumedRounds vs $fullRounds)")
    assert(labelMap(resumed) == labelMap(full),
      "resumed labels must equal the uninterrupted run exactly")
  }

  test("star contraction is diameter-independent: 10^4-vertex path in O(log V) rounds") {
    // Worst case for label propagation: a path graph, where the min label
    // must crawl one hop per round (~10^4 rounds). Star contraction
    // halves/contracts toward the component minimum — O(log² V) rounds in
    // theory, ~10 here. 20 rounds of min-label on the same path must
    // still be far from converged (every vertex > 20 hops from vertex 0
    // still carries a too-large label).
    val n = 10000
    val edges = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong, 1.0))
      .toDF("src", "dst", "weight")
    val arcs = Adjacency.symmetrize(edges)
    val vertices = (0L until n.toLong).toDF("vid")
    // localFinishMax = 0: the 10⁴-pair path sits under the default driver
    // gate, and this spec exists to pin the STAR LOOP's round complexity.
    val (labels, rounds) = ConnectedComponents.run(arcs, vertices,
      localFinishMax = 0L)
    assert(rounds >= 1 && rounds <= 30,
      s"star contraction took $rounds rounds on a path")
    assert(labels.where(col("component") =!= 0L).count() == 0,
      "single path component must collapse to vertex 0")
    val (partial, mlRounds) = ConnectedComponents.runMinLabel(arcs, vertices, maxIter = 20)
    assert(mlRounds == 20 && partial.where(col("component") =!= 0L).count() > 0,
      "min-label at 20 rounds must still be unconverged on the path")
  }

  test("CC is invariant to partition count") {
    val (_, arcs, vertices) = fixture("chain")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def runWith(p: String) = {
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try ConnectedComponents.run(arcs, vertices)._1.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(runWith("2") == runWith("16"))
  }

  test("CC and triangle gates fall through on BinaryType vids; CC minimum is SQL's") {
    // Binary vids have no driver dictionary (Array[Byte] equality is by
    // reference), so the gated calls must take the distributed path.
    val b = (0 to 2).map(i => Array[Byte](i.toByte))
    val und = Seq((0, 1), (1, 2), (2, 0))
      .flatMap { case (u, v) => Seq((b(u), b(v), 1.0), (b(v), b(u), 1.0)) }
      .toDF("src", "dst", "weight")
    val verts = b.toDF("vid")
    def bytes(x: Any): Seq[Byte] = x.asInstanceOf[Array[Byte]].toSeq
    for (gate <- Seq(1L << 20, 0L)) {
      val (perVertex, total) = Triangles.run(und, verts, localKernelMax = gate)
      val rows = perVertex.collect()
      assert(total == 1L && rows.length == 3 && rows.forall(_.getLong(1) == 1L),
        s"gate=$gate: total=$total rows=${rows.length}")
      val cc = ConnectedComponents.run(und, verts, localFinishMax = gate)._1.collect()
      assert(cc.length == 3 && cc.forall(r => bytes(r.get(1)) == bytes(b(0))), s"cc gate=$gate")
    }
    // Outside the Basic Multilingual Plane, UTF-16 order (java.lang.String)
    // puts U+1F600 before U+FFFD; SQL's UTF-8 byte order puts it after.
    val lo = "a\uFFFD"; val hi = "a\uD83D\uDE00"
    val sArcs = Seq((lo, hi), (hi, lo)).toDF("src", "dst")
    for (gate <- Seq(1L << 20, 0L)) {
      val got = ConnectedComponents.run(sArcs, Seq(lo, hi).toDF("vid"), localFinishMax = gate)
        ._1.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == Map(lo -> lo, hi -> lo), s"gate=$gate")
    }
  }
}
