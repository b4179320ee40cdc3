package graft.retrieve

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Failure behaviour of the Indexer's concurrent commits: when one commit
  * fails, `index()` cancels its siblings and throws only once none of
  * them is still running.
  */
class CommitFailureSpec extends SparkSpec {
  import spark.implicits._

  test("a failed commit cancels its siblings: index() throws with no Spark job left") {
    val root = Files.createTempDirectory("graft_commit_fail").toString
    // A plain file where the chunk-embedding table's directory belongs:
    // that commit fails while the other embedding syncs and the edge and
    // vertex commits are still running.
    Files.createFile(Paths.get(s"$root/vdb_chunk"))
    val store = new GraphStore(spark, root)
    val docs = Seq(
      "Alice visited Paris. Paris hosts Louvre.",
      "Bob founded Acme. Acme acquired Paris Office.",
      "Louvre describes Art. Alice reviewed Art.").toDF("content")
    val sc = spark.sparkContext
    intercept[Exception](Indexer.index(store, docs))
    org.apache.spark.ListenerDrain.drain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty,
      s"Spark jobs still running after index() threw: ${sc.statusTracker.getActiveJobIds().toSeq}")
  }
}
