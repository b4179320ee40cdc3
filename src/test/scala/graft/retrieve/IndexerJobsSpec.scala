package graft.retrieve

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkSpec

/** Spark jobs and physical-plan size of one Δ index and one delete on a
  * small store, counted with a listener around each commit. The bounds are
  * the counts measured once the incremental paths pinned their Δ frames
  * and manifests recorded segment schemas; a lazily re-inlined Δ lineage
  * or a per-segment schema-inference job fails here.
  */
class IndexerJobsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    "Alice visited Paris. Paris hosts Louvre.",
    "Bob founded Acme. Acme acquired Paris Office.",
    "Louvre describes Art. Alice reviewed Art.",
    "Carol cites Alice. Carol visited Acme.",
    "Dave endorses Paris. Dave quotes Bob.")
  private val extraDocs = Seq(
    "Eve mentions Montebello. Montebello links Paris.",
    "Frank cites Montebello. Montebello hosts Festival.")

  /** Per job, the call site of its result stage; the largest physical
    * plan description of any SQL execution.
    */
  private final class CommitListener extends SparkListener {
    val sites = new ConcurrentLinkedQueue[String]
    val maxPlan = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      sites.add(e.stageInfos.maxByOption(_.stageId).fold("")(_.details)); ()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        maxPlan.accumulateAndGet(s.physicalPlanDescription.length, math.max); ()
      case _ =>
    }
  }

  private case class Commit(jobs: Int, inAssemble: Int, maxPlan: Int)

  private def measure(body: => Unit): Commit = {
    val l = new CommitListener
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain.drain(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.ListenerDrain.drain(sc)
      val sites = l.sites.asScala.toSeq
      Commit(sites.size, sites.count("""SnapshotTable\S*assemble""".r.findFirstIn(_).isDefined),
        l.maxPlan.get)
    } finally sc.removeSparkListener(l)
  }

  // (jobs, largest plan in characters), as measured. Before the pins and
  // recorded schemas the same commits ran (105, 654,968) and
  // (174, 749,333), with 25 and 71 schema-inference jobs.
  private val bounds = Map("index" -> (61, 17420), "delete" -> (89, 19505))

  test("a Δ index and a delete run Δ-sized plans and open segments without a job") {
    val store = new GraphStore(spark,
      java.nio.file.Files.createTempDirectory("graft_store").toString)
    Indexer.index(store, docs.toDF("content"))
    val got = Seq(
      "index" -> measure(Indexer.index(store, extraDocs.toDF("content"))),
      "delete" -> measure(Indexer.delete(store, extraDocs.toDF("content"))))
    got.foreach { case (name, c) =>
      info(s"$name jobs=${c.jobs} inAssemble=${c.inAssemble} maxPlan=${c.maxPlan}")
    }
    got.foreach { case (name, c) =>
      val (maxJobs, maxPlan) = bounds(name)
      assert(c.inAssemble == 0, s"$name: ${c.inAssemble} schema-inference jobs in assemble")
      assert(c.jobs <= maxJobs, s"$name: ${c.jobs} jobs > $maxJobs")
      assert(c.maxPlan <= 2 * maxPlan, s"$name: largest plan ${c.maxPlan} chars > 2 × $maxPlan")
    }
  }
}
