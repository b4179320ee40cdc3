package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.bench.BenchExtra.MetricsListener

/** In-memory span recorder for the traced run.
  *
  * A span is (name, start, end, parent, request id) plus the Spark counters
  * that accrued inside it: jobs, tasks, scheduler delay, task GC time and
  * shuffle bytes (read + written), taken from a [[MetricsListener]] the
  * benchmark registers itself. The listener bus is drained at both span
  * edges so every task that ended inside the span is counted in it.
  *
  * With tracing off no listener is registered and [[span]] is a plain call.
  */
final class Tracer(spark: SparkSession, on: Boolean) {
  import Tracer._

  private val listener = if (on) Some(new MetricsListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val noted = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var open = List.empty[Int]
  private var nextId = 0
  private val t0 = System.nanoTime()
  private val gc0 = Tracer.gcMs(0L)
  private var paused = false

  /** Whether spans are being recorded now. */
  def enabled: Boolean = on && !paused

  /** Run `body` untraced (listener detached): the traced run's in-run
    * reference for the tracing overhead.
    */
  def pause[A](body: => A): A =
    if (!enabled) body
    else {
      listener.foreach(spark.sparkContext.removeSparkListener)
      paused = true
      try body
      finally { paused = false; listener.foreach(spark.sparkContext.addSparkListener) }
    }

  private def counters(): Array[Long] = listener match {
    case Some(l) =>
      org.apache.spark.perfbench.ListenerSync.drain(spark.sparkContext)
      Array(l.jobs.get.toLong, l.tasks.get.toLong, l.schedDelayMs.get, l.gcMs.get,
        l.shuffleReadB.get + l.shuffleWriteB.get)
    case None => Array.fill(5)(0L)
  }

  def span[A](name: String, req: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val c0 = counters()
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        val c1 = counters()
        open = open.tail
        done += Span(id, name, parent, req, (s - t0) / 1e9, (e - t0) / 1e9,
          Array.tabulate(5)(i => c1(i) - c0(i)))
      }
    }

  /** A layer count observed by the benchmark (kept in both modes; only
    * traced runs report them).
    */
  def note(name: String, value: Double): Unit =
    noted.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += value

  def notes(name: String): Seq[Double] = noted.get(name).map(_.toSeq).getOrElse(Seq.empty)

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  /** Durations (s) of every finished span called `name`. */
  def durations(name: String): Seq[Double] = done.filter(_.name == name).map(_.dur).toSeq

  /** Per-call mean of each Spark counter over the spans called `name`.
    * Task GC time stays in the spans file only: most spans are shorter than
    * a collection cycle, so it is mostly zero per span (see [[gcSeconds]]).
    */
  def counterMeans(name: String): Map[String, Double] = {
    val ss = done.filter(_.name == name)
    val n = math.max(1, ss.size).toDouble
    def mean(i: Int, scale: Double) = ss.map(_.counters(i)).sum / n * scale
    Map("jobs" -> mean(0, 1), "tasks" -> mean(1, 1), "sched_delay_s" -> mean(2, 1e-3),
      "shuffle_bytes" -> mean(4, 1))
  }

  /** JVM-wide GC time since the tracer started (driver and local-mode
    * executors share the JVM).
    */
  def gcSeconds(): Double = Tracer.gcMs(gc0) / 1e3

  /** Spans as JSON lines (one object per span, start order). */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        f""""start_s":${s.start}%.6f,"end_s":${s.end}%.6f,"jobs":${s.counters(0)},""" +
        f""""tasks":${s.counters(1)},"sched_delay_ms":${s.counters(2)},""" +
        f""""gc_ms":${s.counters(3)},"shuffle_bytes":${s.counters(4)}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def close(): Unit = listener.foreach(spark.sparkContext.removeSparkListener)
}

object Tracer {
  private def gcMs(since: Long): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum - since
  }

  final case class Span(id: Int, name: String, parent: Int, req: Long,
                        start: Double, end: Double, counters: Array[Long]) {
    def dur: Double = end - start
  }
}
