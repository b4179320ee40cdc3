package graft.algo

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import org.apache.spark.sql.graftx.PlanUtils

/** The loop discipline behind every distributed graph fixpoint — PPR's
  * shuffle strategy, connected components (star and min-label), LabelProp,
  * HITS, BFS, exact distances, HyperBall, k-core, SCC and Walks. HippoRAG
  * runs one such loop, igraph's PPR (`HippoRAG.py:1709-1749`); here each
  * algorithm keeps its own step body, and the four decisions every loop
  * shares are made in this object only.
  *
  * '''Lazy re-leaf''' ([[leaf]]). A round whose plan references the
  * previous round's state k times grows the logical plan as k^rounds when
  * chained, and Catalyst analysis stalls long before compute does. A leaf
  * collapses the plan to one LogicalRDD over the same RDD: a cached or
  * pinned parent still serves it, and consumers of the leaf reuse its
  * shuffle outputs. It runs no action (under adaptive execution the
  * plan's shuffle stages run when the leaf is taken; its last stage runs
  * with the consumer), and keeps neither partitioning nor stats.
  *
  * '''Eager pin''' ([[pin]]). One job materializes the frame as a
  * localCheckpoint, truncating its RDD lineage. The pinned frame KEEPS its
  * output partitioning, so a state kept hashed by its join key joins
  * without an exchange next round (HyperBall and k-core pin every round),
  * and it drops the checkpoint's origin statistics
  * ([[PlanUtils.dropOriginStats]]): for a frame that was not persisted
  * they are the planner's size estimate, which compounds round over round
  * until the driver does nothing but BigInt multiplication.
  *
  * '''Lineage cadence''' ([[due]]: round n, counted from 1, is due when
  * `checkpointEvery` divides it — the only place that says so). Loops take
  * one of two shapes:
  *  - one action per round ([[Lineage]]): the round's state is persisted;
  *    on due rounds it is also truncated to a localCheckpoint of the
  *    persisted frame, whose statistics are the measured size of the
  *    cached round — bounded, and small enough for the next round to
  *    broadcast a small state, so they are kept. The round's action runs
  *    on the state; only then is the previous round's state released.
  *    The truncations' checkpoints go with the last state, once the
  *    loop's read-out is pinned. PPR, CC, LabelProp and BFS take this
  *    shape.
  *  - lazy rounds ([[lazyRound]]): between pins a round's state is an
  *    unexecuted leaf, and the pin on a due (or last) round runs all rounds
  *    since the previous pin as one job. HITS, Walks and SCC's coloring and
  *    pivot BFS take this shape.
  *
  * '''Durable checkpoint''' ([[Checkpoint]]): a loop state on disk that a
  * new driver resumes from. PPR and connected components write one.
  */
object Fixpoint {

  /** Collapse `df`'s plan to one leaf over its RDD; runs no action. */
  def leaf(df: DataFrame): DataFrame = df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Materialize `df` now, truncating lineage; keeps its partitioning. */
  def pin(df: DataFrame): DataFrame = PlanUtils.dropOriginStats(df.localCheckpoint(true))

  /** Whether round `round` (from 1) is one of every `checkpointEvery`. */
  def due(round: Int, checkpointEvery: Int): Boolean = round % checkpointEvery == 0

  /** A lazy round's state: pinned on due rounds and on the `last`, an
    * unexecuted leaf otherwise.
    */
  def lazyRound(round: Int, checkpointEvery: Int, next: DataFrame,
                last: Boolean = false): DataFrame =
    if (last || due(round, checkpointEvery)) pin(next) else leaf(next)

  /** The state cache of a loop with one action per round. */
  final class Lineage(checkpointEvery: Int) {
    private var held: Option[DataFrame] = None
    // The RDDs the due rounds' localCheckpoints pinned: unpersisting the
    // frame does not release them, and later states may read through them.
    private var pins = List.empty[RDD[_]]

    /** Adopt the loop's initial state as the one the first round releases. */
    def hold(state: DataFrame): DataFrame = { held = Some(state); state }

    /** Round `n`'s state from `next`, persisted and (on due rounds)
      * truncated, with `action` run on it; the previous state is released
      * afterwards.
      */
    def round[A](n: Int, next: DataFrame)(action: DataFrame => A): (DataFrame, A) = {
      val kept = next.persist(StorageLevel.MEMORY_AND_DISK)
      val state =
        if (!due(n, checkpointEvery)) kept
        else {
          val c = kept.localCheckpoint(true)
          kept.unpersist(false)
          c.queryExecution.logical match {
            case r: LogicalRDD => pins ::= r.rdd
            case _ =>
          }
          c
        }
      val out = action(state)
      held.foreach(_.unpersist(false))
      held = Some(state)
      (state, out)
    }

    /** Release the current state and every round's pin (after the loop's
      * read-out is pinned).
      */
    def release(): Unit = {
      held.foreach(_.unpersist(false)); held = None
      pins.foreach(_.unpersist(false)); pins = Nil
    }
  }

  /** Durable loop state, so a new driver resumes mid-convergence. Layout
    * under a checkpoint directory:
    * {{{
    *   iter=<k>/state/       the loop state after round k (parquet)
    *   iter=<k>/partstats/   its per-partition lineage: (pid, rows)
    *   iter=<k>/meta/        the caller's metadata rows
    * }}}
    * `meta` is written last, and its `_SUCCESS` file is the commit marker:
    * a driver killed mid-write leaves an `iter=<k>` that [[readLatest]]
    * skips, as it skips one without `state` (an older layout).
    */
  object Checkpoint {

    /** The latest committed round `iter`: its state and metadata rows. */
    final case class Saved(iter: Int, state: DataFrame, meta: Array[Row])

    def write(dir: String, iter: Int, state: DataFrame, meta: DataFrame): Unit = {
      val base = s"$dir/iter=$iter"
      state.write.mode("overwrite").parquet(s"$base/state")
      state.groupBy(spark_partition_id().as("pid"))
        .agg(count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(s"$base/partstats")
      meta.coalesce(1).write.mode("overwrite").parquet(s"$base/meta")
    }

    /** The committed checkpoint with the largest round, if any. */
    def readLatest(spark: SparkSession, dir: String): Option[Saved] = {
      val path = new Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) return None
      val iters = fs.listStatus(path).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case s if s.startsWith("iter=") => s.stripPrefix("iter=").toInt }
        .filter(k => fs.exists(new Path(s"$dir/iter=$k/meta/_SUCCESS")) &&
          fs.exists(new Path(s"$dir/iter=$k/state")))
      iters.maxOption.map { k =>
        Saved(k, spark.read.parquet(s"$dir/iter=$k/state"),
          spark.read.parquet(s"$dir/iter=$k/meta").collect())
      }
    }
  }
}
