package graft.algo

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A small graph collected to the driver over dense integer vertex ids —
  * the one driver path behind every gated graph kernel (KCore, LabelProp,
  * Triangles, Hits, Bfs, Walks, Scc, ConnectedComponents' finish and
  * Neighborhood's exact distances and HyperBall). HippoRAG keeps its link
  * graph the same way: one in-memory igraph over dense integer ids.
  *
  * '''Gate policy''' (stated here only; each algorithm's `localKernelMax`
  * / `localFinishMax` is the row cap, and 0 disables its gate). A graph is
  * admitted when
  *  - every probed frame — the arc pairs, then the vertex (Bfs: seed)
  *    column the kernel collects — has at most the row cap (default 2²⁰)
  *    rows;
  *  - each has at most [[DriverGate.defaultMaxBytes]] (128 MB) of estimated
  *    collected bytes ([[DriverGate.pairProbe]] / [[DriverGate.colProbe]],
  *    one aggregate action per frame);
  *  - all vid columns share one type among Long, Int and String (binary,
  *    decimal or nested vids take the distributed path);
  *  - for kernels that sum weights in another order than Spark does
  *    (LabelProp), every weight is integer-valued — checked inside the
  *    arc probe's action.
  * A kernel whose output can outgrow its input (walks, distance pairs,
  * sketch registers) adds its own output bound at the call.
  *
  * '''Dense ids''' ascend in Spark SQL order: numeric for Long/Int,
  * unsigned UTF-8 bytes for String (not java.lang.String's UTF-16 order,
  * which differs outside the Basic Multilingual Plane). Min labels,
  * tie-breaks and sorted adjacency compare ints and publish exactly what
  * SQL `least`/`min`/`orderBy` would. Null vids are dropped, as SQL joins
  * drop them.
  *
  * @param vids   dense id → vid value
  * @param src    arc sources, in collected order (parallel arcs kept)
  * @param dst    arc destinations
  * @param weight arc weights (1.0 when not collected)
  * @param vertexRows ids of the collected vertex (Bfs: seed) frame, one
  *        per row — duplicates kept — in collected row order
  */
private[algo] final class LocalGraph private (
    spark: SparkSession, vidType: DataType, val vids: Array[Any],
    val src: Array[Int], val dst: Array[Int], val weight: Array[Double],
    val vertexRows: Array[Int]) {

  def n: Int = vids.length

  /** Per-id membership flags of `ids`. */
  def mask(ids: Array[Int]): Array[Boolean] = {
    val m = new Array[Boolean](n)
    ids.foreach(m(_) = true)
    m
  }

  /** Out-adjacency over the arcs `keep` accepts, each reversed where `flip`
    * says so. `distinct` drops parallel arcs and sorts every neighbor list
    * ascending (SQL order), weights 1.0; otherwise lists keep collected
    * arc order and weights.
    */
  def csr(distinct: Boolean = false, keep: (Int, Int) => Boolean = (_, _) => true,
          flip: (Int, Int) => Boolean = (_, _) => false): PprShard.LocalCsr = {
    val es = src.indices.filter(e => keep(src(e), dst(e))).toArray
    def from(e: Int) = if (flip(src(e), dst(e))) dst(e) else src(e)
    def to(e: Int) = if (flip(src(e), dst(e))) src(e) else dst(e)
    if (!distinct)
      PprShard.LocalCsr.build(n, Array((es.map(from), es.map(to), es.map(weight(_)))))
    else {
      val uniq = es.map(e => from(e).toLong << 32 | to(e)).distinct.sorted
      PprShard.LocalCsr.build(n, Array((uniq.map(k => (k >>> 32).toInt),
        uniq.map(_.toInt), Array.fill(uniq.length)(1.0))))
    }
  }

  /** Hop distances from `sources` along `adj`, -1 where unreached within
    * `maxRounds` levels.
    */
  def hops(adj: PprShard.LocalCsr, sources: Array[Int], maxRounds: Int): Array[Long] = {
    val dist = Array.fill(n)(-1L)
    var frontier = sources.distinct
    frontier.foreach(dist(_) = 0L)
    var d = 0L
    while (frontier.nonEmpty && d < maxRounds) {
      d += 1
      frontier = frontier.flatMap(u => adj.dsts.slice(adj.offsets(u), adj.offsets(u + 1)))
        .filter(v => dist(v) < 0L && { dist(v) = d; true })
    }
    dist
  }

  /** A local frame from equal-length columns: an Int column holds dense
    * ids and decodes to vids; Long and Double columns pass through.
    */
  def frame(cols: (String, Array[_])*): DataFrame = {
    val schema = StructType(cols.map { case (name, a) =>
      StructField(name, a match {
        case _: Array[Int] => vidType
        case _: Array[Long] => LongType
        case _: Array[Double] => DoubleType
      })
    })
    val len = cols.head._2.length
    val rows = new java.util.ArrayList[Row](len)
    var i = 0
    while (i < len) {
      rows.add(Row.fromSeq(cols.map {
        case (_, ids: Array[Int]) => vids(ids(i))
        case (_, a) => a(i)
      }))
      i += 1
    }
    spark.createDataFrame(rows, schema)
  }

  /** [[frame]] (leading column "vid") broadcast-joined back onto the
    * caller's vertex rows: one output row per row of `onto`, nulls where
    * the kernel has no row for the vid.
    */
  def toFrame(onto: DataFrame, cols: (String, Array[_])*): DataFrame =
    onto.select("vid").join(broadcast(frame(cols: _*)), Seq("vid"), "left")
}

private[algo] object LocalGraph {

  /** Whether the gate admits these vid column types. */
  def admits(types: DataType*): Boolean = types.distinct match {
    case Seq(LongType | IntegerType | StringType) => true
    case _ => false
  }

  /** Whether one probed frame fits the row cap `max` and the byte cap. */
  def fits(max: Long, p: DriverGate.Probe): Boolean =
    max > 0 && p.rows <= max && p.estBytes <= DriverGate.defaultMaxBytes

  /** The gate: vid types first, then the probe of `arcs`' (src, dst) and,
    * if it fits, the probe of `vertices`' vid column. Both probes (arcs,
    * vertices) when the graph is admitted.
    */
  def admit(max: Long, arcs: DataFrame, vertices: DataFrame,
            integerWeights: Boolean = false): Option[(DriverGate.Probe, DriverGate.Probe)] = {
    if (max <= 0 || !admits(arcs.schema("src").dataType, arcs.schema("dst").dataType,
        vertices.schema("vid").dataType)) return None
    val pa = DriverGate.pairProbe(arcs, "src", "dst",
      if (integerWeights) Some("weight") else None)
    if (!fits(max, pa) || !pa.integerWeights) return None
    Some(DriverGate.colProbe(vertices.select("vid"), "vid")).filter(fits(max, _)).map((pa, _))
  }

  /** The one collect: `arcs`' (src, dst[, weight]) and the vertex frame's
    * vid column in a single union action, then the SQL-ordered dictionary.
    */
  def collect(arcs: DataFrame, vertices: Option[DataFrame] = None,
              weighted: Boolean = false): LocalGraph = {
    val vidType = arcs.schema("src").dataType
    val arcRows0 = arcs.where(col("src").isNotNull && col("dst").isNotNull)
      .select(lit(true), col("src"), col("dst"),
        if (weighted) col("weight").cast("double") else lit(1.0))
    val rows = vertices.foldLeft(arcRows0)((a, v) => a.unionAll(v.where(col("vid").isNotNull)
      .select(lit(false), col("vid"), lit(null).cast(vidType), lit(1.0)))).collect()
    val vals = rows.iterator.flatMap(r => if (r.getBoolean(0)) Iterator(r.get(1), r.get(2))
      else Iterator(r.get(1))).distinct.toArray
    val vids: Array[Any] = vidType match {
      case StringType =>
        vals.map(v => (UTF8String.fromString(v.asInstanceOf[String]), v))
          .sortWith((x, y) => x._1.binaryCompare(y._1) < 0).map(_._2)
      case LongType => vals.map(_.asInstanceOf[Long]).sorted.map(v => v: Any)
      case _ => vals.map(_.asInstanceOf[Int]).sorted.map(v => v: Any)
    }
    val id = new java.util.HashMap[Any, Integer](vids.length * 2)
    vids.indices.foreach(i => id.put(vids(i), i))
    def ids(rs: Array[Row], c: Int) = rs.map(r => id.get(r.get(c)).intValue())
    val (arcRows, vertRows) = rows.partition(_.getBoolean(0))
    new LocalGraph(arcs.sparkSession, vidType, vids, ids(arcRows, 1), ids(arcRows, 2),
      arcRows.map(_.getDouble(3)), ids(vertRows, 1))
  }
}
