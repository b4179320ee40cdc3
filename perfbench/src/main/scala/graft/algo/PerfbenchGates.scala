package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The benchmark's view of the driver gates. `DriverGate` and CC's local
  * contraction are package-private, so the probes the gated algorithms run
  * are reached from here, on the same frames those algorithms build.
  */
object PerfbenchGates {

  /** Default row bound shared by CC (`localFinishMax`), LabelProp and
    * Triangles (`localKernelMax`).
    */
  val maxRows: Long = 1L << 20
  val maxBytes: Long = DriverGate.defaultMaxBytes

  final case class Side(algo: String, rows: Long, bytes: Long) {
    def admitted: Boolean = rows <= maxRows && bytes <= maxBytes
  }

  /** The probe LabelProp runs on its arc pairs. */
  def arcProbe(arcs: DataFrame): Side = {
    val p = DriverGate.pairProbe(arcs.select("src", "dst"), "src", "dst")
    Side("lpa", p.rows, p.estBytes)
  }

  /** Gate sides of CC (contracted pair set), LabelProp (arcs, then
    * vertices) and Triangles (undirected pair set), each probed on the
    * frame the algorithm itself would probe.
    */
  def sides(arcs: DataFrame, vertices: DataFrame): Seq[Side] = {
    val raw = arcs.select(col("src").as("u"), col("dst").as("v")).where(col("u") =!= col("v"))
    val contracted = ConnectedComponents.localContract(raw)
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
    val cc = DriverGate.pairProbe(contracted, "a", "b")
    val lpa = arcProbe(arcs)
    val lpaV = DriverGate.colProbe(vertices.select("vid"), "vid")
    val und = arcs.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val tri = DriverGate.pairProbe(und, "a", "b")
    Seq(Side("cc", cc.rows, cc.estBytes),
      lpa.copy(rows = math.max(lpa.rows, lpaV.rows), bytes = math.max(lpa.bytes, lpaV.estBytes)),
      Side("triangles", tri.rows, tri.estBytes))
  }
}
