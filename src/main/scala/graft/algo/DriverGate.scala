package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Size probes behind [[LocalGraph]]'s gate, which states the gate policy.
  * Row counts alone under-estimate driver heap for STRING vids: 2²⁰ pairs
  * of longs collect to ~64 MB of boxed Rows, but the same pair count of
  * ~40-char entity ids is hundreds of MB of Row/String objects. Each probe
  * therefore also estimates COLLECTED bytes — fixed per-row Row/boxing
  * overhead plus 2× the UTF-8 payload for strings (UTF-16 in-heap + object
  * headers) — in the SAME single aggregate action the row count needs.
  */
private[algo] object DriverGate {

  /** Estimated driver-heap bytes per collected 2-column Row, excluding
    * string payloads: Row object + backing array + two boxed/ref slots.
    */
  val rowOverheadBytes = 64L

  /** Cap on estimated collected bytes per probed frame (128 MB): keeps the
    * long-vid gates at their 2²⁰-row bound (~64 MB estimated) while long
    * entity-id strings fall through to the distributed path well before
    * the heap is at risk.
    */
  val defaultMaxBytes = 1L << 27

  /** @param integerWeights every probed weight is non-null and
    *        integer-valued (true when no weight column was probed)
    */
  case class Probe(rows: Long, checksum: Long, estBytes: Long,
                   integerWeights: Boolean = true)

  /** One aggregate action over a 2-column pair frame: row count,
    * order-insensitive content checksum (bit_xor of xxhash64 — CC's
    * fixpoint probe), the collected-bytes estimate and, when `weight`
    * names a column of `pairs`, whether all its values are integers.
    */
  def pairProbe(pairs: DataFrame, a: String, b: String,
                weight: Option[String] = None): Probe = {
    val stringBytes = (pairs.schema(a).dataType, pairs.schema(b).dataType) match {
      case (StringType, StringType) => sum(octet_length(col(a)) + octet_length(col(b)))
      case (StringType, _) => sum(octet_length(col(a)))
      case (_, StringType) => sum(octet_length(col(b)))
      case _ => lit(null).cast("long")
    }
    val intW = weight.fold(lit(true)) { w =>
      val x = col(w).cast("double")
      coalesce(bool_and(x.isNotNull && !isnan(x) && x === floor(x)), lit(true))
    }
    val r = pairs.agg(count(lit(1)), expr(s"bit_xor(xxhash64($a, $b))"),
      stringBytes.cast("long"), intW).first()
    val n = r.getLong(0)
    val strB = if (r.isNullAt(2)) 0L else r.getLong(2)
    Probe(n, if (r.isNullAt(1)) 0L else r.getLong(1),
      n * rowOverheadBytes + 2L * strB, r.getBoolean(3))
  }

  /** One aggregate action over a single-column frame: row count and the
    * collected-bytes estimate (checksum 0 — single-column gates don't
    * need the fixpoint probe).
    */
  def colProbe(df: DataFrame, c: String): Probe = {
    val stringBytes = df.schema(c).dataType match {
      case StringType => sum(octet_length(col(c)))
      case _ => lit(null).cast("long")
    }
    val r = df.agg(count(lit(1)), stringBytes.cast("long")).first()
    val n = r.getLong(0)
    val strB = if (r.isNullAt(1)) 0L else r.getLong(1)
    Probe(n, 0L, n * rowOverheadBytes + 2L * strB)
  }
}
