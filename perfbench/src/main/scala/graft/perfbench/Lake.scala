package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.retrieve.GraphStore

/** The store directory and tables, read from outside the engine. */
object Lake {

  /** Every file under the store root with its size. */
  def files(store: GraphStore): Map[String, Long] = {
    val root = Paths.get(store.root)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  def bytes(store: GraphStore): Long = files(store).values.sum

  /** Bytes in files that are new or changed since `before`. */
  def written(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (p, n) if !before.get(p).contains(n) => n }.sum

  /** UTF-8 bytes of a `content` frame. */
  def textBytes(docs: DataFrame): Long =
    docs.agg(coalesce(sum(octet_length(col("content"))), lit(0L))).first().getLong(0)

  /** Order-free content hash of a table: (rows, xor and wrap-free sum of
    * per-row hashes). Equal tables give equal hashes whatever their
    * partitioning or row order.
    */
  def contentHash(df: DataFrame): (Long, Long, Long) = {
    val h: Column = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
    val row = df.select(h.as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"), coalesce(sum(col("h") % 1000003L), lit(0L)))
      .first()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1), row.getLong(2))
  }
}
