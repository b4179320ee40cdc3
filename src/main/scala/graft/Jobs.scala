package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The spark-submit entry point (north rule: "runs end-to-end via
  * spark-submit on multi-executor clusters") — one thin CLI over the
  * engine's library surface, parquet paths in, parquet out:
  *
  *   spark-submit --class graft.Jobs graft.jar index    <docs.parquet> <storeDir>
  *   spark-submit --class graft.Jobs graft.jar retrieve <storeDir> <queries.parquet> <out>
  *   spark-submit --class graft.Jobs graft.jar ppr      <arcs.parquet> <seeds.parquet> <out> [checkpointDir]
  *   spark-submit --class graft.Jobs graft.jar cc       <arcs.parquet> <vertices.parquet> <out> [checkpointDir]
  *   spark-submit --class graft.Jobs graft.jar walks    <arcs.parquet> <vertices.parquet> <out> [len] [perVertex]
  *
  * Schemas: docs(content | text); queries(qid long, query string);
  * arcs(src, dst, weight) — `ppr` expects Long-encoded vids (the
  * dictionary step belongs to indexing; `cc`/`walks` take any vid type);
  * seeds(qid long, vid long, weight double); vertices(vid).
  *
  * Master/executors/memory come from spark-submit (no .master() call
  * here); standalone runs fall back to local[*]. `ppr`/`cc` accept an
  * optional checkpoint dir and RESUME from it mid-convergence
  * ([[graft.algo.Fixpoint.Checkpoint]]) — rerunning the same command
  * after a driver kill continues instead of restarting.
  */
object Jobs {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName(s"graft-${args.headOption.getOrElse("job")}")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try run(spark, args.toIndexedSeq)
    finally spark.stop()
  }

  /** Session-injected body (unit-testable without a fork). */
  def run(spark: SparkSession, args: Seq[String]): Unit = args.toList match {
    case "index" :: docs :: store :: Nil =>
      val raw = spark.read.parquet(docs)
      val content =
        if (raw.columns.contains("content")) raw.select("content")
        else raw.select(col("text").as("content"))
      val stats = graft.retrieve.Indexer.index(
        new graft.retrieve.GraphStore(spark, store), content)
      println(s"[jobs] indexed: $stats")

    case "retrieve" :: store :: queries :: out :: Nil =>
      val q = spark.read.parquet(queries).select("qid", "query").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
      graft.retrieve.Retriever.retrieve(
          new graft.retrieve.GraphStore(spark, store), q,
          graft.retrieve.Retriever.RetrieveConfig())
        .write.mode("overwrite").parquet(out)

    case "ppr" :: arcs :: seeds :: out :: rest if rest.size <= 1 =>
      val a = spark.read.parquet(arcs)
      val s = spark.read.parquet(seeds)
      // nV over arc endpoints AND seed vids (round-6 advice: a seed vid
      // beyond every arc endpoint would otherwise get an nV too small for
      // it), with a clear usage error on an empty graph instead of the
      // opaque NPE a null max() produced.
      val maxRow = a.select(col("src").as("v"))
        .unionAll(a.select(col("dst").as("v")))
        .unionAll(s.select(col("vid").cast("long").as("v")))
        .agg(max("v")).first()
      if (maxRow.isNullAt(0))
        throw new IllegalArgumentException(
          s"ppr: no arcs and no seeds found under $arcs / $seeds — nothing to rank")
      val nV = maxRow.getLong(0) + 1
      val cfg = graft.algo.PprConfig(checkpointDir = rest.headOption)
      val (scores, stats) = rest.headOption match {
        case Some(_) => graft.algo.Ppr.resume(spark, a, nV, s, cfg)
        case None => graft.algo.Ppr.run(spark, a, nV, s, cfg)
      }
      scores.write.mode("overwrite").parquet(out)
      println(s"[jobs] ppr: $stats")

    case "cc" :: arcs :: vertices :: out :: rest if rest.size <= 1 =>
      val (labels, rounds) = graft.algo.ConnectedComponents.run(
        spark.read.parquet(arcs), spark.read.parquet(vertices),
        checkpointDir = rest.headOption)
      labels.write.mode("overwrite").parquet(out)
      println(s"[jobs] cc: $rounds star rounds")

    case "walks" :: arcs :: vertices :: out :: rest if rest.size <= 2 =>
      val len = rest.headOption.map(_.toInt).getOrElse(8)
      val per = rest.drop(1).headOption.map(_.toInt).getOrElse(2)
      graft.algo.Walks.randomWalks(spark.read.parquet(arcs),
          spark.read.parquet(vertices), walkLen = len, walksPerVertex = per)
        .write.mode("overwrite").parquet(out)

    case other =>
      throw new IllegalArgumentException(
        s"usage: graft.Jobs {index|retrieve|ppr|cc|walks} <paths...> (got: ${other.mkString(" ")})")
  }
}
