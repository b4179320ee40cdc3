package graft.perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import graft.retrieve.{GraphStore, Indexer, Retriever}

/** `serve`: index one corpus during set-up, then a closed loop of retrieve
  * requests on a warm serving-graph cache. Each round holds one request of
  * each size, in a seeded order: 64 and 4 queries take the query-sharded
  * PPR path, 3 and 1 the vertex-major CSR path (the Q < 4 cut-over).
  */
object Serve {
  val sizes: Seq[Int] = Seq(64, 1, 3, 4) // op1..op4
  val cfg: Retriever.RetrieveConfig = Retriever.RetrieveConfig(retrievalTopK = 20)

  final case class Shape(pages: Int, entities: Int)
  def shape(ctx: Ctx): Shape = if (ctx.tiny) Shape(120, 48) else Shape(1000, 320)

  /** Set-up: generate and index the corpus, then one request on each PPR
    * path, 64 queries (shard) and 1 (CSR): the serving graph, CSR,
    * broadcast and passage caches are filled here.
    */
  def setUp(ctx: Ctx, sh: Shape, qrnd: scala.util.Random): GraphStore = {
    val docs = Inputs.pages(ctx.spark, Inputs.subSeed(ctx.seed, "serve.pages"), 0, sh.pages, sh.entities)
    val store = new GraphStore(ctx.spark, ctx.newStoreDir())
    ctx.tracer.span("serve.index")(Indexer.index(store, docs))
    Layers.requireNonDegenerate(store)
    if (ctx.tracer.enabled) {
      Layers.extract(ctx, docs)
      Layers.serving(ctx, store)
    }
    Seq(64, 1).foreach(q => retrieve(ctx, store, Inputs.queries(qrnd, 1L << 40, q, sh.entities)))
    store
  }

  /** One request; checks its ranking and returns its fingerprint. */
  def retrieve(ctx: Ctx, store: GraphStore, queries: Seq[(Long, String)]): Int = {
    val rows = Retriever.retrieve(store, queries, cfg)
      .select("qid", "chunk_id", "score", "rank").collect()
    checkRanking(ctx.report, queries.map(_._1), rows.map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSeq)
  }

  /** Every query gets ranks 1..k (1 ≤ k ≤ topK) with non-increasing,
    * non-negative scores. Returns a fingerprint of the (qid, chunk_id,
    * rank) rows.
    */
  def checkRanking(report: Report, qids: Seq[Long],
                   rows: Seq[(Long, String, Double, Int)]): Int = {
    val byQ = rows.groupBy(_._1)
    report.check(byQ.keySet == qids.toSet,
      s"retrieve answered ${byQ.size} of ${qids.size} queries")
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._4)
      report.check(sorted.map(_._4) == (1 to sorted.size) && sorted.size <= cfg.retrievalTopK,
        s"query $q ranks ${sorted.map(_._4).mkString(",")}")
      report.check(sorted.zip(sorted.drop(1)).forall { case (a, b) => a._3 >= b._3 } &&
        sorted.forall(_._3 >= 0.0), s"query $q scores not non-increasing and non-negative")
    }
    MurmurHash3.orderedHash(rows.map(r => (r._1, r._2, r._4)).sorted)
  }

  def run(ctx: Ctx): Unit = {
    val sh = shape(ctx)
    val rep = ctx.report
    val (store, setup) = Stats.timed(
      setUp(ctx, sh, new scala.util.Random(Inputs.subSeed(ctx.seed, "serve.warm"))))
    if (!ctx.tracer.enabled) rep.put("setup_s", setup, "s")

    val qrnd = new scala.util.Random(Inputs.subSeed(ctx.seed, "serve.queries"))
    val orderRnd = new scala.util.Random(Inputs.subSeed(ctx.seed, "serve.order"))
    val graph = store.servingGraph()
    val lat = Array.fill(sizes.size)(mutable.ArrayBuffer.empty[Double])
    val rounds = mutable.ArrayBuffer.empty[Double]
    var fingerprint = 0
    var nextQid = 0L
    var answered = 0L
    val t0 = System.nanoTime()
    var round = 0
    // Rounds continue while the next one, as long as the last, still ends
    // within the run's seconds (at least one round).
    while (round == 0 || Stats.secs(t0) + rounds.last <= ctx.seconds) {
      val r0 = System.nanoTime()
      orderRnd.shuffle(sizes.indices.toList).foreach { k =>
        val qs = Inputs.queries(qrnd, nextQid, sizes(k), sh.entities)
        nextQid += qs.size
        val (fp, t) = Stats.timed(rep.op(s"retrieve Q=${sizes(k)}") {
          ctx.tracer.span(s"serve.retrieve_q${sizes(k)}", qs.head._1)(retrieve(ctx, store, qs))
        })
        fp.foreach { f =>
          answered += qs.size
          lat(k) += t
          if (round == 0) fingerprint = MurmurHash3.mix(fingerprint, f)
        }
      }
      rounds += Stats.secs(r0)
      round += 1
    }
    val wall = Stats.secs(t0)
    rep.check(store.servingGraph() eq graph, "serving-graph cache missed during the loop")

    if (ctx.tracer.enabled) {
      Layers.storeSweep(ctx, store, Inputs.queries(qrnd, nextQid, 64, sh.entities), cfg)
      Layers.algoSweep(ctx, store)
      Layers.overhead(ctx, 2) {
        val qs = Inputs.queries(qrnd, nextQid, sizes.head, sh.entities)
        nextQid += qs.size
        retrieve(ctx, store, qs)
      }
      ctx.tracer.note("lake.bytes_written", Lake.bytes(store).toDouble)
      ctx.tracer.note("lake.write_amp", Lake.bytes(store).toDouble / Lake.textBytes(
        Inputs.pages(ctx.spark, Inputs.subSeed(ctx.seed, "serve.pages"), 0, sh.pages, sh.entities)))
      sizes.indices.foreach(k => rep.put(s"op${k + 1}_p50_s", Stats.median(lat(k).toSeq), "s"))
    } else {
      rep.put("qps", answered / wall, "1/s")
      rep.put("round_p50_s", Stats.median(rounds.toSeq), "s")
    }
    System.err.println(s"[perfbench] lat=${lat.map(_.mkString(",")).mkString(" | ")}")
    println(s"fingerprint serve seed=${ctx.seed} rounds=$round first_round=$fingerprint")
  }
}
