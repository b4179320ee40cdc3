package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.retrieve.{GraphStore, Indexer}

/** `ingest`: start from a store indexed during set-up, then rounds of
  * +1 % new pages (`Indexer.index`, some pages with new entities), a
  * retrieve, ~0.5 % deletes (`Indexer.delete`) and another retrieve. Every
  * commit moves a snapshot, so each retrieve rebuilds the serving graph,
  * and each delete adds tombstones. The run ends with a from-scratch
  * rebuild of the final corpus, which the delta-maintained store must
  * equal.
  */
object Ingest {
  final case class Shape(base: Int, entities: Int, newEntities: Int, add: Int, delete: Int)
  def shape(ctx: Ctx): Shape =
    if (ctx.tiny) Shape(base = 150, entities = 48, newEntities = 64, add = 2, delete = 1)
    else Shape(base = 600, entities = 200, newEntities = 256, add = 6, delete = 3)
  val retrieveQueries = 4

  /** The live corpus by text. Each +1 % batch is the next PageSynth pages
    * over a larger vocabulary, with its last page chosen as the first one
    * that names an entity no earlier page named; each 0.5 % delete batch
    * removes exactly one entity. Every round then runs both synonymy delta
    * paths (new entities on index, dead entities on delete), so seeds do
    * not differ in which paths they time: the indexer skips the synonymy
    * family for a batch without a new entity.
    */
  final class Corpus(seed: Long, sh: Shape) {
    val live = mutable.LinkedHashSet.empty[String]
    private val seen = mutable.Set.empty[String]
    private var next = sh.base.toLong
    private val rnd = new scala.util.Random(Inputs.subSeed(seed, "ingest.deletes"))
    private def entities(text: String) = "Ent[0-9]+".r.findAllIn(text).toSet
    private def page(): String = {
      val t = Inputs.pageTexts(seed, next, next + 1, sh.newEntities).head
      next += 1
      t
    }
    live ++= Inputs.pageTexts(seed, 0, sh.base, sh.entities)
    live.foreach(seen ++= entities(_))

    def additions(): Seq[String] = {
      val plain = Seq.fill(sh.add - 1)(page())
      val fresh = Iterator.continually(page()).take(100000)
        .find(t => !entities(t).subsetOf(seen))
        .getOrElse(throw new IllegalStateException("vocabulary exhausted: no page names a new entity"))
      val ts = (plain :+ fresh).distinct.filterNot(live.contains)
      ts.foreach(seen ++= entities(_))
      ts
    }
    /** Seeded victims: the first names one entity no other live page
      * names, and that entity has synonym edges (`linked`, by phrase), so
      * the delete re-runs synonymy for its neighbours; removing each of the
      * others kills no entity.
      */
    def victims(linked: Set[String]): Seq[String] = {
      val refs = mutable.Map.empty[String, Int].withDefaultValue(0)
      live.foreach(entities(_).foreach(e => refs(e) += 1))
      def kills(t: String) = entities(t).count(refs(_) == 1)
      val out = mutable.ArrayBuffer.empty[String]
      def take(t: String): Unit = { out += t; entities(t).foreach(e => refs(e) -= 1) }
      val order = rnd.shuffle(live.toVector)
      take(order.find(t => kills(t) == 1 && entities(t).exists(e => refs(e) == 1 && linked(e.toLowerCase)))
        .getOrElse(throw new IllegalStateException("no live page alone names a linked entity")))
      order.foreach(t => if (out.size < sh.delete && !out.contains(t) && kills(t) == 0) take(t))
      if (out.size < sh.delete) throw new IllegalStateException(s"only ${out.size} delete victims")
      out.toSeq
    }
  }

  final case class Round(index: Double, delete: Double, retrieves: Seq[Double], wall: Double)

  def run(ctx: Ctx): Unit = {
    val sh = shape(ctx)
    val rep = ctx.report
    val spark = ctx.spark
    val seed = Inputs.subSeed(ctx.seed, "ingest.pages")
    val qrnd = new scala.util.Random(Inputs.subSeed(ctx.seed, "ingest.queries"))
    var nextQid = 0L
    var written = 0L
    var textBytes = 0L

    def retrieve(store: GraphStore): Option[Double] = {
      if (ctx.tracer.enabled) Layers.serving(ctx, store)
      val qs = Inputs.queries(qrnd, nextQid, retrieveQueries, sh.newEntities)
      nextQid += qs.size
      rep.op("post-commit retrieve") {
        Stats.timed(ctx.tracer.span("ingest.retrieve", qs.head._1)(Serve.retrieve(ctx, store, qs)))._2
      }
    }

    /** A timed commit; counts its bytes written and page-text bytes. */
    def commit(what: String, store: GraphStore, texts: Seq[String])
              (body: => Unit): Option[Double] = {
      val before = Lake.files(store)
      val t = rep.op(what)(Stats.timed(ctx.tracer.span(s"ingest.$what")(body))._2)
      val w = Lake.written(before, Lake.files(store))
      ctx.tracer.note("lake.bytes_written", w.toDouble)
      written += w
      textBytes += texts.map(_.getBytes("UTF-8").length.toLong).sum
      t
    }

    /** Entity phrases (lower case, as the store keeps them) that have a
      * synonym edge.
      */
    def linkedPhrases(store: GraphStore): Set[String] = {
      val syn = store.synEdges.read()
      val ids = syn.select(col("src").as("key")).union(syn.select(col("dst").as("key")))
      store.vertices.read().join(ids, "key").select("content").distinct()
        .collect().map(_.getString(0)).toSet
    }

    def round(store: GraphStore, corpus: Corpus): Option[Round] = {
      val r0 = System.nanoTime()
      val add = corpus.additions()
      val addDocs = Inputs.textFrame(spark, add)
      if (ctx.tracer.enabled) Layers.extract(ctx, addDocs)
      val ti = commit("index", store, add)(Indexer.index(store, addDocs))
      corpus.live ++= add
      val r1 = retrieve(store)
      val del = corpus.victims(linkedPhrases(store))
      val td = commit("delete", store, del)(Indexer.delete(store, Inputs.textFrame(spark, del)))
      corpus.live --= del
      val r2 = retrieve(store)
      for (i <- ti; d <- td; a <- r1; b <- r2) yield Round(i, d, Seq(a, b), Stats.secs(r0))
    }

    // Set-up: index the base corpus.
    val t0s = System.nanoTime()
    val corpus = new Corpus(seed, sh)
    val store = new GraphStore(spark, ctx.newStoreDir())
    Indexer.index(store, Inputs.textFrame(spark, corpus.live.toSeq))
    Layers.requireNonDegenerate(store)
    if (!ctx.tracer.enabled) rep.put("setup_s", Stats.secs(t0s), "s")

    val rounds = mutable.ArrayBuffer.empty[Round]
    val t0 = System.nanoTime()
    // Rounds continue while the next one, as long as the last, still ends
    // within the run's seconds (at least one round).
    var last = 0.0
    while (last == 0.0 || Stats.secs(t0) + last <= ctx.seconds) {
      val r0 = System.nanoTime()
      round(store, corpus).foreach(rounds += _)
      last = Stats.secs(r0)
    }
    val wall = Stats.secs(t0)

    // A from-scratch rebuild of the final corpus into a fresh store: the
    // reference the delta-maintained store must equal.
    val finalDocs = Inputs.textFrame(spark, corpus.live.toSeq)
    val rebuildStore = new GraphStore(spark, ctx.newStoreDir())
    val rebuild = rep.op("rebuild")(Stats.timed(Indexer.index(rebuildStore, finalDocs))._2)
    Seq("edges" -> ((s: GraphStore) => s.edges), "vertices" -> ((s: GraphStore) => s.vertices))
      .foreach { case (name, table) =>
        val (d, r) = (Lake.contentHash(table(store).read()), Lake.contentHash(table(rebuildStore).read()))
        rep.check(d == r, s"delta-maintained $name $d != rebuild $r")
      }
    val nEntities = store.entityEmb.read().count()
    rep.check(nEntities <= Indexer.SynonymyConfig().exactMaxEntities,
      s"$nEntities entities: synonymy left its exact regime")

    if (ctx.tracer.enabled) {
      ctx.tracer.note("lake.write_amp", written.toDouble / math.max(1L, textBytes))
      Layers.storeSweep(ctx, store, Inputs.queries(qrnd, nextQid, 64, sh.newEntities), Serve.cfg)
      Layers.algoSweep(ctx, store)
      Layers.overhead(ctx, 1)(Indexer.index(new GraphStore(spark, ctx.newStoreDir()), finalDocs))
      val rs = rounds.toSeq
      rep.put("op1_p50_s", Stats.median(rs.map(_.index)), "s")
      rep.put("op2_p50_s", Stats.median(rs.map(_.delete)), "s")
      rep.put("op3_p50_s", Stats.median(rs.flatMap(_.retrieves)), "s")
      rep.put("op4_p50_s", rebuild.getOrElse(Double.NaN), "s")
    } else {
      rep.put("qps", rounds.map(_.retrieves.size * retrieveQueries).sum / wall, "1/s")
      rep.put("round_p50_s", Stats.median(rounds.map(_.wall).toSeq), "s")
    }
    System.err.println(s"[perfbench] ingest rounds=$rounds rebuild=$rebuild " +
      s"live=${corpus.live.size} entities=$nEntities")
  }
}
