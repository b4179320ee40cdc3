package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.algo.{ConnectedComponents, Ppr, PprConfig, Triangles, LabelProp}
import graft.core.{Ids, TextOps}
import graft.extract.Extract
import graft.graph.{Adjacency, GraphBuild}
import graft.ops.{Ann, Dedup, TextMetrics}

/** The driver-facing query catalog over the sfDir parquet tables
  * (documents / embeddings / events). Every query here has a DuckDB oracle
  * in [[Oracles]] unless stated; names map 1:1 to SURVEY.md §2 operators.
  *
  * All queries order their output deterministically and round float
  * aggregates where engines may differ in summation order.
  */
object DocQueries {

  /** Memoized eager persist for subtrees shared across queries AND across
    * the multiple actions inside one query (iterative CC/LPA/PPR). Keyed
    * per (session, label): repeated calls — q24/q25/q26/q27b all derive
    * the same entity arcs; qPpr's dictionary feeds three actions — reuse
    * ONE cached copy instead of persisting a fresh leak per call
    * (round-1 leaked one cached arc table per query). The eager count()
    * stops parallel branch stages from racing an un-materialized cache.
    */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, scala.concurrent.Promise[DataFrame]]()
  // Row count of each memoized frame, filled by the eager count() the
  // memo build runs anyway — consumers that need the size (nV for the
  // PPR kernels) read it here instead of scheduling another count job.
  private val countMemo = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def memoPersistCount(s: SparkSession, label: String)(df: => DataFrame)
      : (DataFrame, Long) = {
    val d = memoPersist(s, label)(df)
    (d, countMemo.get(s.sparkContext.applicationId + "\u0000" + label).longValue())
  }
  private val evictHooked =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
  private def memoPersist(s: SparkSession, label: String)(df: => DataFrame): DataFrame = {
    // Keyed by applicationId (identityHashCode can be reused after GC and
    // would hand a new session a DataFrame bound to a dead one); entries
    // are dropped when the owning application ends, so a long-lived JVM
    // cycling sessions does not accumulate dead cache handles.
    val app = s.sparkContext.applicationId
    if (evictHooked.add(app))
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          memo.keySet.removeIf(_.startsWith(app + "\u0000"))
          countMemo.keySet.removeIf(_.startsWith(app + "\u0000"))
          evictHooked.remove(app)
        }
      })
    // NOT computeIfAbsent: memo builds NEST (q43 -> triangles memo ->
    // entityArcs memo), and a mapping function that inserts another key
    // into the same ConcurrentHashMap can throw IllegalStateException
    // "Recursive update" when the two keys collide into one bin --
    // order- and hash-dependent, so it surfaced as a flaky per-run query
    // failure. putIfAbsent of a Promise instead: the insert happens
    // OUTSIDE any map callback (no recursive-update hazard), nested
    // builds insert their own keys freely, CONCURRENT builders of
    // DIFFERENT keys proceed in parallel (warmSharedCaches overlaps the
    // independent cache builds, guide 2.6), and a losing racer awaits the
    // winner so the eager count() still runs exactly once per key.
    val key = app + "\u0000" + label
    val p = scala.concurrent.Promise[DataFrame]()
    val prior = memo.putIfAbsent(key, p)
    if (prior != null)
      scala.concurrent.Await.result(prior.future, scala.concurrent.duration.Duration.Inf)
    else
      try {
        val d = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        countMemo.put(key, d.count())
        p.success(d)
        d
      } catch { case e: Throwable =>
        memo.remove(key, p) // a later retry may rebuild
        p.failure(e)
        throw e
      }
  }

  /** Materialize the memo-cached subtrees shared across queries (triples,
    * shingles, entity arcs, the PPR dictionary/arc tables) OUTSIDE any
    * timed region, so per-query wall-clocks measure the query, not the
    * first-consumer's cache build (benchmarks call this and report the
    * warm time as a separate `cache_build` entry).
    */
  def warmSharedCaches(s: SparkSession, dir: String): Unit = {
    // Overlap the independent cache builds (guide 2.6): Spark's FIFO
    // scheduler backfills the tail of one build with the next one's
    // tasks, so the warm wall is max(build) + arcs, not the sum. The
    // entityArcs thread blocks on the triples promise internally
    // (memoPersist), so dependency order is preserved without a barrier.
    val builds: Seq[() => Any] = Seq(
      () => triples(s, dir),
      () => docShingles(s, dir),
      () => entityArcs(s, dir),
      () => chunkEntitiesFrame(s, dir),
      () => entityVerticesFrame(s, dir),
      () => entityDfFrame(s, dir),
      () => directedEntityArcs(s, dir),
      () => entityDict(s, dir),
      () => pprDict(s, dir),
      () => pprArcs(s, dir))
    // One thread per build: a task that depends on another key parks on
    // that key's promise, and with a dedicated thread per task every
    // promise always has a live builder — the dependency DAG can never
    // deadlock the pool.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
    try {
      val tasks = builds.map(b =>
        pool.submit(new Runnable { def run(): Unit = { b(); () } }))
      tasks.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Fan a sub-split-size scan out to the session's parallelism before
    * per-row heavy kernels: the sf documents table is one parquet file
    * under one scan split, so every downstream byte-scan kernel ran in
    * ONE task (measured: the 3-gram shingle build was a single-task
    * 7.5 s compute). Scale-adaptive (guide 2.5 input skew): a corpus
    * with >= defaultParallelism scan splits passes through untouched, so
    * no shuffle is ever added at real scale.
    */
  private def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p)
  }

  def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  def embeddingsTable(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")

  /** documents → (doc_id, chunk_id, content). One chunk per doc. */
  def chunks(s: SparkSession, dir: String): DataFrame =
    Extract.chunks(documents(s, dir), "text", Seq("doc_id"))

  /** Chunk-distinct adjacent-token triples (U2 substitute, P2 dedup).
    * Memo-persisted: nearly every query derives from this extraction.
    */
  def triples(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, s"triples:$dir") {
      Extract.adjacentTriples(chunks(s, dir).dropDuplicates("chunk_id"))
    }

  // ------------------------------------------------------------ P1/F1/F2/F3

  def qTextProcessing(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), TextOps.textProcessing(col("text")).as("norm"))
      .orderBy("doc_id")

  def qChunkIds(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), Ids.mdhash(Ids.ChunkNs, col("text")).as("chunk_id"))
      .orderBy("doc_id")

  def qNormalizeAnswer(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), TextOps.normalizeAnswer(col("text")).as("norm_answer"))
      .orderBy("doc_id")

  // ------------------------------------------------------------ SO1/U2/A1/A2/A4

  def qEntities(s: SparkSession, dir: String): DataFrame =
    Extract.entities(chunkEntitiesFrame(s, dir))
      .select(col("entity"), col("entity_id"))
      .orderBy("entity")

  def qTriples(s: SparkSession, dir: String): DataFrame =
    triples(s, dir).orderBy("chunk_id", "subj", "pred", "obj")

  def qFactEdges(s: SparkSession, dir: String): DataFrame =
    GraphBuild.factEdges(triples(s, dir))
      .select(col("src"), col("dst"), col("weight"))
      .orderBy("src", "dst")

  def qPassageEdges(s: SparkSession, dir: String): DataFrame =
    GraphBuild.passageEdges(chunkEntitiesFrame(s, dir))
      .select(col("src"), col("dst"), col("weight"))
      .orderBy("src", "dst")

  /** Memoized per-entity document frequency — q08 reads it straight and
    * the PPR/BFS seed constructions (q27/q27c/q37) all rank by it; before
    * round 7 each of the four re-ran the chunkEntities distinct +
    * countDistinct aggregation from the triples cache.
    */
  private[graft] def entityDfFrame(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, s"entityDf:$dir")(
      chunkEntitiesFrame(s, dir)
        .groupBy("entity").agg(countDistinct("chunk_id").as("df")))

  /** Top-k entities by (df desc, entity asc), as mdhash entity ids — the
    * seed rule shared by q27/q27c/q37.
    */
  private def topDfEntityIds(s: SparkSession, dir: String, k: Int): DataFrame =
    entityDfFrame(s, dir)
      .orderBy(col("df").desc, col("entity").asc).limit(k)
      .select(Ids.mdhash(Ids.EntityNs, col("entity")).as("key"))

  def qEntityDf(s: SparkSession, dir: String): DataFrame =
    entityDfFrame(s, dir).orderBy("entity")

  // ------------------------------------------------------------ F4/W2/A7

  /** F4 — global min-max via aggregate + broadcast bounds (NOT a
    * partition-less window, which would drag the whole table through one
    * task at corpus scale).
    */
  def qMinMax(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps
    VectorOps.minMaxNormalized(
        documents(s, dir).select(col("doc_id"), col("n_chars").cast("double").as("v")),
        col("v"), "mm0")
      .select(col("doc_id"), round(col("mm0"), 9).as("mm"))
      .orderBy("doc_id")
  }

  /** W2 — global top-k via orderBy+limit (TakeOrderedAndProject: per-
    * partition heaps, distributed); the rank window runs over the 5
    * surviving rows only, never the full table.
    */
  def qTopKDocs(s: SparkSession, dir: String): DataFrame = {
    val top = documents(s, dir).select("doc_id", "n_chars")
      .orderBy(col("n_chars").desc, col("doc_id").asc).limit(5)
    val w = Window.orderBy(col("n_chars").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w)).orderBy("rank")
  }

  def qGraphStats(s: SparkSession, dir: String): DataFrame = {
    val t = triples(s, dir)
    val ce = chunkEntitiesFrame(s, dir)
    t.select(
      countDistinct("chunk_id").as("n_chunks"),
      countDistinct("subj", "pred", "obj").as("n_facts"))
     .crossJoin(ce.select(countDistinct("entity").as("n_entities")))
     .crossJoin(GraphBuild.factEdges(t).select(count(lit(1)).as("n_fact_edges")))
     .select("n_chunks", "n_facts", "n_entities", "n_fact_edges")
  }

  // ------------------------------------------------------------ SO4/SO5 (I1/I3)

  /** Idempotent-upsert candidates: docs NOT already "stored" (stored =
    * doc_id % 3 == 0 as the stand-in prior snapshot) — left-anti by hash.
    */
  def qUpsertAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val stored = docs.where(col("doc_id") % 3 === 0)
      .select(md5(col("text")).as("h")).distinct()
    docs.select(col("doc_id"), md5(col("text")).as("h"))
      .join(stored, Seq("h"), "left_anti")
      .select("doc_id").orderBy("doc_id")
  }

  /** Refcounted delete: removing docs with doc_id < 100, which entities
    * become unreferenced (appear in NO surviving doc)?
    */
  def qDeleteRefcount(s: SparkSession, dir: String): DataFrame = {
    val t = triples(s, dir)
    val withDoc = chunks(s, dir).select("doc_id", "chunk_id")
      .join(chunkEntitiesFrame(s, dir), "chunk_id")
    withDoc.groupBy("entity")
      .agg(max(when(col("doc_id") >= 100, 1).otherwise(0)).as("survives"))
      .where(col("survives") === 0)
      .select("entity").orderBy("entity")
  }

  // ------------------------------------------------------------ dedup family

  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(documents(s, dir), "text", "doc_id")
      .orderBy("text_hash")

  /** Shared 3-gram shingle rows — q15 and q17 both consume this; ONE
    * memo-persisted copy instead of two runs of the normalize+explode
    * chain (the suite's single most expensive shared subtree).
    */
  private[graft] def docShingles(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, s"shingles3:$dir")(
      Dedup.shingleRows(fanOut(documents(s, dir)), "text", "doc_id", w = 3))

  /** q50 — corpus n-gram statistics: top-30 trigram shingles by document
    * frequency (tokenizer/vocab-training prep — the "what phrases does the
    * corpus repeat" sweep). Reads the memoized shingle table the dedup
    * family already builds; TakeOrdered top-k, deterministic tie-break.
    */
  def qNgramStats(s: SparkSession, dir: String): DataFrame = {
    val top = docShingles(s, dir)
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("sh").asc).limit(30)
    val w = Window.orderBy(col("df").desc, col("sh").asc)
    top.withColumn("rank", row_number().over(w)).orderBy("rank")
  }

  def qMinHashLsh(s: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.minHashSignaturesFrom(docShingles(s, dir), numHashes = 16)
    Dedup.minHashCandidates(sigs, bands = 4, rowsPerBand = 4)
      .orderBy("a", "b")
  }

  def qSimHash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHash(fanOut(documents(s, dir)), "text", "doc_id")
      .orderBy("key")

  /** Banded SimHash near-dup pair search (pigeonhole over maxHamming+1
    * bands — equi-join, never the all-pairs theta join).
    */
  def qSimHashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(Dedup.simHash(fanOut(documents(s, dir)), "text", "doc_id"),
        maxHamming = 3)
      .orderBy("a", "b")

  def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsFrom(docShingles(s, dir),
      threshold = 0.5, maxDocFreq = 100L)
      .select(col("a"), col("b"), round(col("jaccard"), 9).as("jaccard"))
      .orderBy("a", "b")

  /** Embedding-cosine near-dup groups over the embeddings table: pairs at
    * cosine ≥ 0.42 (margin to the nearest pair score ≥ 3e-5 at every sf —
    * threshold flips from float-reorder noise are impossible), connected
    * components, keeper = min vec_id. Closes the dedup family's
    * embedding-based entry alongside exact/MinHash/SimHash/Jaccard.
    */
  def qEmbedDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddingsTable(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<float>").as("v"))
    Dedup.embeddingNearDupGroups(emb, "vec_id", "v", tau = 0.42)
      .select(col("key").as("vec_id"), col("keeper"))
      .orderBy("vec_id")
  }

  // ------------------------------------------------------------ similarity

  def qCosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddingsTable(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<float>").as("v"))
    val queries = emb.where(col("vec_id") < 8)
      .select(col("vec_id").cast("string").as("qid"), col("v").as("qvec"))
    val keys = emb.select(col("vec_id").cast("string").as("kid"), col("v").as("kvec"))
    Ann.bruteForceTopK(queries, keys, k = 10, excludeSelf = true)
      .select(col("qid").cast("long").as("qid"), col("kid").cast("long").as("kid"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  /** Multi-table LSH ANN with the hot-bucket cap WIRED (maxBucket=1024):
    * a (table, bucket) group larger than the cap is dropped before the
    * candidate self-join — the bound that keeps one degenerate bucket
    * from going quadratic at web scale. The DuckDB oracle applies the
    * same bucket-size filter.
    */
  def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddingsTable(s, dir)
      .select(col("vec_id").cast("string").as("id"),
        col("embedding").cast("array<float>").as("v"))
    Ann.lshTopK(emb, "id", "v", k = 10, nPlanes = 8, dim = 64, maxBucket = 1024)
      .select(col("qid").cast("long").as("qid"), col("kid").cast("long").as("kid"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  /** IVF ANN over the embeddings table (nCells=16, nProbe=4, k=10): the
    * coarse-quantizer counterpart of q19's LSH path. Assignment/probe
    * margins on this data: the closest top1–top2 centroid-dot gap is
    * ~2.6e-5 and the probe-boundary (rank-4 vs rank-5) gap ~1.1e-5 —
    * orders of magnitude above cross-engine summation noise, so cell and
    * probe sets cannot flip between Spark and the oracle.
    */
  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddingsTable(s, dir)
      .select(col("vec_id").cast("string").as("id"),
        col("embedding").cast("array<float>").as("v"))
    Ann.ivfTopK(emb, "id", "v", k = 10, nCells = 16, nProbe = 4, dim = 64)
      .select(col("qid").cast("long").as("qid"), col("kid").cast("long").as("kid"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  // ------------------------------------------------------------ text metrics

  def qLangId(s: SparkSession, dir: String): DataFrame =
    TextMetrics.langId(fanOut(documents(s, dir)), "text")
      .select("doc_id", "pred_lang").orderBy("doc_id")

  def qQuality(s: SparkSession, dir: String): DataFrame =
    TextMetrics.quality(fanOut(documents(s, dir)), "text", "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_token_len"), 9).as("avg_token_len"),
        round(col("stopword_ratio"), 9).as("stopword_ratio"),
        round(col("alnum_ratio"), 9).as("alnum_ratio"))
      .orderBy("doc_id")

  def qTokenCounts(s: SparkSession, dir: String): DataFrame =
    TextMetrics.tokenCounts(fanOut(documents(s, dir)), "text", "doc_id")
      .orderBy("doc_id")

  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    TextMetrics.fingerprint(fanOut(documents(s, dir)), "text", "doc_id")
      .orderBy("doc_id")

  /** HTML→text extraction (the pages input_hint's `html` column path):
    * deterministic markup wrapped around each doc, stripped by the
    * byte-scan [[TextOps.stripTags]] kernel — ≡ regexp_replace(html,
    * '<[^>]*>', '', 'g') in the DuckDB oracle. The kernel exists because
    * java.util.regex thread-scales at ~0.30 on this hardware class
    * (graftx.TextKernels doc); tag stripping sits on the crawl-ingest hot
    * path next to normalization.
    */
  def qHtmlStrip(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        concat(lit("<html lang=\""), col("lang"),
          lit("\"><body>\n<p class=\"d\">"), col("text"),
          lit("</p><br/></body></html>")).as("html"))
      .select(col("doc_id"), TextOps.stripTags(col("html")).as("extracted"))
      .orderBy("doc_id")

  // ------------------------------------------------------------ graph algos (G1/G4/G5/G6)

  /** Entity co-occurrence graph (fact edges only), string-keyed.
    * Memo-persisted: the iterative consumers (CC/LPA) run one action per
    * round and would re-extract the corpus every iteration otherwise —
    * and q24/q25/q26/q27b share the ONE cached copy.
    */
  private[graft] def entityArcs(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, s"entityArcs:$dir") {
      Adjacency.symmetrize(GraphBuild.factEdges(triples(s, dir)))
    }

  /** Memoized (chunk_id, entity) membership — the union+distinct that
    * almost every downstream derivation re-ran per consumer (q04, q07,
    * q11, q13, q30, the entity-df memo, the vertex/dictionary builds).
    */
  private[graft] def chunkEntitiesFrame(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, s"chunkEntities:$dir")(
      Extract.chunkEntities(triples(s, dir)))

  /** Memoized entity vertex set (mdhash ids) — consumed by every graph
    * algorithm query (q24/q25/q27b/q33/q35/q37…).
    */
  private[graft] def entityVerticesFrame(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, s"entityVertices:$dir")(
      Extract.entities(chunkEntitiesFrame(s, dir))
        .select(Ids.mdhash(Ids.EntityNs, col("entity")).as("vid")))

  private def entityVertices(s: SparkSession, dir: String): DataFrame =
    entityVerticesFrame(s, dir)

  def qConnectedComponents(s: SparkSession, dir: String): DataFrame = {
    val (labels, _) = ConnectedComponents.run(entityArcs(s, dir), entityVertices(s, dir))
    labels.select(col("vid").as("entity_id"), col("component")).orderBy("entity_id")
  }

  /** Memoized per-vertex triangle counts — q25 reads them straight, q43
    * derives the clustering coefficient (one duplicated degree-oriented
    * two-join pass per suite before round 5).
    */
  private def trianglesPerVertex(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, s"triangles:$dir")(
      Triangles.run(entityArcs(s, dir), entityVertices(s, dir))._1)

  def qTriangles(s: SparkSession, dir: String): DataFrame =
    trianglesPerVertex(s, dir)
      .select(col("vid").as("entity_id"), col("triangles")).orderBy("entity_id")

  def qDegrees(s: SparkSession, dir: String): DataFrame =
    entityArcs(s, dir).groupBy(col("src").as("entity_id"))
      .agg(round(sum("weight"), 6).as("wdegree"), count(lit(1)).as("degree"))
      .orderBy("entity_id")

  /** PPR over the full doc graph (fact + passage edges), seeded at the
    * highest-df entity. No SQL oracle (iterative fixpoint) — correctness
    * is pinned by the networkx goldens in PprSpec; rows-only check here.
    */
  /** Memoized doc-graph dictionary / encoded arcs (the q27 substrate):
    * the dictionary feeds nV, the encode join AND the final score
    * read-out; the arcs feed the CSR collect — without the caches this
    * query ran the whole derivation DAG twice (round 1: ~45s of its 73s
    * bench time was the duplicated extraction). nV rides along from the
    * memo's eager count — no separate count job.
    */
  private def pprDict(s: SparkSession, dir: String): (DataFrame, Long) =
    memoPersistCount(s, s"pprDict:$dir") {
      val verts = GraphBuild.vertices(
        Extract.entities(chunkEntitiesFrame(s, dir)),
        chunks(s, dir).dropDuplicates("chunk_id"))
      Ids.dictionary(verts.select("key"), "key")
    }

  private def pprArcs(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, s"pprArcs:$dir") {
      val t = triples(s, dir)
      val edges = GraphBuild.edges(
        GraphBuild.factEdges(t),
        GraphBuild.passageEdges(chunkEntitiesFrame(s, dir)))
      Adjacency.encode(Adjacency.symmetrize(edges), pprDict(s, dir)._1)
    }

  def qPpr(s: SparkSession, dir: String): DataFrame = {
    val (dict, nV) = pprDict(s, dir)
    val arcs = pprArcs(s, dir)
    val seeds = topDfEntityIds(s, dir, 1).join(dict, "key")
      .select(lit(0L).as("qid"), col("vid"), lit(1.0).as("weight"))
    // Same broadcast-or-shuffle selection the Retriever makes: this graph
    // is dictionary-encoded and small, so the CSR broadcast kernel runs it
    // in seconds; the shuffle path stays covered by PprSpec goldens and
    // kicks in automatically past csrMaxVertices. The kernel runs LAZY
    // (runFrameLazy): the single readout action below computes the scores
    // exactly once — the old collect-seeds + eager persist+count path was
    // two extra jobs and a leaked cache entry per call. Gate bound shared
    // with the Retriever (round-6 verdict #5: one constant, two readers).
    val (scores, runner) =
      if (nV <= graft.retrieve.Retriever.RetrieveConfig().csrMaxVertices) {
        val runner = new graft.algo.PprShard.Runner(s,
          graft.algo.PprShard.buildLocal(arcs, nV.toInt))
        (runner.runFrameLazy(seeds, PprConfig(tol = 1e-10)), Some(runner))
      } else (Ppr.run(s, arcs, nV, seeds, PprConfig(tol = 1e-10))._1, None)
    val out = scores.join(dict, "vid")
      .select(col("key"), round(col("score"), 9).as("score"))
      .orderBy(col("score").desc, col("key").asc)
    // Materialize BEFORE releasing the broadcast CSR (the lazy plan
    // computes through it), as qPagerankGlobal does.
    val pinned = out.localCheckpoint(true)
    runner.foreach(_.close())
    pinned
  }

  /** G1 value-check at the driver: PPR as a FIXED 30-sweep power
    * iteration (tol=0 disables early convergence) over the entity
    * co-occurrence graph, seeded at the highest-df entity — unlike q27's
    * tol-converged fixpoint, a fixed sweep count IS expressible as a
    * DuckDB recursive CTE, so this query gives the update rule (dangling
    * redistribution included) a value-level oracle instead of rows-only.
    * Every vertex emits a row (zeros included); round(,9) both sides.
    */
  /** Memoized entity-graph dictionary (q27c/q33 substrate). */
  private def entityDict(s: SparkSession, dir: String): (DataFrame, Long) =
    memoPersistCount(s, s"entityDict:$dir")(
      Ids.dictionary(entityVertices(s, dir).select(col("vid").as("key")), "key"))

  def qPprFixed(s: SparkSession, dir: String): DataFrame = {
    val arcs = entityArcs(s, dir)
    val (dict, nV) = entityDict(s, dir)
    val enc = Adjacency.encode(arcs, dict)
    val csr = graft.algo.PprShard.buildLocal(enc, nV.toInt)
    // Seeds stay a FRAME into the lazy kernel: no driver collect of the
    // seed vid, and the checkpoint below computes the scores exactly once.
    val seeds = topDfEntityIds(s, dir, 1).join(dict, "key")
      .select(lit(0L).as("qid"), col("vid"), lit(1.0).as("weight"))
    val runner = new graft.algo.PprShard.Runner(s, csr)
    val scores = runner.runFrameLazy(seeds,
      PprConfig(damping = 0.5, tol = 0.0, maxIter = 30))
    val out = dict.join(scores.select("vid", "score"), Seq("vid"), "left")
      .select(col("key").as("entity_id"),
        round(coalesce(col("score"), lit(0.0)), 9).as("score"))
      .orderBy("entity_id")
    // Materialize before releasing the broadcast CSR (see qPagerankGlobal).
    val pinned = out.localCheckpoint(true)
    runner.close()
    pinned
  }

  /** Global (uniform-reset) PageRank — the north rule's non-personalized
    * variant, as a fixed 20-sweep power iteration so it carries a DuckDB
    * value oracle (q27c's CTE with p(v) = 1/N). The uniform seed frame is
    * built DISTRIBUTED from the dictionary (one row per vertex through
    * runFrame) — no driver-side seed materialization at any graph size.
    */
  def qPagerankGlobal(s: SparkSession, dir: String): DataFrame = {
    val arcs = entityArcs(s, dir)
    val (dict, nV) = entityDict(s, dir)
    val enc = Adjacency.encode(arcs, dict)
    val csr = graft.algo.PprShard.buildLocal(enc, nV.toInt)
    val seeds = dict.select(lit(0L).as("qid"), col("vid"), lit(1.0).as("weight"))
    val runner = new graft.algo.PprShard.Runner(s, csr)
    // LAZY kernel: the localCheckpoint below is the one materializing
    // action (the old eager runFrame persisted + counted the scores first
    // — a whole extra job whose cache the checkpoint then re-read).
    val scores = runner.runFrameLazy(seeds,
      PprConfig(damping = 0.5, tol = 0.0, maxIter = 20))
    val out = dict.join(scores.select("vid", "score"), Seq("vid"), "left")
      .select(col("key").as("entity_id"),
        round(coalesce(col("score"), lit(0.0)), 9).as("score"))
      .orderBy("entity_id")
    // Materialize BEFORE releasing the broadcast CSR (the lazy plan
    // computes through it), then the runner's executor-pinned copy can go.
    val pinned = out.localCheckpoint(true)
    runner.close()
    pinned
  }

  /** Weighted HITS over the DIRECTED subject→object entity graph — the
    * direction the reference's undirected fact edges discard
    * (HippoRAG.py:1004-1012) and the analysis that pays for keeping it.
    * Fixed 20 sweeps with per-half-step L2 normalization, so the whole
    * run carries a recursive-CTE value oracle (q27c/q33 design).
    */
  def qHits(s: SparkSession, dir: String): DataFrame = {
    val dArcs = triples(s, dir).where(col("subj") =!= col("obj"))
      .select(Ids.mdhash(Ids.EntityNs, col("subj")).as("src"),
        Ids.mdhash(Ids.EntityNs, col("obj")).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("weight"))
    graft.algo.Hits.run(dArcs, entityVertices(s, dir), sweeps = 20)
      .select(col("vid").as("entity_id"), round(col("hub"), 9).as("hub"),
        round(col("authority"), 9).as("authority"))
      .orderBy("entity_id")
  }

  /** Multi-source BFS hop distance from the top-5-df entity seeds over
    * the undirected entity graph — the hard-edged counterpart of the
    * PPR damping neighborhood (crawl-frontier depth / k-hop analyses).
    * Integer output, exact vs a recursive-CTE shortest-hops oracle;
    * unreachable vertices keep NULL hops on both sides.
    */
  def qBfsHops(s: SparkSession, dir: String): DataFrame = {
    val seeds = topDfEntityIds(s, dir, 5).select(col("key").as("vid"))
    graft.algo.Bfs.hops(entityArcs(s, dir), entityVertices(s, dir), seeds)
      .select(col("vid").as("entity_id"), col("hops"))
      .orderBy("entity_id")
  }

  /** Strongly connected components of the DIRECTED subj→obj entity graph
    * — the bow-tie decomposition primitive for web link graphs (q35's
    * directed input, q24's undirected-CC counterpart). scc = min member
    * id (canonical); oracle = the mutual-reachability closure as a
    * recursive CTE.
    */
  /** Memoized SCC label frame of the directed entity graph — q38 reads it
    * straight and q39 classifies against its largest component; before
    * round 5 qBowtie re-ran the whole trim/color/pivot fixpoint q38 had
    * just computed (~17 s duplicate work per suite pass).
    */
  private def sccLabels(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, s"sccLabels:$dir")(
      graft.algo.Scc.run(directedEntityArcs(s, dir), entityVertices(s, dir)))

  def qScc(s: SparkSession, dir: String): DataFrame =
    sccLabels(s, dir)
      .select(col("vid").as("entity_id"), col("scc"))
      .orderBy("entity_id")

  /** Bow-tie decomposition (Broder et al., "Graph structure in the Web",
    * WWW'00) of the directed entity graph: each vertex is classified
    * against the LARGEST strongly connected component — `core` (member),
    * `in` (reaches the core), `out` (reachable from the core), `other`
    * (tendrils/disconnected). Composed from [[graft.algo.Scc]] and two
    * directed [[graft.algo.Bfs]] sweeps (forward + reversed arcs);
    * in∩out outside the core is impossible (it would be in the SCC), and
    * the oracle's CASE precedence is mirrored anyway.
    */
  def qBowtie(s: SparkSession, dir: String): DataFrame = {
    val dArcs = directedEntityArcs(s, dir)
    val verts = entityVertices(s, dir)
    val scc = sccLabels(s, dir) // memo-shared with q38
    val giant = scc.groupBy("scc").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("scc").asc).limit(1).select("scc")
    val core = scc.join(giant, "scc").select("vid")
    // maxRounds is effectively unbounded (the frontier loop exhausts in
    // ≤ diameter rounds anyway): the q39 oracle computes an UNBOUNDED
    // reachability closure, so a 64-hop cap here would classify a deep
    // vertex 'other' while the oracle says 'in'/'out' (q37/q40/q42 bound
    // BOTH sides at 64; q39's oracle has no bound to mirror).
    val fromCore = graft.algo.Bfs.hops(dArcs, verts, core, maxRounds = Int.MaxValue)
      .where(col("hops").isNotNull).select("vid")
    val toCore = graft.algo.Bfs.hops(
      dArcs.select(col("dst").as("src"), col("src").as("dst")), verts, core,
        maxRounds = Int.MaxValue)
      .where(col("hops").isNotNull).select("vid")
    verts
      .join(core.withColumn("is_core", lit(true)), Seq("vid"), "left")
      .join(toCore.withColumn("is_in", lit(true)), Seq("vid"), "left")
      .join(fromCore.withColumn("is_out", lit(true)), Seq("vid"), "left")
      .select(col("vid").as("entity_id"),
        when(col("is_core"), "core")
          .when(col("is_in"), "in")
          .when(col("is_out"), "out")
          .otherwise("other").as("part"))
      .orderBy("entity_id")
  }

  /** Exact neighborhood function (distance distribution) of the directed
    * entity graph — #ordered pairs at each shortest-hop distance (Broder
    * et al. WWW'00's N(t), the statistic behind "effective diameter").
    * All-roots BFS ([[graft.algo.Neighborhood.exactDistribution]]); the
    * sketch-based scale path ([[graft.algo.Neighborhood.hyperball]], the
    * in-house register-array HLL kernel) is spec-anchored against this
    * exact form and bench-measured on the big Zipf graph
    * (graft.bench.HyperBallProbe, BENCH_NOTES.md).
    */
  /** Memoized exact all-pairs distance frame (root, vid, hops) of the
    * directed entity graph — the all-roots BFS that feeds q40 (distance
    * distribution), q42 (harmonic centrality) and q46's exact anchor;
    * before round 5 q42 re-ran the whole BFS q40 had just computed.
    */
  private def exactDist(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, s"exactDist:$dir")(
      graft.algo.Neighborhood.exactDistances(directedEntityArcs(s, dir),
        entityVertices(s, dir)))

  def qNeighborhood(s: SparkSession, dir: String): DataFrame =
    exactDist(s, dir)
      .groupBy("hops").agg(count(lit(1)).as("pairs"))
      .orderBy("hops")

  /** Directed subject→object entity arcs (the graph q37/q38/q39/q40/q42
    * analyze; the undirected [[entityArcs]] adds the reference's
    * symmetrization for PPR/CC).
    */
  private[graft] def directedEntityArcs(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, s"directedEntityArcs:$dir")(
      triples(s, dir).where(col("subj") =!= col("obj"))
        .select(Ids.mdhash(Ids.EntityNs, col("subj")).as("src"),
          Ids.mdhash(Ids.EntityNs, col("obj")).as("dst")).distinct())

  /** Exact inbound harmonic centrality H(v) = Σ 1/d(u,v) over the
    * directed entity graph ([[graft.algo.Neighborhood.harmonicExact]]) —
    * the Boldi-Vigna web-centrality; the sketch path is [[graft.algo
    * .Neighborhood.hyperball]]'s `harm` column (spec-anchored against
    * this exact form, no SQL shape for sketches).
    */
  def qHarmonic(s: SparkSession, dir: String): DataFrame = {
    val h = exactDist(s, dir) // memo-shared with q40/q46
      .where(col("hops") > 0L)
      .groupBy(col("vid"))
      .agg(sum(lit(1.0) / col("hops")).as("h"))
    entityVertices(s, dir)
      .join(h, Seq("vid"), "left")
      .select(col("vid").as("entity_id"),
        coalesce(col("h"), lit(0.0)).as("harmonic"))
      .orderBy("entity_id")
  }

  /** q46 — the driver-level tolerance gate for the SKETCH scale path:
    * HyperBall (register-array HLL, [[graft.algo.Neighborhood.hyperball]])
    * against the exact distance frame. Output rows are the EXACT
    * cumulative neighborhood curve (hops, pairs_cum) — byte-comparable to
    * the DuckDB CTE oracle — plus two booleans computed Spark-side:
    * `curve_ok` (the deterministic HLL estimate of N(t) within ±5% of
    * exact at that t) and `harm_ok` (total harmonic mass within ±5%;
    * Σ_v outbound-harm == Σ_v inbound-harm == Σ_{pairs d>0} 1/d, so the
    * direction difference vs q42 cancels in the total). The oracle pins
    * both booleans to literal TRUE: a sketch regression past the committed
    * tolerance fails the hash gate loudly at every sf.
    */
  def qHyperball(s: SparkSession, dir: String): DataFrame = {
    val d = exactDist(s, dir)
    val exact = d.groupBy("hops").agg(count(lit(1)).as("pairs"))
    val wc = Window.orderBy("hops")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exactCum = exact.select(col("hops"), sum("pairs").over(wc).as("pairs_cum"))
    // The sketch kernel keys its register state by LONG vid (the 100-TB
    // shape: encoded web graphs). The entity graph uses string ids, and
    // q46 only consumes the GLOBAL curve + total harmonic mass, so an
    // injective deterministic long encoding suffices — xxhash64 of the
    // id (collision odds ~n²/2⁶⁴, zero at every test sf, and a collision
    // would only nudge one HLL register, inside the ±5% gate anyway).
    val (curve, balls) =
      graft.algo.Neighborhood.hyperball(
        directedEntityArcs(s, dir).select(
          xxhash64(col("src")).as("src"), xxhash64(col("dst")).as("dst")),
        entityVertices(s, dir).select(xxhash64(col("vid")).as("vid")),
        lgK = 12)
    import s.implicits._
    val curveDf = curve.toDF("t", "est").select(col("t").cast("long").as("hops"), col("est"))
    // The sketch loop stops once no register changes — at t_s ≤ the exact
    // diameter (registers are monotone over monotone balls, and can
    // saturate a hop or two early). N(t) is constant past convergence, so
    // the final estimate IS the sketch's value for every later t; without
    // the carry-forward an exact row beyond t_s would see est = null and
    // fail the gate spuriously.
    val lastEst = curve.last._2
    val exactHarm = d.where(col("hops") > 0L)
      .agg(sum(lit(1.0) / col("hops")).as("eh"))
    val sketchHarm = balls.agg(sum(col("harm")).as("sh"))
    val harmOk = exactHarm.crossJoin(sketchHarm)
      .select((abs(col("sh") - col("eh")) <= lit(0.05) * col("eh")).as("harm_ok"))
    exactCum.join(curveDf, Seq("hops"), "left")
      .crossJoin(broadcast(harmOk))
      .select(col("hops"), col("pairs_cum"),
        (abs(coalesce(col("est"), lit(lastEst)) - col("pairs_cum"))
          <= lit(0.05) * col("pairs_cum"))
          .as("curve_ok"),
        col("harm_ok"))
      .orderBy("hops")
  }

  /** q48 — BM25 lexical top-20 for a fixed query over the documents
    * table ([[graft.ops.Bm25]]): Okapi/Lucene-idf scoring with FIXED-POINT
    * micro score sums (exact integer addition — the oracle replays the
    * identical arithmetic; a double sum would be fp-order-dependent).
    */
  def qBm25(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bm25.search(fanOut(documents(s, dir)), "doc_id", "text",
        query = "slow stream filter join", topK = 20)
      .select(col("doc").as("doc_id"), col("score_micro"), col("rank"))
      .orderBy("rank")

  /** q47 — deterministic random-walk corpus over the directed entity
    * graph ([[graft.algo.Walks]]): 2 walks of length 8 per entity, one
    * row per visited position. The md5 step rule is engine-portable, so
    * the DuckDB oracle replays the IDENTICAL walks as a recursive CTE —
    * a full value check of the walk kernel, not a shape check.
    */
  /** Memo-shared walk corpus (q47 + q51 both consume it). */
  private def walkCorpus(s: SparkSession, dir: String): DataFrame =
    memoPersist(s, s"walks:$dir")(
      graft.algo.Walks.randomWalks(directedEntityArcs(s, dir),
        entityVertices(s, dir), walkLen = 8, walksPerVertex = 2))

  def qWalks(s: SparkSession, dir: String): DataFrame =
    walkCorpus(s, dir)
      .select(col("start").as("start_id"), col("walk"), col("step"), col("vid"))
      .orderBy("start_id", "walk", "step")

  /** q51 — skip-gram (center, context) co-occurrence counts over the q47
    * walk corpus, window 2 ([[graft.algo.Walks.skipGramPairs]]): the
    * word2vec/DeepWalk training-pair stage. The oracle replays the walks
    * (q47's recursive CTE) and self-joins them — a full value check.
    */
  def qSkipGrams(s: SparkSession, dir: String): DataFrame =
    graft.algo.Walks.skipGramPairs(walkCorpus(s, dir), window = 2)
      .select(col("center").as("center_id"), col("context").as("context_id"),
        col("pairs"))
      .orderBy("center_id", "context_id")

  /** k-core decomposition (coreness per entity) of the undirected entity
    * graph — distributed h-index iteration to fixpoint
    * ([[graft.algo.KCore]]); the oracle unrolls the same closed-form
    * rounds as chained SQL CTEs (q27c/q33/q35 design).
    */
  def qKCore(s: SparkSession, dir: String): DataFrame =
    graft.algo.KCore.run(entityArcs(s, dir), entityVertices(s, dir))
      .select(col("vid").as("entity_id"), col("coreness"))
      .orderBy("entity_id")

  /** Local clustering coefficient per entity over the undirected entity
    * graph: lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), 0 below degree 2 —
    * the per-vertex transitivity statistic (Watts-Strogatz) web-graph
    * analyses report next to the triangle count. Reuses the degree-
    * oriented [[graft.algo.Triangles]] and the symmetrized arc degrees.
    */
  def qClustering(s: SparkSession, dir: String): DataFrame = {
    val perVertex = trianglesPerVertex(s, dir) // memo-shared with q25
    val degs = entityArcs(s, dir).groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("deg"))
    perVertex.join(degs, Seq("vid"), "left")
      .select(col("vid").as("entity_id"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          round(lit(2.0) * col("triangles") / (col("deg") * (col("deg") - lit(1.0))), 9))
          .otherwise(lit(0.0)).as("lcc"))
      .orderBy("entity_id")
  }

  /** Arc reciprocity of the directed entity graph — the fraction of arcs
    * (u,v) whose reverse (v,u) is also present (Broder et al.'s directed
    * web-graph statistic; 1.0 would mean the graph is effectively
    * undirected). One row: (n_arcs, n_recip, reciprocity).
    */
  def qReciprocity(s: SparkSession, dir: String): DataFrame = {
    val d = directedEntityArcs(s, dir)
    val recip = d.join(
      d.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    d.agg(count(lit(1)).as("n_arcs"))
      .crossJoin(recip.agg(count(lit(1)).as("n_recip")))
      .select(col("n_arcs"), col("n_recip"),
        round(col("n_recip") / col("n_arcs"), 9).as("reciprocity"))
  }

  /** Degree assortativity of the undirected entity graph — Pearson
    * correlation of endpoint degrees over the symmetrized arc set
    * (Newman's r; negative = hubs link to leaves, the usual web shape).
    * Scale shape: two broadcast-able degree joins + one moments aggregate
    * (map-side partial covar/var). Spelled as guarded covar/√(var·var)
    * rather than `corr`: a REGULAR graph (sf0.1's complete entity graph)
    * has zero degree variance, where ANSI-mode corr throws
    * DIVIDE_BY_ZERO — here r is undefined, flagged by `defined` = false
    * with a 0.0 sentinel (not NULL: a NULL double reads back as NaN and
    * NaN ≠ NaN breaks any value-hash comparator downstream).
    */
  def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val arcs = entityArcs(s, dir)
    val degs = arcs.groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
    arcs.select(col("src"), col("dst"))
      .join(degs.select(col("vid").as("src"), col("deg").as("sdeg")), "src")
      .join(degs.select(col("vid").as("dst"), col("deg").as("ddeg")), "dst")
      .agg(covar_pop(col("sdeg").cast("double"), col("ddeg").cast("double")).as("cv"),
        var_pop(col("sdeg").cast("double")).as("vs"),
        var_pop(col("ddeg").cast("double")).as("vd"))
      .select(
        (coalesce(col("vs"), lit(0.0)) > 0 && coalesce(col("vd"), lit(0.0)) > 0)
          .as("defined"),
        round(when(col("vs") > 0 && col("vd") > 0,
          col("cv") / sqrt(col("vs") * col("vd"))).otherwise(lit(0.0)), 9)
          .cast("double").as("assortativity"))
  }

  /** Host-level link-graph rollup — the Common-Crawl page→domain
    * aggregation over the pages input's `url` column: deterministic urls
    * per doc, deterministic doc→doc links (i→i+1, i→2i, i→⌊i/3⌋ where
    * the target doc exists), hosts extracted by the byte-scan
    * [[TextOps.urlHost]] kernel, rolled up to (src_host, dst_host,
    * links). The rollup is one map-side-combinable aggregation — at
    * crawl scale the host graph is ~3 orders smaller than the page
    * graph, which is what makes whole-web link analysis tractable.
    */
  def qHostGraph(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"),
      concat(lit("https://h"), (col("doc_id") % 97).cast("string"),
        lit(".example.org/p/"), col("doc_id").cast("string")).as("url"))
    val links = d.select(col("doc_id").as("src_id"), (col("doc_id") + 1).as("dst_id"))
      .unionAll(d.select(col("doc_id"), col("doc_id") * 2))
      .unionAll(d.select(col("doc_id"), floor(col("doc_id") / 3).cast("long")))
      .where(col("src_id") =!= col("dst_id"))
    links
      .join(d.select(col("doc_id").as("src_id"), col("url").as("src_url")), "src_id")
      .join(d.select(col("doc_id").as("dst_id"), col("url").as("dst_url")), "dst_id")
      .select(TextOps.urlHost(col("src_url")).as("src_host"),
        TextOps.urlHost(col("dst_url")).as("dst_host"))
      .groupBy("src_host", "dst_host").agg(count(lit(1)).as("links"))
      .orderBy("src_host", "dst_host")
  }

  /** Synchronous min-label LPA on the entity graph — rows-only (iterative). */
  def qLpa(s: SparkSession, dir: String): DataFrame = {
    val (labels, _) = LabelProp.run(entityArcs(s, dir), entityVertices(s, dir), maxIter = 10)
    labels.select(col("vid").as("entity_id"), col("label")).orderBy("entity_id")
  }

  // ------------------------------------------------------------ events (F8, windows)

  /** S5 — OpenIE entity stats (avg chars / words per entity mention). */
  def qOpenieStats(s: SparkSession, dir: String): DataFrame =
    graft.sources.CorpusJson.openieStats(chunkEntitiesFrame(s, dir))
      .select(round(col("avg_ent_chars"), 9).as("avg_ent_chars"),
        round(col("avg_ent_words"), 9).as("avg_ent_words"))

  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id")

  def qWindowAgg(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("total"))
      .orderBy("hour", "event_type")

  /** q52 — approximate distinct counting (per-type distinct users) on the
    * in-house register-array HLL kernel ([[graft.functions.SketchOps]],
    * lgK = 12 → ~1.6% standard error): THE cardinality operator of a
    * 100-TB pipeline, where exact count(distinct) is a full shuffle of
    * every key and the sketch is a fixed 4 KB register array per group,
    * map-side combinable. Driver-level tolerance gate (the q46 pattern —
    * sketches have no SQL form): the oracle carries the EXACT counts and
    * pins `est_ok` TRUE; Spark emits TRUE iff the estimate lands within
    * ±5% of exact. At scale only the estimate column would be computed.
    */
  def qDistinctSketch(s: SparkSession, dir: String): DataFrame =
    events(s, dir).groupBy("event_type").agg(
        countDistinct("user_id").as("exact_users"),
        graft.functions.SketchOps.regHllEstimate(
          graft.functions.SketchOps.regHllAgg(col("user_id"), 12)).as("est"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("est") / col("exact_users") - 1.0) <= 0.05).as("est_ok"))
      .orderBy("event_type")

  /** q49 — sessionization (30-minute inactivity gap): the canonical
    * event-stream operator (its streaming twin is a
    * `flatMapGroupsWithState` session window — StreamIngest's shape).
    * One shuffle by user, two window passes: flag gap-starts via lag,
    * running-sum the flags into a per-user session ordinal, then roll up
    * per session. Integer/timestamp arithmetic only — exactly
    * oracle-able.
    */
  def qSessionize(s: SparkSession, dir: String): DataFrame =
    // ts is TIMESTAMP_NTZ; Sessionize casts through timestamp (session tz
    // = UTC) to truncated epoch seconds — the oracle floors epoch() to
    // match. The streaming twin (StreamIngest.sessionizeStream) is
    // spec-pinned equal on closed sessions.
    graft.ops.Sessionize.sessions(events(s, dir), gapSec = 1800L)
      .orderBy("user_id", "session")
}
