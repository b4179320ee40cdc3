package graft.retrieve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.extract.Extract
import graft.graph.GraphBuild

/** Index / delete lifecycle (reference HippoRAG.index/delete,
  * src/hipporag/HippoRAG.py:262-335 and 337-411).
  *
  * Incremental contract (I1/I2/I3, SURVEY.md §2.8):
  *
  *  - extraction and embedding run ONLY for chunks/ids not yet in the
  *    store (left-anti by content hash) — I1;
  *  - the derived edge tables are maintained as DELTAS per family (I2):
  *    fact-edge counts are distributive over disjoint chunk sets, passage
  *    edges are disjoint by chunk, and synonymy merges the stored top-cap
  *    lists with the two delta KNNs (new-as-query × all, old-as-query ×
  *    new keys — the reference's delta intent, HippoRAG.py:985) and
  *    re-caps — giving the IDENTICAL end state as a from-scratch rebuild
  *    at O(Δ·E) instead of O(E²) work;
  *  - delete removes chunks and re-derives from scratch: entities/facts
  *    referenced by no surviving chunk disappear, shared ones survive —
  *    the reference's refcount semantics (HippoRAG.py:372-396) as a
  *    consequence of derivation instead of bookkeeping — I3.
  */
object Indexer {

  // Phase laps to stderr when GRAFT_INDEX_LAPS=1 (perf forensics only).
  private val laps = sys.env.get("GRAFT_INDEX_LAPS").contains("1")
  private def lap[A](label: String)(f: => A): A =
    if (!laps) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[indexer] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

  case class SynonymyConfig(
      topK: Int = 2047,          // config_utils.py:160-163
      threshold: Double = 0.8,   // config_utils.py:172-175
      cap: Int = 101,            // HippoRAG.py:1007: breaks when num_nns > 100
      // Above this many valid entities the exact KNN (broadcast of ALL
      // entity embeddings + O(E²) dot products) stops being sane; the
      // synonymy expansion switches to the bucketed LSH candidate join
      // (graft.ops.Ann.lshTopKJoin) — approximate by design, same τ/cap
      // semantics on the candidates it finds. The approximation is
      // MEASURED, not assumed: OpsSpec's recall probe pins ≥0.95 recall
      // of τ=0.8 pairs at these tables/planes settings on clustered
      // near-synonym-shaped vectors.
      exactMaxEntities: Long = 65536L,
      // Floor for the plane count — the actual count scales with the
      // entity-table size ([[graft.ops.Ann.planesFor]]) so buckets keep a
      // bounded expected size as the corpus grows.
      lshPlanes: Int = 12,
      lshTables: Int = 6,
      // Hard bound on (table, bucket) group size in the LSH candidate
      // join: ONE degenerate hot bucket (near-zero vectors, boilerplate
      // phrases) otherwise turns the self-join quadratic at web scale.
      // Trades recall inside dropped buckets for a maxBucket·|rows| bound
      // on candidate rows.
      lshMaxBucket: Int = 1024)

  case class IndexStats(totalChunks: Long, entities: Long, edges: Long, vertices: Long)

  /** A synonymy-family delta: `changed` = the re-derived capped lists for
    * the queries whose lists moved, `changedSrcs` = those query ids (the
    * tombstone key set — includes dead queries, which contribute no
    * `changed` rows), `kept` = the stored rows that pass through
    * verbatim. `full` (= kept ∪ changed) is the complete end state — what
    * the pre-delta code committed wholesale; the store now writes only
    * `changed` + a `changedSrcs` tombstone. Both are pinned
    * ([[pinDelta]]); `kept` stays lazy.
    */
  private[retrieve] case class SynDelta(changed: DataFrame, changedSrcs: DataFrame,
                                        kept: DataFrame) {
    def full: DataFrame = kept.unionByName(changed)
  }

  /** Pin a Δ-sized frame of an incremental commit: one job materializes it
    * as a leaf, before any commit reads it.
    *
    * The rule, for the incremental index and delete paths only: every
    * Δ-sized intermediate that more than one action reads — the new
    * chunks and triples, the new or dead entity ids, the victim triples,
    * the synonymy delta's τ-accepted candidates, `changed` and
    * `changedSrcs`, and the merged view's changed keys — is pinned once.
    * A lazy one is re-derived by every consumer, from a full-corpus plan:
    * the new-chunk anti-join re-hashed the corpus per action, the
    * synonymy KNN ran up to four times per commit, and one commit's
    * physical plan reached millions of characters, which the driver
    * re-formats at every SQL execution (IndexerJobsSpec bounds both). A
    * frame bound to a segment list from before a commit keeps those rows
    * once pinned.
    *
    * `localCheckpoint` keeps the measured statistics of the pinned rows
    * (unlike [[graft.algo.Fixpoint.pin]]): the frames are small, and the
    * statistics let the planner broadcast them. The rebuild path pins
    * nothing: its frames are corpus-sized and read once.
    */
  private def pinDelta(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** @param docs one row per document with a `content` string column; an
    *             optional `metadata` map<string,string> column is carried
    *             through to the chunk store (S7, HippoRAG.py:193-201).
    * @param extractor chunks → (chunk_id, subj, pred, obj); defaults to the
    *                  sentence extractor (pages corpus).
    */
  def index(
      store: GraphStore,
      docs: DataFrame,
      extractor: DataFrame => DataFrame = Extract.sentenceTriples,
      syn: SynonymyConfig = SynonymyConfig()): IndexStats = {

    val withMeta =
      if (docs.columns.contains("metadata")) docs
      else docs.withColumn("metadata",
        map().cast(org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)))
    val incoming = Extract.chunks(withMeta, "content", Seq("metadata"))
      .select("chunk_id", "content", "metadata")
      .dropDuplicates("chunk_id")
    val existing = store.currentChunks
    val hadChunks = !store.chunks.isEmpty
    val newChunks0 = incoming.join(existing.select("chunk_id"), Seq("chunk_id"), "left_anti")
    // Incremental path: pin the delta-sized new-chunk set ([[pinDelta]]).
    // A fresh store keeps it lazy: its "delta" is the whole corpus, and
    // the rebuild path reads the committed snapshot instead.
    val newChunks = if (hadChunks) pinDelta(newChunks0) else newChunks0
    // O(Δ) I/O: only the new chunks hit disk (append segment). The one
    // full rewrite left: upgrading a pre-metadata store's schema in place
    // (appending 3-col segments onto a 2-col snapshot would null-pad the
    // old rows instead of empty-map-padding them).
    val schemaUpgrade = hadChunks &&
      !store.chunks.read().columns.contains("metadata")
    if (!hadChunks || schemaUpgrade)
      lap("chunks full commit")(store.chunks.commit(existing.unionByName(newChunks), "index"))
    else lap("chunks append")(store.chunks.commitAppend(newChunks, "index"))

    // I1: extract only for new chunks; keep prior triples verbatim
    // (append segment — chunk ids are content hashes, disjoint from the
    // stored set by the anti-join above).
    val newTriples0 = extractor(newChunks)
    val newTriples = if (hadChunks) pinDelta(newTriples0) else newTriples0
    if (store.triples.isEmpty)
      lap("triples full commit")(store.triples.commit(newTriples, "index"))
    else lap("triples append")(store.triples.commitAppend(newTriples, "index"))

    // I2: delta maintenance needs the per-family edge tables from a prior
    // commit; a fresh (or pre-family-format) store derives from scratch.
    if (hadChunks && !store.factEdges.isEmpty)
      incrementalRebuild(store, newChunks, newTriples, syn)
    else rebuild(store, syn)
  }

  /** Delete by document content (reference delete, HippoRAG.py:337-411).
    *
    * I3, O(Δ): when the store has per-family edge tables, the derived
    * state absorbs the victims as DELTAS — fact-edge weights are
    * SUBTRACTED (counts are distributive over disjoint chunk sets),
    * victim passage edges dropped by key, and synonymy re-runs the KNN
    * only for queries whose capped list lost a (now-dead) neighbor
    * ([[deltaSynonymyDelete]]). No re-extraction, no corpus-wide KNN —
    * the end state equals a from-scratch rebuild (tested), at
    * O(victims + affected·E) instead of O(corpus + E²).
    */
  def delete(store: GraphStore, docs: DataFrame, syn: SynonymyConfig = SynonymyConfig()): IndexStats = {
    val victims = Extract.chunks(docs, "content", Seq.empty).select("chunk_id")
    val hadFamilies = !store.chunks.isEmpty && !store.factEdges.isEmpty
    if (hadFamilies) {
      // The victim triples drive the edge-weight subtraction. Pinned
      // before the tombstone commits below, so they hold the PRE-delete
      // rows.
      val victimTriples = pinDelta(
        store.currentTriples.join(victims, Seq("chunk_id"), "left_semi"))
      // O(Δ) I/O: victims become tombstone segments keyed by chunk_id;
      // surviving rows are never rewritten.
      store.chunks.commitDelta(None, Some(victims), Seq("chunk_id"), "delete")
      store.triples.commitDelta(None, Some(victims), Seq("chunk_id"), "delete")
      incrementalDelete(store, victims, victimTriples, syn)
    } else {
      val remaining = store.currentChunks.join(victims, Seq("chunk_id"), "left_anti")
      store.chunks.commit(remaining, "delete")
      val keptTriples = store.currentTriples
        .join(store.chunks.read().select("chunk_id"), Seq("chunk_id"), "left_semi")
      store.triples.commit(keptTriples, "delete")
      rebuild(store, syn)
    }
  }

  /** I3 delta — the inverse of [[incrementalRebuild]]. Every commit here
    * is a [[graft.lake.SnapshotTable.commitDelta]]: bytes written scale
    * with the victims and the re-derived lists, never with the corpus
    * (round-3 verdict #1 — the deltas were O(Δ) in compute but each
    * commit still rewrote seven corpus-sized tables).
    */
  private def incrementalDelete(store: GraphStore, victimChunkIds: DataFrame,
                                victimTriples: DataFrame,
                                syn: SynonymyConfig): IndexStats = {
    val chunksNow = store.chunks.read()
    val triplesNow = store.triples.read()
    val ents = Extract.entities(Extract.chunkEntities(triplesNow))

    // Dead = embedded before, unreferenced by any surviving chunk:
    // pinned from the pre-retain embedding segments.
    val deadIds = pinDelta(store.entityEmb.readOrEmpty(store.embSchema).select("hash_id")
      .join(ents.select(col("entity_id").as("hash_id")), Seq("hash_id"), "left_anti"))

    val entityE = syncEmbeddings(store, chunksNow, ents, triplesNow, retain = true)

    // Fact edges: subtract the victim chunks' counts — ONLY the touched
    // (src, dst) pairs are tombstoned + rewritten; a pair whose weight
    // hits zero had ALL its support in victim chunks and disappears (no
    // replacement row).
    val victimFact = GraphBuild.factEdges(victimTriples)
      .select(col("src"), col("dst"), col("weight").as("vw"))
    val factStored = store.factEdges.read()
    val factChangedKeys = victimFact.select("src", "dst")
    val factUpdated = factStored.join(victimFact, Seq("src", "dst"))
      .select(col("src"), col("dst"),
        (col("weight") - col("vw")).as("weight"), col("etype"))
      .where(col("weight") > 0)
    store.factEdges.commitDelta(Some(factUpdated), Some(factChangedKeys),
      Seq("src", "dst"), "delete-delta")

    // Passage edges: keyed by victim chunk — one tombstone on src. A
    // surviving chunk cannot point at a dead entity (its entities are, by
    // definition, still referenced).
    val passStored = store.passageEdges.read()
    val passDroppedKeys = passStored
      .join(victimChunkIds.select(col("chunk_id").as("src")), Seq("src"), "left_semi")
      .select("src", "dst")
    store.passageEdges.commitDelta(None,
      Some(victimChunkIds.select(col("chunk_id").as("src"))), Seq("src"), "delete-delta")

    // Synonymy: dead + affected queries' lists replaced, rest untouched.
    val storedSyn = store.synEdges.read()
    val sd = deltaSynonymyDelete(storedSyn, entityE, deadIds, syn)
    store.synEdges.commitDelta(Some(sd.changed), Some(sd.changedSrcs),
      Seq("src"), "delete-delta")

    // Merged edges: exactly the keys some family delta touched.
    val synOldPairs = storedSyn
      .join(sd.changedSrcs, Seq("src"), "left_semi").select("src", "dst")
    val changedKeys = pinDelta(factChangedKeys.unionAll(passDroppedKeys)
      .unionAll(synOldPairs).unionAll(sd.changed.select("src", "dst"))
      .distinct())
    commitMergedDelta(store, changedKeys, "delete-delta")

    // Vertices: dead entities + victim chunks disappear, nothing appears.
    val removedVerts = deadIds.select(col("hash_id").as("key"))
      .unionAll(victimChunkIds.select(col("chunk_id").as("key")))
    store.vertices.commitDelta(None, Some(removedVerts), Seq("key"), "delete-delta")

    stats(store, ents, chunksNow)
  }

  /** Re-derive graph + embedding stores from the current chunk/triple set. */
  private def rebuild(store: GraphStore, syn: SynonymyConfig): IndexStats = {
    val chunksNow = store.chunks.read()
    val triplesNow = store.triples.read()
    val chunkEnts = Extract.chunkEntities(triplesNow)
    val ents = Extract.entities(chunkEnts)

    // Overlap the independent write jobs (guide 2.6): the three
    // embedding-store syncs, the fact/passage edge commits and the
    // vertex commit share no tables — Spark's FIFO scheduler backfills
    // one commit's task tail with the next one's tasks. Only synonymy
    // (needs the synced entity embeddings) and the merged edge view
    // (needs all three families) are ordered after.
    val entityE = concurrently(store,
      () => syncEmbeddings(store, chunksNow, ents, triplesNow, retain = true),
      () => store.factEdges.commit(GraphBuild.factEdges(triplesNow), "rebuild"),
      () => store.passageEdges.commit(GraphBuild.passageEdges(chunkEnts), "rebuild"),
      () => store.vertices.commit(GraphBuild.vertices(ents, chunksNow), "merge")
    ).head.asInstanceOf[DataFrame]
    store.synEdges.commit(synonymyEdges(entityE, syn), "rebuild")
    val allEdges = GraphBuild.edges(
      store.factEdges.read(), store.passageEdges.read(), store.synEdges.read())
    store.edges.commit(allEdges, "merge")
    stats(store, ents, chunksNow)
  }

  /** I2 — delta rebuild: only the `newChunkIds` chunks contribute new
    * extraction/embedding/edge work; stored families absorb the deltas.
    * O(Δ) in I/O too: fact pairs touched by the new chunks are tombstoned
    * + rewritten, passage rows append (disjoint by new chunk), synonymy
    * rewrites only the queries that gained a τ-accepted candidate.
    */
  /** @param newChunks  this batch's chunk rows (chunk_id, content, …),
    *                    PINNED by index() — delta-sized
    * @param newTriples this batch's extraction output, PINNED by index()
    *                   (== the rows just appended to the triples table)
    */
  private def incrementalRebuild(store: GraphStore, newChunks: DataFrame,
                                 newTriples: DataFrame,
                                 syn: SynonymyConfig): IndexStats = {
    val chunksNow = store.chunks.read()
    val newChunkIds = newChunks.select("chunk_id")
    val chunkEntsNew = Extract.chunkEntities(newTriples)
    // O(Δ) COMPUTE, not just I/O (round 5): entities/facts/chunk rows are
    // derived from the NEW batch's pinned frames only — never from a
    // stored-table semi-join (a full-corpus scan per referencing action).
    // Sound because every prior commit synced the embedding store for
    // every id it introduced (index: full or delta sync; delete: retain +
    // full sync) — an id missing from the store can only come from the
    // new batch, so upsert candidates from the delta find exactly the
    // same missing set the full derivation did. Before this, a +1% batch
    // paid full-corpus distinct+hash passes per family and benched SLOWER
    // than a from-scratch rebuild.
    val entsNew = Extract.entities(chunkEntsNew)
    val newChunkRows = newChunks

    // Which entity ids are NEW this batch: pinned before the embedding
    // upsert commits them.
    val newEntityIds = pinDelta(entsNew.select(col("entity_id").as("hash_id"))
      .join(store.entityEmb.readOrEmpty(store.embSchema).select("hash_id"),
        Seq("hash_id"), "left_anti"))
    val entityE = lap("delta syncEmbeddings")(
      syncEmbeddings(store, newChunkRows, entsNew, newTriples, retain = false))

    // Fact edges: counts over chunk-distinct triples are distributive
    // over the disjoint old/new chunk sets — ONLY the pairs present in
    // the new chunks change; merge their stored weight with the delta.
    val newFact = GraphBuild.factEdges(newTriples)
    val factChangedKeys = newFact.select("src", "dst")
    val factUpdated = store.factEdges.read()
      .join(factChangedKeys, Seq("src", "dst"), "left_semi")
      .unionByName(newFact)
      .groupBy("src", "dst").agg(sum("weight").as("weight"))
      .withColumn("etype", lit(GraphBuild.Fact))
    lap("delta factEdges commit")(
      store.factEdges.commitDelta(Some(factUpdated), Some(factChangedKeys),
        Seq("src", "dst"), "index-delta"))

    // Passage edges: (chunk → entity) rows are disjoint by (new) chunk —
    // a pure append segment.
    val passNew = GraphBuild.passageEdges(chunkEntsNew)
    lap("delta passageEdges append")(
      store.passageEdges.commitAppend(passNew, "index-delta"))

    // Synonymy: stored top-cap lists ∪ delta KNNs, re-capped — but only
    // the CHANGED queries' lists hit disk. Gated on the NEW-ENTITY count:
    // a batch that introduces no new entity phrase cannot move any capped
    // list (both delta KNNs are new-keyed), so the whole family — two
    // KNN-plan write jobs — is skipped, not run-to-empty (the common
    // steady-state ingest case: new documents, known vocabulary).
    val storedSyn = store.synEdges.read()
    val nNewEntities = newEntityIds.count()
    val synDeltaFrames: Option[SynDelta] =
      if (nNewEntities == 0L) None
      else Some(lap("deltaSynonymy")(
        deltaSynonymy(storedSyn, entityE, newEntityIds, syn)))
    synDeltaFrames.foreach { sd =>
      lap("delta synEdges commit")(
        store.synEdges.commitDelta(Some(sd.changed), Some(sd.changedSrcs),
          Seq("src"), "index-delta"))
    }

    // Merged edges: exactly the keys some family delta touched.
    val synKeyParts = synDeltaFrames.map { sd =>
      storedSyn.join(sd.changedSrcs, Seq("src"), "left_semi").select("src", "dst")
        .unionAll(sd.changed.select("src", "dst"))
    }
    val changedKeys = lap("changedKeys")(pinDelta(synKeyParts
      .foldLeft(factChangedKeys.unionAll(passNew.select("src", "dst")))(_ unionAll _)
      .distinct()))
    lap("commitMergedDelta")(commitMergedDelta(store, changedKeys, "index-delta"))

    // Vertices: new entities + new chunks append (keys are content
    // hashes — new by construction, so no dedup pass is needed).
    val newVerts = GraphBuild.vertices(
      entsNew.join(newEntityIds.select(col("hash_id").as("entity_id")),
        Seq("entity_id"), "left_semi"),
      newChunkRows)
    lap("delta vertices append")(store.vertices.commitAppend(newVerts, "index-delta"))

    // Entity total from the post-sync embedding store (== the distinct
    // entity set — the sync invariant above), not a full re-extraction;
    // manifest-exact counts where the lineage kept them.
    lap("delta stats")(IndexStats(
      totalChunks = tableRows(store.chunks),
      entities = tableRows(store.entityEmb),
      edges = tableRows(store.edges),
      vertices = tableRows(store.vertices)))
  }

  /** Embedding-store sync shared by both rebuild paths: upsert missing
    * ids (I1); `retain` additionally drops dead ids (delete path, I3).
    * The frames are CANDIDATE sources, not necessarily full tables: the
    * incremental path passes the new batch's chunks/entities/triples only
    * (every possibly-missing id lives there — see incrementalRebuild);
    * retain=true callers must pass the full live tables, since retention
    * tombstones everything outside them.
    * @return the post-sync entity embedding table
    */
  private def syncEmbeddings(store: GraphStore, chunksNow: DataFrame,
                             ents: DataFrame, triplesNow: DataFrame,
                             retain: Boolean): DataFrame = {
    val facts = Extract.facts(triplesNow)
    val chunkRows = chunksNow.select(col("chunk_id").as("hash_id"), col("content"))
    val entRows = ents.select(col("entity_id").as("hash_id"), col("entity").as("content"))
    val factRows = facts.select(col("fact_id").as("hash_id"),
      Extract.factContent(col("subj"), col("pred"), col("obj")).as("content"))
    // The three per-table retain→upsert chains touch disjoint tables —
    // overlap them (guide 2.6); the entity chain's result is returned.
    def sync(table: graft.lake.SnapshotTable, rows: DataFrame,
             embed: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = () => {
      if (retain) store.retainEmbeddings(table, rows.select("hash_id"))
      store.upsertEmbeddings(table, rows, embed)
    }
    concurrently(store,
      sync(store.chunkEmb, chunkRows, store.embedChunk),
      sync(store.entityEmb, entRows, store.embedEntity),
      sync(store.factEmb, factRows, store.embedFact))(1)
  }

  /** Run independent commits on their own threads; results in argument
    * order. On the first failure the sibling commits' Spark jobs are
    * cancelled through a job tag, and the siblings are waited for before
    * the failure is rethrown, so no commit is still in flight when the
    * caller sees it.
    */
  private def concurrently[A](store: GraphStore, commits: (() => A)*): Seq[A] = {
    import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors,
      TimeUnit}
    val sc = store.spark.sparkContext
    val tag = s"graft-indexer-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(commits.size)
    val done = new ExecutorCompletionService[A](pool)
    val futures = commits.map(c => done.submit(() => {
      sc.addJobTag(tag)
      try c() finally sc.removeJobTag(tag)
    }))
    try {
      commits.foreach(_ => done.take().get())
      futures.map(_.get())
    } catch {
      case e: ExecutionException =>
        // No thread interrupts: an interrupted wait returns while its job
        // runs on. Cancel until every sibling has returned, since one may
        // submit its next job after a cancel.
        pool.shutdown()
        do sc.cancelJobsWithTag(tag)
        while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
        throw e.getCause
    } finally pool.shutdown()
  }

  private def commitMerged(store: GraphStore, ents: DataFrame,
                           chunksNow: DataFrame): IndexStats = {
    val allEdges = GraphBuild.edges(
      store.factEdges.read(), store.passageEdges.read(), store.synEdges.read())
    store.edges.commit(allEdges, "merge")
    val verts = GraphBuild.vertices(ents, chunksNow)
    store.vertices.commit(verts, "merge")
    stats(store, ents, chunksNow)
  }

  /** Delta-maintain the merged A3 edge view: re-run the last-writer-wins
    * merge for EXACTLY the `(src, dst)` keys some family delta touched
    * (each family's input is key-restricted first, so the merge groupBy
    * is Δ-sized), tombstone those keys, append the re-merged rows. Keys
    * whose rows vanished from every family get a tombstone and no
    * replacement — they disappear, as in a full re-merge.
    */
  private def commitMergedDelta(store: GraphStore, changedKeys: DataFrame,
                                op: String): Unit = {
    def restrict(df: DataFrame) =
      df.join(changedKeys, Seq("src", "dst"), "left_semi")
    val merged = GraphBuild.edges(
      restrict(store.factEdges.read()),
      restrict(store.passageEdges.read()),
      restrict(store.synEdges.read()))
    store.edges.commitDelta(Some(merged), Some(changedKeys), Seq("src", "dst"), op)
  }

  /** Row count of a table's CURRENT snapshot from its manifest when the
    * lineage kept it exact (full commits and pure appends), falling back
    * to a scan only after tombstone deltas (rows == -1, "unknown without
    * a scan"). The old stats() always re-scanned four tables — four jobs
    * per index() whose answers the commit lineage already held.
    */
  private def tableRows(t: graft.lake.SnapshotTable): Long =
    t.currentSnapshot.map(t.manifest(_)).map(m =>
      if (m.rows >= 0L) m.rows else t.read().count()).getOrElse(0L)

  private def stats(store: GraphStore, ents: DataFrame,
                    chunksNow: DataFrame): IndexStats =
    IndexStats(
      totalChunks = tableRows(store.chunks),
      // == the distinct entity set: every index/delete path syncs the
      // entity embedding store for exactly the live entities (the
      // syncEmbeddings invariant incrementalRebuild already relies on).
      entities = tableRows(store.entityEmb),
      edges = tableRows(store.edges),
      vertices = tableRows(store.vertices))

  /** G3 — synonymy expansion (reference add_synonymy_edges,
    * HippoRAG.py:959-1020): cosine KNN over entity embeddings; queries
    * restricted to phrases with >2 alphanumeric chars (P3); neighbors kept
    * while score ≥ τ, skipping self and empty phrases, stopping after
    * `cap` accepted; weight = cosine score; ONE direction per (query, nn)
    * (dict assignment — symmetrization happens at algorithm time).
    */
  def synonymyEdges(entityEmb: DataFrame, syn: SynonymyConfig): DataFrame = {
    require(syn.cap <= syn.topK,
      s"synonymy cap (${syn.cap}) must be <= KNN topK (${syn.topK}): the " +
      "cap is taken over the per-query topK candidate list")
    val queries = validQueries(entityEmb)
    val keys = validKeys(entityEmb)
    // Exact brute-force KNN broadcasts ALL query embeddings — O(E·dim)
    // memory, O(E²) dots. Correct and fastest below the gate; above it,
    // the LSH candidate join keeps the job linear-ish in E: planes scale
    // with log₂(E) (bounded expected bucket size) and hot buckets are
    // dropped at lshMaxBucket (bounded worst-case candidate rows).
    val nQ = queries.count()
    val knn =
      if (nQ <= syn.exactMaxEntities)
        Knn.topK(queries, keys, syn.topK, excludeSelf = true)
      else
        graft.ops.Ann.lshTopKJoin(queries, keys, syn.topK,
          nPlanes = graft.ops.Ann.planesFor(nQ, syn.lshPlanes),
          dim = graft.extract.Embeddings.Dim,
          tables = syn.lshTables, excludeSelf = true,
          maxBucket = syn.lshMaxBucket)
    capAccepted(knn.where(col("score") >= syn.threshold), syn)
  }

  /** I2 synonymy delta. In the EXACT regime (≤ exactMaxEntities) the end
    * state is IDENTICAL to a full KNN rebuild:
    *
    *  - NEW queries score against ALL keys (the reference's "find the KNN
    *    for the new nodes", HippoRAG.py:985);
    *  - OLD queries score against the NEW keys only — merged with their
    *    stored top-cap lists this reproduces the full top-cap exactly,
    *    because anything the full rebuild would keep is either already in
    *    the stored cap list or involves a new key.
    *
    * Above the gate the new-query side routes through the SAME LSH
    * candidate join as [[synonymyEdges]] (same tables/planes rule), and
    * the old×new side stays exact (the Δ key side is small — O(|old|·|Δ|)
    * dots with the Δ side broadcast). Because exact scoring of candidates
    * only ever ADDS true τ-accepted pairs, the delta end state is a
    * recall-SUPERSET of a from-scratch LSH rebuild — identical up to
    * pairs the rebuild's bucketing would have missed; bitwise identity is
    * only guaranteed in the exact regime.
    */
  private[retrieve] def deltaSynonymy(storedSyn: DataFrame, entityEmb: DataFrame,
                                      newEntityIds: DataFrame,
                                      syn: SynonymyConfig): SynDelta = {
    require(syn.cap <= syn.topK,
      s"synonymy cap (${syn.cap}) must be <= KNN topK (${syn.topK})")
    val queries = validQueries(entityEmb)
    val keys = validKeys(entityEmb)
    val newQueries = queries.join(newEntityIds.select(col("hash_id").as("qid")), Seq("qid"), "left_semi")
    val oldQueries = queries.join(newEntityIds.select(col("hash_id").as("qid")), Seq("qid"), "left_anti")
    val newKeys = keys.join(newEntityIds.select(col("hash_id").as("kid")), Seq("kid"), "left_semi")

    val nQ = queries.count()
    val newVsAll =
      (if (nQ <= syn.exactMaxEntities)
         Knn.topK(newQueries, keys, syn.topK, excludeSelf = true)
       else
         graft.ops.Ann.lshTopKJoin(newQueries, keys, syn.topK,
           nPlanes = graft.ops.Ann.planesFor(nQ, syn.lshPlanes),
           dim = graft.extract.Embeddings.Dim,
           tables = syn.lshTables, excludeSelf = true,
           maxBucket = syn.lshMaxBucket))
        .where(col("score") >= syn.threshold)
    // keys side is the small (Δ) side → broadcast it, scan the queries
    val oldVsNew = Knn.topK(oldQueries, newKeys, syn.topK, excludeSelf = true,
        broadcastKeys = true)
      .where(col("score") >= syn.threshold)

    // Only queries that gained a τ-accepted candidate can change: for any
    // other query, re-capping its stored list is the identity (the list
    // was produced by the same cap). Split accordingly so the store
    // writes O(changed), not O(all lists). The candidates are pinned, so
    // the KNN runs once for both outputs.
    val accepted = pinDelta(newVsAll.select("qid", "kid", "score")
      .unionByName(oldVsNew.select("qid", "kid", "score")))
    val changedQids = accepted.select("qid").distinct()
    val changedMerged = storedSyn
      .select(col("src").as("qid"), col("dst").as("kid"), col("weight").as("score"))
      .join(changedQids, Seq("qid"), "left_semi")
      .unionByName(accepted)
      .dropDuplicates("qid", "kid")
    val kept = storedSyn
      .join(changedQids.select(col("qid").as("src")), Seq("src"), "left_anti")
    SynDelta(pinDelta(capAccepted(changedMerged, syn)),
      pinDelta(changedQids.select(col("qid").as("src"))), kept)
  }

  /** I3 synonymy delta for delete. A stored capped list stays EXACTLY the
    * full-rebuild answer unless it loses an entry: it was the top-cap over
    * a SUPERSET of the surviving keys, so with no dead neighbor it is
    * still the top-cap. Hence:
    *
    *  - dead queries: dropped;
    *  - queries whose list contains a dead neighbor ("affected"): losing a
    *    capped entry can admit a neighbor that was previously cut at the
    *    cap, which the stored list does not hold — ONLY these re-run the
    *    KNN against the surviving keys (O(affected · E));
    *  - every other query keeps its stored list verbatim.
    *
    * Same exact/LSH gate as [[synonymyEdges]]; identity with a
    * from-scratch rebuild holds in the exact regime (tested), and the LSH
    * regime keeps the recall-superset property of [[deltaSynonymy]].
    */
  private[retrieve] def deltaSynonymyDelete(storedSyn: DataFrame, entityEmb: DataFrame,
                                            deadIds: DataFrame,
                                            syn: SynonymyConfig): SynDelta = {
    require(syn.cap <= syn.topK,
      s"synonymy cap (${syn.cap}) must be <= KNN topK (${syn.topK})")
    val queries = validQueries(entityEmb) // post-retain: surviving entities only
    val keys = validKeys(entityEmb)
    val affected = storedSyn
      .join(deadIds.select(col("hash_id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src").as("qid")).distinct()
      .join(deadIds.select(col("hash_id").as("qid")), Seq("qid"), "left_anti")
    val affectedQueries = queries.join(affected, Seq("qid"), "left_semi")

    val nQ = queries.count()
    val reKnn =
      (if (nQ <= syn.exactMaxEntities)
         Knn.topK(affectedQueries, keys, syn.topK, excludeSelf = true)
       else
         graft.ops.Ann.lshTopKJoin(affectedQueries, keys, syn.topK,
           nPlanes = graft.ops.Ann.planesFor(nQ, syn.lshPlanes),
           dim = graft.extract.Embeddings.Dim,
           tables = syn.lshTables, excludeSelf = true,
           maxBucket = syn.lshMaxBucket))
        .where(col("score") >= syn.threshold)

    // Tombstone set = dead queries (rows vanish) ∪ affected queries
    // (rows replaced by the re-KNN'd capped list); everything else is
    // `kept` and never touches disk.
    val changedSrcs = deadIds.select(col("hash_id").as("src"))
      .unionAll(affected.select(col("qid").as("src"))).distinct()
    val kept = storedSyn.join(changedSrcs, Seq("src"), "left_anti")
    SynDelta(pinDelta(capAccepted(reKnn.select("qid", "kid", "score"), syn)),
      pinDelta(changedSrcs), kept)
  }

  /** τ-accepted candidates → per-query cap in (score desc, kid asc) order
    * (the reference's insertion-order break at equal scores is set-order
    * nondeterministic; ours is pinned — documented divergence).
    */
  private def capAccepted(accepted: DataFrame, syn: SynonymyConfig): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("kid").asc)
    accepted.withColumn("nn_rank", row_number().over(w))
      .where(col("nn_rank") <= syn.cap)
      .select(col("qid").as("src"), col("kid").as("dst"),
        col("score").as("weight"), lit(GraphBuild.Synonym).as("etype"))
  }

  private def validQueries(entityEmb: DataFrame): DataFrame =
    entityEmb
      .where(length(regexp_replace(col("content"), "[^A-Za-z0-9]", "")) > 2)
      .select(col("hash_id").as("qid"), col("embedding").as("qvec"))

  private def validKeys(entityEmb: DataFrame): DataFrame =
    entityEmb.where(col("content") =!= "")
      .select(col("hash_id").as("kid"), col("embedding").as("kvec"))
}
