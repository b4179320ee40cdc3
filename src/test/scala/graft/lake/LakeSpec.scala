package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Direct unit coverage of the manifest/tombstone snapshot layer (the
  * O(Δ) commit machinery under every store table — round-4 change).
  * Lifecycle-level behavior (bytes-written probe, reopen, end-state
  * equality) lives in LifecycleSpec; this spec pins the layer itself.
  */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(maxEntries: Int = 32): SnapshotTable =
    new SnapshotTable(spark,
      java.nio.file.Files.createTempDirectory("graft_lake").toString,
      maxEntries = maxEntries)

  private def rows(t: SnapshotTable, k: Int = -1): Set[(Long, String)] = {
    val df = if (k < 0) t.read() else t.readAt(k)
    df.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet
  }

  test("append/tombstone fold in order; time travel pins every snapshot") {
    val t = fresh()
    val s1 = t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "init")
    val s2 = t.commitAppend(Seq((3L, "c")).toDF("id", "v"), "append")
    val s3 = t.commitDelta(
      append = Some(Seq((2L, "b2")).toDF("id", "v")),
      deleteKeys = Some(Seq(Tuple1(2L)).toDF("id")),
      keyCols = Seq("id"), op = "replace")
    val s4 = t.commitDelta(None, Some(Seq(Tuple1(1L)).toDF("id")), Seq("id"), "del")
    assert(rows(t, s1) == Set((1L, "a"), (2L, "b")))
    assert(rows(t, s2) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows(t, s3) == Set((1L, "a"), (2L, "b2"), (3L, "c")),
      "tombstone must hit the old row, not the replacement appended after it")
    assert(rows(t, s4) == Set((2L, "b2"), (3L, "c")))
    assert(rows(t) == rows(t, s4))
    // a key deleted and re-appended LATER survives (order sensitivity)
    val s5 = t.commitAppend(Seq((1L, "a2")).toDF("id", "v"), "reappend")
    assert(rows(t, s5) == Set((1L, "a2"), (2L, "b2"), (3L, "c")))
  }

  test("row counts come from write metrics; delta commits record delta counts") {
    val t = fresh()
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "init")
    assert(t.manifest(t.currentSnapshot.get).rows == 2L)
    t.commitAppend(Seq((3L, "c"), (4L, "d")).toDF("id", "v"), "append")
    val m2 = t.manifest(t.currentSnapshot.get)
    assert(m2.rows == 4L && m2.appended == 2L, "append keeps an exact running total")
    t.commitDelta(None, Some(Seq(Tuple1(3L)).toDF("id")), Seq("id"), "del")
    val m3 = t.manifest(t.currentSnapshot.get)
    assert(m3.removedKeys == 1L)
    assert(m3.rows == -1L,
      "a tombstone total would need a scan; the layer records -1 + delta counts instead")
  }

  test("empty delta segments are skipped, not chained") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), "init")
    val n1 = t.manifest(t.currentSnapshot.get).entries.size
    t.commitDelta(
      append = Some(Seq.empty[(Long, String)].toDF("id", "v")),
      deleteKeys = Some(Seq.empty[Tuple1[Long]].toDF("id")),
      keyCols = Seq("id"), op = "noop")
    assert(t.manifest(t.currentSnapshot.get).entries.size == n1,
      "zero-row segments must not grow the entry list")
    assert(rows(t) == Set((1L, "a")))
  }

  test("no-op delta at the entry cap mints NO snapshot (round-5 advice)") {
    // Pre-fix, the maxEntries compaction check ran before the no-op early
    // return: an empty delta against a table at the cap minted a full
    // compaction snapshot of identical data — violating "snapshot ids
    // mean state changed here".
    val t = fresh(maxEntries = 2)
    t.commit(Seq((0L, "x")).toDF("id", "v"), "init")
    t.commitAppend(Seq((1L, "y")).toDF("id", "v"), "a1")
    val atCap = t.currentSnapshot.get
    assert(t.manifest(atCap).entries.size >= 2, "fixture must sit at the cap")
    val got = t.commitDelta(
      append = Some(Seq.empty[(Long, String)].toDF("id", "v")),
      deleteKeys = Some(Seq.empty[Tuple1[Long]].toDF("id")),
      keyCols = Seq("id"), op = "noop")
    assert(got == atCap, "no-op delta must return the unchanged current snapshot")
    assert(t.snapshots.last == atCap && t.manifest(atCap).op == "a1",
      "no compaction snapshot may be minted by a no-op delta")
    assert(rows(t) == Set((0L, "x"), (1L, "y")))
    // ...and a REAL delta at the cap still compacts, reading the delta
    // back from its own just-written segments.
    val s = t.commitDelta(
      append = Some(Seq((2L, "z")).toDF("id", "v")),
      deleteKeys = Some(Seq(Tuple1(0L)).toDF("id")),
      keyCols = Seq("id"), op = "real")
    assert(t.manifest(s).op == "real+compact" && t.manifest(s).entries.size == 1)
    assert(rows(t) == Set((1L, "y"), (2L, "z")))
    // the orphaned delta segments of THIS compaction were dropped (the
    // earlier a1 append's segment stays — snapshot 2's manifest still
    // references it until expireSnapshots runs)
    val segNames = new java.io.File(s"${t.root}/seg").listFiles().map(_.getName).toSet
    assert(!segNames.contains(s"$s-add") && !segNames.contains(s"$s-tomb"),
      s"compaction must GC its own delta segments (left: $segNames)")
  }

  test("pinned reader survives delta + compaction + GC within the retention window") {
    // Round-5 ask #8 (snapshot isolation under maintenance), at the layer
    // where the property lives: pin snapshot N, commit a delta (N+1),
    // compact (N+2), GC keeping 3 markers — readAt(N) and a DataFrame
    // handle obtained BEFORE the maintenance still return N's exact rows,
    // because segment GC never deletes a segment any surviving manifest
    // references.
    val t = fresh()
    t.commit(Seq((0L, "pre")).toDF("id", "v"), "ancient") // will fall out of the window
    val n = t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "rewrite")
    val pinned = t.readAt(n) // lazy handle, evaluated only after GC below
    t.commitDelta(
      append = Some(Seq((3L, "c")).toDF("id", "v")),
      deleteKeys = Some(Seq(Tuple1(1L)).toDF("id")),
      keyCols = Seq("id"), op = "delta")
    t.compact()
    t.expireSnapshots(keepLast = 3)
    assert(!t.snapshots.contains(n - 1) &&
      !new java.io.File(s"${t.root}/seg/${n - 1}-data").exists(),
      "the out-of-window snapshot and its orphaned segment must actually be GC'd")
    assert(rows(t, n) == Set((1L, "a"), (2L, "b")),
      "a pinned snapshot inside the retention window must read its exact old rows")
    assert(pinned.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")),
      "a pre-maintenance DataFrame handle must still evaluate (its segments survive GC)")
    assert(rows(t) == Set((2L, "b"), (3L, "c")))
    // ...while a snapshot OUTSIDE the window fails loudly at manifest load.
    t.commitAppend(Seq((4L, "d")).toDF("id", "v"), "a4")
    t.expireSnapshots(keepLast = 1)
    intercept[IllegalArgumentException](t.readAt(n))
  }

  test("auto-compaction folds history past maxEntries; compact() resets the list") {
    val t = fresh(maxEntries = 4)
    t.commit(Seq((0L, "x")).toDF("id", "v"), "init")
    for (i <- 1 to 6)
      t.commitAppend(Seq((i.toLong, s"v$i")).toDF("id", "v"), s"a$i")
    val m = t.manifest(t.currentSnapshot.get)
    assert(m.entries.size <= 4 + 1,
      s"history must have folded (got ${m.entries.size} entries)")
    assert(m.op.contains("compact") || m.entries.size == 1 ||
      t.snapshots.exists(k => t.manifest(k).op.contains("compact")))
    assert(rows(t) == (0 to 6).map(i => (i.toLong, if (i == 0) "x" else s"v$i")).toSet)
    t.compact()
    val mc = t.manifest(t.currentSnapshot.get)
    assert(mc.entries.size == 1 && mc.rows == 7L)
    assert(rows(t) == (0 to 6).map(i => (i.toLong, if (i == 0) "x" else s"v$i")).toSet)
  }

  test("legacy pre-manifest stores: readable, appendable, and GC never eats their data") {
    // Simulate a store committed by the old layer: data at snap=1/data,
    // marker without an "entries" key.
    val root = java.nio.file.Files.createTempDirectory("graft_legacy").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$root/snap=1/data")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/snap=1/_COMMITTED"),
      """{"snapshot":1,"op":"legacy","rows":2}""".getBytes("UTF-8"))
    val t = new SnapshotTable(spark, root)
    assert(rows(t) == Set((1L, "a"), (2L, "b")), "legacy marker must resolve to snap=1/data")
    // Delta commits extend the legacy manifest...
    t.commitAppend(Seq((3L, "c")).toDF("id", "v"), "append")
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // ...and GC must keep snap=1/data alive while the kept manifest
    // references it (the round-4 review found wholesale snap-dir deletion
    // here — data loss on exactly the upgrade path).
    t.expireSnapshots(keepLast = 1)
    assert(t.snapshots == Seq(2))
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "legacy data referenced by the kept manifest must survive GC")
  }

  test("expireSnapshots drops old markers and unreferenced segments, keeps live data") {
    val t = fresh()
    t.commit(Seq((1L, "a")).toDF("id", "v"), "init")
    t.commit(Seq((2L, "b")).toDF("id", "v"), "rewrite") // orphans snap 1's segment
    t.commitAppend(Seq((3L, "c")).toDF("id", "v"), "append")
    val before = t.snapshots
    assert(before.size == 3)
    t.expireSnapshots(keepLast = 1)
    assert(t.snapshots.size == 1)
    assert(rows(t) == Set((2L, "b"), (3L, "c")), "live data must survive GC")
    // the orphaned snap-1 segment dir is gone
    val segRoot = new java.io.File(s"${t.root}/seg")
    val live = t.manifest(t.currentSnapshot.get).entries.map(_.dir.stripPrefix("seg/")).toSet
    assert(segRoot.listFiles().map(_.getName).toSet == live,
      "only segments referenced by surviving manifests may remain")
  }

  /** A copy of `t` whose manifests record no schemas: every read infers
    * it, as before manifests recorded schemas.
    */
  private def withoutSchemas(t: SnapshotTable): SnapshotTable = {
    import java.nio.file.{Files, Paths}
    import org.json4s.jackson.JsonMethods
    val copy = Files.createTempDirectory("graft_lake_inferred").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(t.root), new java.io.File(copy))
    t.snapshots.foreach { k =>
      val marker = Paths.get(s"$copy/snap=$k/_COMMITTED")
      val json = JsonMethods.parse(new String(Files.readAllBytes(marker), "UTF-8"))
        .removeField(_._1 == "schema")
      Files.write(marker, JsonMethods.compact(json).getBytes("UTF-8"))
      Files.deleteIfExists(Paths.get(s"$copy/snap=$k/._COMMITTED.crc"))
    }
    new SnapshotTable(spark, copy)
  }

  /** A frame's rows as a sorted list of strings, columns by name. */
  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq

  test("manifests record each segment's read schema, and reads match inferred ones") {
    import graft.retrieve.{GraphStore, Indexer}
    val store = new GraphStore(spark,
      java.nio.file.Files.createTempDirectory("graft_store").toString)
    val docs = Seq("Alice visited Paris. Paris hosts Louvre.",
      "Bob founded Acme. Acme acquired Paris Office.",
      "Carol cites Alice. Carol visited Acme.")
    val extra = Seq("Eve mentions Montebello. Montebello links Paris.")
    Indexer.index(store, docs.toDF("content"))
    Indexer.index(store, extra.toDF("content"))
    Indexer.delete(store, extra.toDF("content"))
    def check(stage: String): Unit = {
      assert(store.tables.size == 10)
      store.tables.foreach { t =>
        val entries = t.snapshots.flatMap(t.manifest(_).entries).distinct
        entries.foreach { e =>
          val seg = s"${t.root}/${e.dir}"
          assert(e.schema.contains(spark.read.parquet(seg).schema), s"$stage: $seg")
        }
        val inferred = withoutSchemas(t)
        assert(inferred.manifest(inferred.currentSnapshot.get).entries.forall(_.schema.isEmpty))
        assert(sortedRows(t.read()) == sortedRows(inferred.read()), s"$stage: ${t.root}")
      }
    }
    check("after index and delete")
    store.tables.foreach(_.compact())
    check("after compaction")
  }

  test("a manifest entry without a recorded schema still reads") {
    // Today's manifest format, written by hand, with no "schema" field.
    val root = java.nio.file.Files.createTempDirectory("graft_noschema").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$root/seg/1-data")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/snap=1"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/snap=1/_COMMITTED"),
      ("""{"snapshot":1,"op":"init","rows":2,"appended":2,"removed_keys":0,""" +
        """"entries":[{"dir":"seg/1-data","kind":"data","keys":[]}]}""").getBytes("UTF-8"))
    val t = new SnapshotTable(spark, root)
    assert(t.manifest(1).entries.map(_.schema) == Seq(None))
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
    t.commitDelta(Some(Seq((3L, "c")).toDF("id", "v")), Some(Seq(1L).toDF("id")),
      Seq("id"), "delta")
    assert(t.manifest(2).entries.map(_.schema.isDefined) == Seq(false, true, true))
    assert(rows(t) == Set((2L, "b"), (3L, "c")))
  }
}
