package graft.operators

import graft.SparkSpec

class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  /** Stage directories left under a store's `_staging/`. */
  private def stages(dir: String): Seq[String] =
    Option(new java.io.File(dir, "_staging").listFiles())
      .toSeq.flatten.map(_.getName)

  private def hfs = org.apache.hadoop.fs.FileSystem.getLocal(
    spark.sparkContext.hadoopConfiguration)

  private def recordOf(vDir: String): Snapshots.VersionRecord =
    Snapshots.VersionDir.of(hfs, new org.apache.hadoop.fs.Path(vDir)).record

  test("commit publishes atomically: versions are immutable, reads " +
    "resolve the pointer, an unpublished directory is invisible") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-snap").toString + "/t"
    assert(Snapshots.latestVersion(spark, dir) == 0L)
    val v1 = Snapshots.commit(spark,
      Seq((1, "a"), (2, "b")).toDF("id", "s"), dir)
    val v2 = Snapshots.commit(spark,
      Seq((1, "a2"), (3, "c")).toDF("id", "s"), dir)
    assert(v1 == 1L && v2 == 2L)
    assert(Snapshots.read(spark, dir).orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("a2", "c"))
    // time travel to v1
    assert(Snapshots.read(spark, dir, 1).orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("a", "b"))
    // a torn write (data dir present, pointer untouched) stays
    // invisible to readers
    Seq((9, "torn")).toDF("id", "s")
      .write.parquet(s"$dir/v=3")
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    assert(Snapshots.read(spark, dir).orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("a2", "c"))
  }

  test("vacuum orphanGraceMs: a fresh above-pointer directory (an " +
    "in-flight commit's staging) survives a graced vacuum") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-grace").toString + "/t"
    Snapshots.commit(spark, Seq((1, "a")).toDF("id", "s"), dir)
    // simulate an in-flight commit: v=2 staged, pointer still at 1
    Seq((2, "staged")).toDF("id", "s").write.parquet(s"$dir/v=2")
    assert(SnapshotMaintenance.vacuum(spark, dir, keepLast = 1,
      orphanGraceMs = 3600000L).isEmpty)
    // the staged directory is untouched and can still publish
    assert(new java.io.File(s"$dir/v=2").exists())
    // an ungraced vacuum (maintenance window, no writers) reclaims it
    assert(SnapshotMaintenance.vacuum(spark, dir, keepLast = 1) == Seq(2L))
  }

  test("version allocator honors live _claim markers: a writer that " +
    "claimed-but-not-yet-renamed never loses its slot to a plain " +
    "commit; a retired .stale- marker frees its slot") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-claim-alloc").toString + "/t"
    Snapshots.commit(spark, Seq((1, "main1")).toDF("id", "s"), dir)
    // simulate an in-flight committer: _claim.2 exists, v=2 does not
    assert(new java.io.File(new java.io.File(dir), "_claim.2")
      .createNewFile())
    // every later plain commit skips the claimed slot
    assert(Snapshots.commit(spark,
      Seq((2, "main2")).toDF("id", "s"), dir) == 3L)
    assert(Snapshots.commit(spark,
      Seq((3, "main3")).toDF("id", "s"), dir) == 4L)
    // the claimed slot is still free for its owner's rename
    assert(!new java.io.File(s"$dir/v=2").exists())
    // a retired (.stale-) marker does NOT occupy a slot
    val d2 = java.nio.file.Files
      .createTempDirectory("graft-claim-stale").toString + "/t"
    Snapshots.commit(spark, Seq((1, "x")).toDF("id", "s"), d2)
    val stale = new java.io.File(new java.io.File(d2), "_claim.2.stale-dead")
    assert(stale.createNewFile())
    assert(Snapshots.commit(spark,
      Seq((2, "y")).toDF("id", "s"), d2) == 2L)
    // a graced vacuum sweeps the aged retired marker, keeps live claims
    assert(stale.setLastModified(System.currentTimeMillis() - 60000L))
    SnapshotMaintenance.vacuum(spark, d2, keepLast = 10, orphanGraceMs = 1000L)
    assert(!stale.exists())
    assert(new java.io.File(new java.io.File(d2), "_claim.2").exists())
  }

  test("nested-merge backstop: a slot occupied under a plain " +
    "commit's claim is never merged into — the old data stays " +
    "intact and the commit lands in the next free slot") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-nested").toString + "/t"
    assert(Snapshots.commit(spark,
      Seq((0, "base")).toDF("id", "s"), dir) == 1L)
    // once the commit holds _claim.2, plant an occupied v=2 with no
    // claim of its own: a pre-claim-era leftover, or a local-FS claim
    // race the exclusive create did not serialize
    val v = PipelineHook.raceAt(dir, "claim") {
      Seq((2, "old-v2")).toDF("id", "s").write.parquet(s"$dir/v=2")
    }(Snapshots.commit(spark, Seq((2, "mine")).toDF("id", "s"), dir))
    assert(v == 3L)
    // v=2 was NOT merged-into: exactly the old rows, no nested stage
    val inside = new java.io.File(s"$dir/v=2").listFiles()
      .filter(_.isDirectory)
    assert(inside.isEmpty, inside.mkString(","))
    assert(spark.read.parquet(s"$dir/v=2").collect()
      .map(_.getString(1)).toSeq == Seq("old-v2"))
    // the first attempt's claim was retired and its stage reused
    val d = new java.io.File(dir)
    assert(stages(dir).isEmpty)
    assert(!new java.io.File(d, "_claim.2").exists())
    assert(d.listFiles().exists(_.getName.startsWith("_claim.2.stale-")))
    assert(Snapshots.latestVersion(spark, dir) == 3L)
    assert(Snapshots.read(spark, dir).collect()
      .map(_.getString(1)).toSeq == Seq("mine"))
  }

  test("plain commit claims its slot: two racing committers always " +
    "take distinct versions and neither clobbers the other") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-main-race").toString + "/t"
    Snapshots.commit(spark, Seq((1, "main1")).toDF("id", "s"), dir)
    // the marker persists alongside its version
    assert(new java.io.File(new java.io.File(dir), "_claim.1").exists())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      def racer(tag: String) = pool.submit(
        new java.util.concurrent.Callable[Long] {
          def call(): Long = { gate.await()
            Snapshots.commit(spark, Seq((1, tag)).toDF("id", "s"), dir) }
        })
      val (fa, fb) = (racer("a"), racer("b"))
      gate.countDown()
      val (va, vb) = (fa.get(), fb.get())
      assert(va != vb, s"both committers took v=$va")
      // when the higher slot publishes first, the lower one re-lands
      // above it: the pointer never moves backwards
      assert(Set(va, vb) == Set(2L, 3L) || Set(va, vb) == Set(3L, 4L),
        s"$va/$vb")
      assert(Snapshots.latestVersion(spark, dir) == math.max(va, vb))
      // each slot holds exactly its own committer's rows, with no
      // nested stage (the local-FS rename-merge failure mode the claim
      // marker exists to prevent)
      Seq(va -> "a", vb -> "b").foreach { case (v, tag) =>
        assert(Snapshots.read(spark, dir, v).collect()
          .map(_.getString(1)).toSeq == Seq(tag))
        val nested = new java.io.File(s"$dir/v=$v").listFiles()
          .filter(_.isDirectory)
        assert(nested.isEmpty, nested.mkString(","))
      }
    } finally pool.shutdown()
  }

  test("vacuum reclaims an aged live claim with no version directory " +
    "(claim-and-die corpse) so the slot is not burned forever, but " +
    "never sweeps a fresh in-flight claim") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-claim-corpse").toString + "/t"
    Snapshots.commit(spark, Seq((1, "v1")).toDF("id", "s"), dir)
    val d = new java.io.File(dir)
    // corpse: claimed, died before writing any bytes, aged past grace
    assert(new java.io.File(d, "_claim.7").createNewFile())
    assert(new java.io.File(d, "_claim.7")
      .setLastModified(System.currentTimeMillis() - 60000L))
    // fresh in-flight claim on another slot
    assert(new java.io.File(d, "_claim.9").createNewFile())
    SnapshotMaintenance.vacuum(spark, dir, keepLast = 5, orphanGraceMs = 1000L)
    assert(!new java.io.File(d, "_claim.7").exists(), "corpse not swept")
    assert(new java.io.File(d, "_claim.9").exists(), "fresh claim swept")
    // _claim.1 guards a surviving version — never an orphan
    assert(new java.io.File(d, "_claim.1").exists())
  }

  test("compaction preserves the exactly-once epoch fence: a " +
    "crash-replay of the last epoch AFTER compactVersion publishes " +
    "no duplicate version") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-epoch-compact").toString + "/t"
    // three epoch-fenced batches, each deliberately multi-file so
    // compaction has something to bin-pack
    (0 to 2).foreach { e =>
      val r = Snapshots.commitWithEpoch(spark,
        Seq((e, s"e$e-a"), (e, s"e$e-b")).toDF("id", "s")
          .repartition(2), dir, e.toLong)
      assert(r == Right(e + 1L), r.toString)
    }
    val (nv, _) = SnapshotMaintenance.compact(spark, dir,
      targetBytes = 1L << 30)
    assert(nv == 4L)
    // the compacted head must carry the source's epoch 2 — the
    // data-file listing rightly skips _-prefixed files, so without
    // the explicit carry the fence silently vanished here
    assert(recordOf(s"$dir/v=4").epochs.contains(2L),
      "compaction must carry the epoch forward")
    // crash-replay of epoch 2 (Structured Streaming re-executes the
    // last uncommitted micro-batch): the fence must hold
    val replay = Snapshots.commitWithEpoch(spark,
      Seq((2, "dup")).toDF("id", "s"), dir, 2L)
    assert(replay.isLeft, s"duplicate epoch published: $replay")
    assert(Snapshots.latestVersion(spark, dir) == 4L)
    assert(Snapshots.read(spark, dir).count() == 2L)
    // the stream continues: a genuinely new epoch commits on top
    assert(Snapshots.commitWithEpoch(spark,
      Seq((3, "e3")).toDF("id", "s"), dir, 3L) == Right(5L))
    // the fence scans BACK to the newest marked version: a plain
    // (unmarked) maintenance commit on top must not reopen epoch 3
    Snapshots.commit(spark, Snapshots.read(spark, dir), dir)
    val replay3 = Snapshots.commitWithEpoch(spark,
      Seq((3, "dup3")).toDF("id", "s"), dir, 3L)
    assert(replay3.isLeft, s"fence lost behind a plain commit: $replay3")
  }

  test("commitWithEpoch crashed-attempt recovery: a complete but " +
    "unpublished version carrying the replayed epoch rolls FORWARD — " +
    "no sub-head orphan serving the same epoch twice as history") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-epoch-orphan").toString + "/t"
    assert(Snapshots.commitWithEpoch(spark,
      Seq((0, "e0")).toDF("id", "s"), dir, 0L) == Right(1L))
    // simulate epoch 1 dying between slot rename and pointer publish:
    // v=2 exists complete (data + marker + claim), pointer still at 1
    Seq((1, "e1-original")).toDF("id", "s").write.parquet(s"$dir/v=2")
    val d = new java.io.File(dir)
    StoreJson.write(hfs, new org.apache.hadoop.fs.Path(s"$dir/v=2",
      Snapshots.VersionRecord.Name),
      Seq(Snapshots.VersionRecord(epochs = Seq(1L)).toJson))
    assert(new java.io.File(d, "_claim.2").createNewFile())
    // the replay must publish the EXISTING complete attempt, not
    // duplicate the epoch into a fresh slot above it
    val r = Snapshots.commitWithEpoch(spark,
      Seq((1, "e1-replay")).toDF("id", "s"), dir, 1L)
    assert(r == Right(2L), r.toString)
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    assert(Snapshots.read(spark, dir).collect().head.getString(1)
      == "e1-original")
    // exactly ONE version carries epoch 1 — time travel can never
    // serve the epoch twice
    val marked = d.listFiles().filter(_.getName.startsWith("v=")).toSeq
      .filter(v => recordOf(v.toString).epochs.contains(1L))
    assert(marked.map(_.getName) == Seq("v=2"), marked.mkString(","))
    // the crashed attempt's claim marker was retired, not left live
    assert(!new java.io.File(d, "_claim.2").exists())
    // a second replay of the now-published epoch is fenced normally
    assert(Snapshots.commitWithEpoch(spark,
      Seq((1, "dup")).toDF("id", "s"), dir, 1L).isLeft)
    // and the stream continues
    assert(Snapshots.commitWithEpoch(spark,
      Seq((2, "e2")).toDF("id", "s"), dir, 2L) == Right(3L))
  }

  test("schema evolution: add/drop/widen across versions — time " +
    "travel conforms to the latest schema, defaults fill added " +
    "columns, per-version manifests keep pruning") {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-snap-evo").toString + "/t"
    // v1: (id int, a string)
    Snapshots.commitWithStats(spark,
      Seq((1, "x"), (2, "y")).toDF("id", "a"), dir, Seq("id"))
    // v2: id WIDENED to long, b added
    Snapshots.commitWithStats(spark,
      Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "z", 30L))
        .toDF("id", "a", "b"), dir, Seq("id"))
    // v3: a dropped, c added
    Snapshots.commit(spark,
      Seq((1L, 10L, true), (4L, 40L, false)).toDF("id", "b", "c"), dir)
    // THE table schema is the latest version's
    val ts = Snapshots.tableSchema(spark, dir)
    assert(ts.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("id", LongType), ("b", LongType), ("c", BooleanType)))
    // v1 conformed: id cast int→long, b/c typed NULLs, a gone
    val v1c = Snapshots.readConformed(spark, dir, 1)
    assert(v1c.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("id", LongType), ("b", LongType), ("c", BooleanType)))
    val v1rows = v1c.orderBy("id").collect()
    assert(v1rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(v1rows.forall(r => r.isNullAt(1) && r.isNullAt(2)))
    // add-column-with-default
    val v1d = Snapshots.readConformed(spark, dir, 1,
      defaults = Map("b" -> lit(-1L)))
    assert(v1d.select("b").collect().map(_.getLong(0)).toSeq ==
      Seq(-1L, -1L))
    // a timeline union across all three shapes just works
    val timeline = (1L to 3L)
      .map(v => Snapshots.readConformed(spark, dir, v))
      .reduce(_ unionByName _)
    assert(timeline.count() == 7)
    assert(timeline.filter(col("c").isNotNull).count() == 2)
    // an OLD version still prunes through ITS OWN manifest
    val (pruned, ps) = prunedRead(dir, col("id") === 3, version = 2)
    assert(ps.filesRead + ps.filesSkipped >= 1)
    assert(pruned.count() == 1)
  }

  test("epoch-fenced commits seal stats/bloom sidecars — streaming " +
    "tables stay pruning-capable") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft-epoch-stats").toString + "/t"
    // range-layout the batch so the sealed manifest has something to
    // prune (a plain epoch commit has no partitionBy surface)
    val df = (0L until 200L).map(i => (i, s"u-$i", i / 100))
      .toDF("k", "uid", "bucket")
      .repartitionByRange(4, col("k"))
    assert(Snapshots.commitWithEpoch(spark, df, dir, 0L,
      statsCols = Seq("k"), bloomCols = Seq("uid")) == Right(1L))
    assert(new java.io.File(s"$dir/v=1/_stats.json").exists())
    assert(new java.io.File(s"$dir/v=1/_bloom_uid.json").exists())
    assert(recordOf(s"$dir/v=1").epochs == Seq(0L))
    val (_, ps) = prunedRead(dir, col("k").between(0, 10))
    assert(ps.filesSkipped >= 1, ps.toString)
    val (pl, _) = prunedRead(dir, col("uid") === "u-150")
    assert(pl.count() == 1)
  }

  test("copy-on-write deleteWhere/updateWhere: only sidecar-affected " +
    "files are rewritten, the rest byte-copy through with their " +
    "manifest entries spliced, and a provable no-op publishes nothing") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cow").toString + "/t"
    val df = (0L until 400L).map(i => (i, s"u-$i"))
      .toDF("k", "uid").repartitionByRange(4, col("k"))
    Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("k"), bloomCols = Seq("uid"))
    val oldManifest = FileStats.readManifest(spark, s"$dir/v=1")
    assert(oldManifest.size == 4)
    // range-decided delete: only files intersecting [0,50] rewrite
    val (v2, d1) = CopyOnWrite.deleteWhere(spark, dir,
      col("k").between(0, 50))
    assert(v2 == 2L)
    assert(d1.rowsChanged == 51, d1.toString)
    assert(d1.filesCopied >= 2 &&
      d1.filesRewritten + d1.filesCopied == 4, d1.toString)
    assert(Snapshots.read(spark, dir).count() == 349)
    // the splice: untouched files keep their EXACT old entries and
    // their bytes (names preserved); the new version still prunes
    val newManifest = FileStats.readManifest(spark, s"$dir/v=2")
    val oldByRel = oldManifest.map(e => e.relPath -> e).toMap
    val copied = newManifest.filter(e => oldByRel.contains(e.relPath))
    assert(copied.size.toLong == d1.filesCopied)
    copied.foreach(e => assert(e == oldByRel(e.relPath)))
    val (pruned, ps2) = prunedRead(dir, col("k").between(300, 399))
    assert(ps2.filesSkipped >= 1)
    assert(pruned.count() == 100)
    // bloom-decided delete: an equality predicate on the unclustered
    // column rewrites only bloom-admitting files
    val (v3, d2) = CopyOnWrite.deleteWhere(spark, dir,
      col("uid") === "u-250")
    assert(v3 == 3L && d2.rowsChanged == 1, d2.toString)
    assert(d2.filesCopied >= 1, s"bloom must spare some file: $d2")
    assert(Snapshots.read(spark, dir).count() == 348)
    // update: one matching row changes in place, counts preserved
    val (v4, u1) = CopyOnWrite.updateWhere(spark, dir,
      col("k") === 300, Map("uid" -> lit("CHANGED")))
    assert(v4 == 4L && u1.rowsChanged == 1, u1.toString)
    assert(u1.filesCopied >= 2, u1.toString)
    val after = Snapshots.read(spark, dir)
    assert(after.count() == 348)
    assert(after.filter(col("uid") === "CHANGED").collect()
      .map(_.getLong(0)).toSeq == Seq(300L))
    // provable no-op: every file range-skipped → nothing publishes
    val (v5, d3) = CopyOnWrite.deleteWhere(spark, dir,
      col("k").between(10000, 10001))
    assert(v5 == 4L && d3 == CopyOnWrite.RewriteStats(0, 0, 0, 0))
    assert(Snapshots.latestVersion(spark, dir) == 4L)
  }

  test("copy-on-write mergeInto: source keys route through the " +
    "sidecars — only hit files rewrite, unmatched keys insert, " +
    "oversized batches fall back to a full rewrite") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cow-merge").toString + "/t"
    val base = (0L until 400L).map(i => (i, s"u-$i"))
      .toDF("k", "uid").repartitionByRange(4, col("k"))
    Snapshots.commitWithStats(spark, base, dir,
      statsCols = Seq("k"), bloomCols = Seq("k"))
    // two updates inside the first quartile + one brand-new key
    val src = Seq((10L, "upd-10"), (20L, "upd-20"), (1000L, "new-1000"))
      .toDF("k", "uid")
    val (v2, m1) = CopyOnWrite.mergeInto(spark, dir, src, Seq("k"))
    assert(v2 == 2L)
    assert(m1.rowsChanged == 3, m1.toString)
    assert(m1.filesCopied == 3 && m1.filesRewritten == 1, m1.toString)
    val after = Snapshots.read(spark, dir)
    assert(after.count() == 401)
    assert(after.filter(col("k") === 10).collect().head.getString(1)
      == "upd-10")
    assert(after.filter(col("k") === 1000).count() == 1)
    assert(after.filter(col("uid") === "u-10").count() == 0,
      "matched row must be replaced, not duplicated")
    // spliced manifests keep the new version pruning AND point-probing
    val (pr, psr) = prunedRead(dir, col("k").between(300, 399))
    assert(psr.filesSkipped >= 1)
    assert(pr.count() == 100)
    val (pl, plStats) = prunedRead(dir, col("k") === 350)
    assert(pl.count() == 1)
    assert(plStats.filesRead + plStats.filesSkipped >= 4)
    // routing bound: a batch over maxRoutedKeys rewrites everything
    val (v3, m2) = CopyOnWrite.mergeInto(spark, dir,
      Seq((30L, "x"), (330L, "y")).toDF("k", "uid"), Seq("k"),
      maxRoutedKeys = 1)
    assert(v3 == 3L && m2.filesCopied == 0, m2.toString)
    assert(Snapshots.read(spark, dir).count() == 401)
    // DESCRIBE HISTORY: metadata-only version log — rows from the
    // manifest (never a scan), sidecar presence, publish status
    val h = Snapshots.history(spark, dir)
    assert(h.map(_.version) == Seq(1L, 2L, 3L))
    assert(h.forall(_.published))
    assert(h.map(_.rows) == Seq(Some(400L), Some(401L), Some(401L)))
    assert(h.forall(v => v.hasStats && v.bloomCols == Seq("k")))
    assert(h.forall(_.nDataFiles >= 1))
  }

  test("one parse of the table root: the allocator, the head-bound " +
    "slot, main's history, DESCRIBE HISTORY and vacuum read one " +
    "planted layout") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-layout").toString + "/t"
    val f = Snapshots.fs(spark, dir)
    // created through the checksummed FS, so each gets a `.crc` sibling
    def touch(name: String): Unit =
      f.create(new org.apache.hadoop.fs.Path(dir, name), false).close()
    def names: Seq[String] = new java.io.File(dir).list().toSeq.sorted
    Snapshots.commit(spark, Seq((1, "a")).toDF("id", "s"), dir) // v1
    // a claim-less, never-published v=2 (a pre-claim-era leftover)
    Seq((2, "b")).toDF("id", "s").write.parquet(s"$dir/v=2")
    Snapshots.commitWithStats(spark, Seq((3, "c")).toDF("id", "s"), dir,
      statsCols = Seq("id")) // v3, the head
    touch("_claim.4") // a live claim whose committer never renamed
    val stale = "_claim.2.stale-0b6c1a52-93c4-4e0e-9d7a-5f2e8c4d1a70"
    touch(stale)
    touch("_latest.tmp.9")
    Seq(9).toDF("id").write.parquet(s"$dir/_staging/dead-writer")
    assert(names == Seq(s".$stale.crc", "._claim.1.crc", "._claim.3.crc",
      "._claim.4.crc", "._latest.tmp.9.crc", "._pubtime.1.crc",
      "._pubtime.3.crc", stale, "_claim.1", "_claim.3", "_claim.4",
      "_latest", "_latest.tmp.9", "_pubtime.1", "_pubtime.3",
      "_staging", "v=1", "v=2", "v=3").sorted)
    val cases: Seq[(String, Any, Any)] = Seq(
      ("next free slot", Snapshots.nextFreeVersion(spark, dir), 5L),
      ("slot above the head", Snapshots.slotAbove(f, dir, 3L), 4L),
      ("slot above v1 (skips the settled v=2, contests the claimed v=3)",
        Snapshots.slotAbove(f, dir, 1L), 3L),
      ("main's history", Snapshots.mainHistory(spark, dir, 0L, 3L),
        Seq(1L, 3L)),
      ("history rows", Snapshots.history(spark, dir).map(h =>
        (h.version, h.published, h.nDataFiles, h.rows, h.hasStats)),
        Seq((1L, true, 1L, None, false), (2L, false, 1L, None, false),
          (3L, true, 1L, Some(1L), true))))
    cases.foreach { case (what, got, want) =>
      assert(got == want, s"$what: $got") }
    assert(SnapshotMaintenance.vacuum(spark, dir, keepLast = 1) ==
      Seq(1L, 2L))
    // gone: v1 and v2 with their records, the stage, the retired
    // claim and the dead live claim; the pointer's temp is not vacuum's
    assert(names == Seq("._claim.3.crc", "._latest.tmp.9.crc",
      "._pubtime.3.crc", "_claim.3", "_latest", "_latest.tmp.9",
      "_pubtime.3", "_staging", "v=3"))
    assert(new java.io.File(dir, "_staging").list().isEmpty)
  }

  test("DESCRIBE HISTORY counts a partitioned version's data files " +
    "and bytes inside its partition directories") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-history-part").toString + "/t"
    Snapshots.commitWithStats(spark,
      (0L until 400L).map(i => (i, i % 4)).toDF("k", "b")
        .repartition(col("b")),
      dir, statsCols = Seq("k"), partitionByCols = Seq("b"))
    val parquet = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/v=1"))
      try w.iterator().asScala.map(_.toFile)
        .filter(_.getName.endsWith(".parquet")).toList
      finally w.close()
    }
    assert(parquet.size >= 4 &&
      parquet.forall(_.getParentFile.getName.startsWith("b=")), parquet)
    val Seq(h) = Snapshots.history(spark, dir)
    assert(h.nDataFiles == parquet.size.toLong)
    assert(h.bytes == parquet.map(_.length).sum)
  }

  test("mergeApply: the full clause surface — matched delete before " +
    "conditional update (first match wins), conditional insert with " +
    "NULL fill, NOT MATCHED BY SOURCE sync — keyed routing intact") {
    import org.apache.spark.sql.functions.col
    import CopyOnWrite.{MergeDelete, MergeInsert, MergeUpdate, scol, tcol}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mapply").toString + "/t"
    val base = (0L until 400L).map(i => (i, i, s"u-$i"))
      .toDF("k", "qty", "uid").repartitionByRange(4, col("k"))
    Snapshots.commitWithStats(spark, base, dir, statsCols = Seq("k"))
    // source keys 10/20/30 match (quartile 1), 1000/2000 do not
    val src = Seq((10L, 5L), (20L, 5L), (30L, 999L), (1000L, 1L),
      (2000L, 999L)).toDF("id", "amt")
    val (v2, st) = CopyOnWrite.mergeApply(spark, dir, src,
      on = Seq(("k", "id")),
      matched = Seq(
        // delete listed FIRST: for k=20 both conditions hold — the
        // first clause must win (k=10 falls through to the update)
        MergeDelete(Some(scol("amt") === 5L && tcol("k") === 20L)),
        MergeUpdate(Some(scol("amt") < 10L),
          Map("qty" -> (tcol("qty") + scol("amt"))))),
      notMatched = Seq(
        MergeInsert(Some(scol("amt") < 10L),
          Map("k" -> scol("id"), "qty" -> scol("amt")))))
    assert(v2 == 2L)
    assert(st.rowsUpdated == 1L && st.rowsDeleted == 1L &&
      st.rowsInserted == 1L, st.toString)
    // keyed routing: only quartile 1's file admits 10/20/30 —
    // 1000/2000 admit nothing, so three files byte-copy through
    assert(st.filesRewritten == 1L && st.filesCopied == 3L,
      st.toString)
    val after = Snapshots.read(spark, dir)
    assert(after.count() == 400L) // -1 deleted, +1 inserted
    assert(after.filter(col("k") === 10L).head.getLong(1) == 15L)
    assert(after.filter(col("k") === 20L).count() == 0L)
    assert(after.filter(col("k") === 30L).head.getLong(1) == 30L,
      "999-amt row must fall through every clause and stay")
    val ins = after.filter(col("k") === 1000L).head
    assert(ins.getLong(1) == 1L && ins.isNullAt(2),
      "unlisted insert column must land NULL")
    assert(after.filter(col("k") === 2000L).count() == 0L,
      "insert whose condition fails must drop")
    // NOT MATCHED BY SOURCE: sync-to-source (update matched, delete
    // the rest) — admission must be EVERY file
    val src2 = (0L until 50L).map(i => (i, 7L)).toDF("id", "amt")
    val (v3, st2) = CopyOnWrite.mergeApply(spark, dir, src2,
      on = Seq(("k", "id")),
      matched = Seq(MergeUpdate(None, Map("qty" -> scol("amt")))),
      notMatchedBySource = Seq(MergeDelete(None)))
    assert(v3 == 3L)
    assert(st2.filesCopied == 0L,
      "NOT MATCHED BY SOURCE must admit every file")
    assert(st2.rowsUpdated == 49L, st2.toString) // 0..49 minus 20
    assert(st2.rowsDeleted == 400L - 49L, st2.toString)
    val fin = Snapshots.read(spark, dir)
    assert(fin.count() == 49L)
    assert(fin.filter(col("qty") === 7L).count() == 49L)
    // manifest recomputed: the table still prunes
    assert(FileStats.readManifest(spark, s"$dir/v=3").nonEmpty)
    // provenance: concurrent Tx DML sees the merge
    assert(recordOf(s"$dir/v=2").dml.exists(_.op == "merge"))
    // MERGE cardinality: two source rows matching ONE target row
    // refuse with the SQL-standard error, never silent duplication
    val dupSrc = Seq((5L, 1L), (5L, 2L)).toDF("id", "amt")
    val e = intercept[IllegalStateException] {
      CopyOnWrite.mergeApply(spark, dir, dupSrc, on = Seq(("k", "id")),
        matched = Seq(MergeUpdate(None, Map("qty" -> scol("amt")))))
    }
    assert(e.getMessage.contains("at most one source row"),
      e.getMessage)
    assert(Snapshots.read(spark, dir).count() == 49L,
      "refused merge must publish nothing")
    // a typo'd SET column refuses instead of no-op'ing N rows
    val e2 = intercept[IllegalArgumentException] {
      CopyOnWrite.mergeApply(spark, dir,
        Seq((5L, 1L)).toDF("id", "amt"), on = Seq(("k", "id")),
        matched = Seq(MergeUpdate(None, Map("qtyy" -> scol("amt")))))
    }
    assert(e2.getMessage.contains("qtyy"), e2.getMessage)
  }

  test("readAppendsSince replays an epoch-fenced append log: ranged " +
    "batches conformed to the latest schema, vacuumed gaps throw") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft-replay").toString + "/t"
    assert(Snapshots.commitWithEpoch(spark,
      Seq((1L, "a")).toDF("k", "s"), dir, 0L) == Right(1L))
    assert(Snapshots.commitWithEpoch(spark,
      Seq((2L, "b")).toDF("k", "s"), dir, 1L) == Right(2L))
    // epoch 2's batch arrived with an ADDED column — the replay must
    // present every batch in the latest shape
    assert(Snapshots.commitWithEpoch(spark,
      Seq((3L, "c", 9L)).toDF("k", "s", "extra"), dir, 2L)
      == Right(3L))
    val feed = Snapshots.readAppendsSince(spark, dir, 1L)
    assert(feed.columns.toSeq == Seq("k", "s", "extra", "_version"))
    val rows = feed.orderBy("_version").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((2L, "b", -1L, 2L), (3L, "c", 9L, 3L)))
    // full replay from zero
    assert(Snapshots.readAppendsSince(spark, dir, 0L).count() == 3)
    // a vacuumed gap inside the range is loud, never a silent hole
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir, "v=2"), true)
    intercept[IllegalStateException] {
      Snapshots.readAppendsSince(spark, dir, 0L)
    }
    // but a range past the gap still replays
    assert(Snapshots.readAppendsSince(spark, dir, 2L)
      .select(col("k")).collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("copy-on-write fallbacks: a manifest-less table full-rewrites " +
    "(never wrong, just unpruned) and NULL-predicate rows survive a " +
    "delete (SQL DELETE semantics)") {
    import org.apache.spark.sql.functions.col
    // no sidecars at all: plain commit → DML must still be correct
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cow-fallback").toString + "/t"
    Snapshots.commit(spark,
      Seq((1L, Some("a")), (2L, None: Option[String]),
        (3L, Some("c"))).toDF("k", "s"), dir)
    // pred `s = 'a'` is NULL for k=2 — that row must be KEPT
    val (v2, d) = CopyOnWrite.deleteWhere(spark, dir, col("s") === "a")
    assert(v2 == 2L && d.rowsChanged == 1, d.toString)
    assert(d.filesCopied == 0, "no manifest: everything rewrites")
    val left = Snapshots.read(spark, dir).orderBy("k").collect()
      .map(_.getLong(0)).toSeq
    assert(left == Seq(2L, 3L), s"null-pred row lost: $left")
    // merge on the same manifest-less table: full rewrite, correct rows
    val (v3, m) = CopyOnWrite.mergeInto(spark, dir,
      Seq((3L, Some("C")), (9L, Some("i"))).toDF("k", "s"), Seq("k"))
    assert(v3 == 3L && m.filesCopied == 0 && m.rowsChanged == 2,
      m.toString)
    val after = Snapshots.read(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null
        else r.getString(1))).toSeq
    assert(after == Seq((2L, null), (3L, "C"), (9L, "i")), after)
  }
}
