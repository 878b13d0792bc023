package graft.operators

import graft.SparkSpec

class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  /** Stage directories left under a store's `_staging/`. */
  private def stages(dir: String): Seq[String] =
    Option(new java.io.File(dir, "_staging").listFiles())
      .toSeq.flatten.map(_.getName)

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

  test("commitChecked (write-audit-publish): a dirty batch stages " +
    "but never publishes; the table stays at the prior version") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-wap").toString + "/t"
    val checks = (staged: org.apache.spark.sql.DataFrame) => Seq(
      DataQuality.uniqueKey(staged, Seq("id"), "pk"),
      DataQuality.nonNull(staged, "s", "nn"))
    val r1 = Snapshots.commitChecked(spark,
      Seq((1, Some("a")), (2, Some("b"))).toDF("id", "s"), dir, checks)
    assert(r1 == Right(1L))
    // dirty: duplicate key AND a null — both checks must report
    val r2 = Snapshots.commitChecked(spark,
      Seq((3, Some("c")), (3, Some("d")), (4, None))
        .toDF("id", "s"), dir, checks)
    assert(r2.isLeft)
    assert(r2.swap.toOption.get.toMap == Map("pk" -> 1L, "nn" -> 1L))
    // readers still see v1 — and the REJECTED batch must leave no
    // v=2 directory and no live claim: CAS crashed-winner recovery
    // publishes any unpublished v=N it finds under a stale claim, so
    // rejected bytes in a version slot would be resurrectable as the
    // table head (they live only in a deleted stage)
    assert(Snapshots.latestVersion(spark, dir) == 1L)
    assert(Snapshots.read(spark, dir).orderBy("id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2))
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(dir, "v=2")),
      "rejected WAP batch materialized a version directory")
    assert(!f.exists(new org.apache.hadoop.fs.Path(dir, "_claim.2")),
      "rejected WAP batch left a live claim")
    // nothing for vacuum to reclaim; the slot is immediately reusable
    assert(Snapshots.vacuum(spark, dir, keepLast = 1) == Seq())
    // a clean retry publishes as v2
    val r3 = Snapshots.commitChecked(spark,
      Seq((3, Some("c")), (4, Some("d"))).toDF("id", "s"), dir, checks)
    assert(r3 == Right(2L))
    assert(Snapshots.read(spark, dir).count() == 2)
  }

  test("a rejected WAP batch can never be resurrected by CAS " +
    "crashed-winner roll-forward") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-wap-cas").toString + "/t"
    val checks = (staged: org.apache.spark.sql.DataFrame) => Seq(
      DataQuality.nonNull(staged, "s", "nn"))
    assert(Snapshots.commitChecked(spark,
      Seq((1, Some("a"))).toDF("id", "s"), dir, checks) == Right(1L))
    // audit reject: dirty v2 candidate
    assert(Snapshots.commitChecked(spark,
      Seq((2, None: Option[String])).toDF("id", "s"), dir,
      checks).isLeft)
    // a CAS committer arriving after any grace period must commit its
    // OWN data as v2 — never publish the rejected batch
    val r = Snapshots.commitCAS(spark,
      Seq((3, "clean")).toDF("id", "s"), dir, expectedParent = 1L,
      claimGraceMs = 1L)
    assert(r == Right(2L), r.toString)
    assert(Snapshots.read(spark, dir).collect().map(_.getInt(0)).toSeq
      == Seq(3), "rejected WAP data reached the table head")
  }

  test("commitCAS: two committers racing from the same parent — " +
    "exactly one wins; the loser gets an explicit conflict and " +
    "leaves no staged bytes behind") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cas").toString + "/t"
    assert(Snapshots.commitCAS(spark,
      Seq((0, "base")).toDF("id", "s"), dir, expectedParent = 0L)
      == Right(1L))
    // stale parent is rejected up front
    assert(Snapshots.commitCAS(spark,
      Seq((9, "stale")).toDF("id", "s"), dir, expectedParent = 0L).isLeft)
    // race: both writers observed parent v1 before either committed
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      def racer(tag: String) = pool.submit(
        new java.util.concurrent.Callable[Either[String, Long]] {
          def call(): Either[String, Long] = {
            gate.await()
            Snapshots.commitCAS(spark,
              Seq((1, tag)).toDF("id", "s"), dir, expectedParent = 1L)
          }
        })
      val (fa, fb) = (racer("A"), racer("B"))
      gate.countDown()
      val rs = Seq(fa.get(), fb.get())
      assert(rs.count(_.isRight) == 1, rs.toString)
      assert(rs.find(_.isRight).get == Right(2L))
      assert(rs.find(_.isLeft).get.swap.toOption.get.contains("conflict"))
      assert(Snapshots.latestVersion(spark, dir) == 2L)
      // the published v2 is the WINNER's frame, intact
      assert(Set("A", "B").contains(Snapshots.read(spark, dir)
        .collect().head.getString(1)))
      // loser's staging was cleaned up
      val leftovers = stages(dir)
      assert(leftovers.isEmpty, leftovers.mkString(","))
    } finally pool.shutdown()
    // version numbers are not silently reused under CAS: after a
    // rollback the old claim still guards v2 until vacuumed
    Snapshots.rollback(spark, dir, 1)
    assert(Snapshots.commitCAS(spark,
      Seq((2, "re")).toDF("id", "s"), dir, expectedParent = 1L).isLeft)
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(Snapshots.commitCAS(spark,
      Seq((2, "re")).toDF("id", "s"), dir, expectedParent = 1L)
      == Right(2L))
    assert(Snapshots.read(spark, dir).collect().head.getString(1) == "re")
  }

  test("commitCAS crashed-winner recovery: a dead claim with complete " +
    "data rolls forward; a claim-only corpse is stolen; a FRESH claim " +
    "is never touched") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cas-crash").toString + "/t"
    assert(Snapshots.commitCAS(spark,
      Seq((0, "base")).toDF("id", "s"), dir, 0L) == Right(1L))
    val d = new java.io.File(dir)
    def ageFile(name: String): Unit = {
      val file = new java.io.File(d, name)
      assert(file.setLastModified(System.currentTimeMillis() - 60000L))
    }
    // CASE 1: winner died between rename and publish — claim + v=2
    // exist, pointer still at 1
    Seq((2, "dead-but-complete")).toDF("id", "s")
      .write.parquet(s"$dir/v=2")
    assert(new java.io.File(d, "_claim.2").createNewFile())
    ageFile("_claim.2")
    val r1 = Snapshots.commitCAS(spark,
      Seq((2, "mine")).toDF("id", "s"), dir, 1L, claimGraceMs = 1000L)
    assert(r1.isLeft && r1.swap.toOption.get.contains("rolled forward"),
      r1.toString)
    // the dead commit's data is now the published v2
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    assert(Snapshots.read(spark, dir).collect().head.getString(1)
      == "dead-but-complete")
    // roll-forward retires the dead winner's claim marker (renamed to
    // the vacuumable .stale- form) — it must not linger live to be
    // pointlessly grace-stolen by a later same-slot probe
    assert(!new java.io.File(d, "_claim.2").exists())
    assert(d.listFiles().exists(
      _.getName.startsWith("_claim.2.stale-")))
    // and the conflicted caller retries cleanly on top
    assert(Snapshots.commitCAS(spark,
      Seq((3, "retry")).toDF("id", "s"), dir, 2L, claimGraceMs = 1000L)
      == Right(3L))
    // CASE 2: winner died between claim and rename — claim only
    assert(new java.io.File(d, "_claim.4").createNewFile())
    ageFile("_claim.4")
    assert(Snapshots.commitCAS(spark,
      Seq((4, "stolen")).toDF("id", "s"), dir, 3L, claimGraceMs = 1000L)
      == Right(4L))
    assert(Snapshots.read(spark, dir).collect().head.getString(1)
      == "stolen")
    // the stale marker was moved aside, a fresh _claim.4 now guards v4
    assert(d.listFiles().exists(f =>
      f.getName.startsWith("_claim.4.stale-")))
    // CASE 3: a FRESH claim (live committer inside its grace window)
    // still conflicts — recovery must not steal it
    assert(new java.io.File(d, "_claim.5").createNewFile())
    val r3 = Snapshots.commitCAS(spark,
      Seq((5, "impatient")).toDF("id", "s"), dir, 4L,
      claimGraceMs = 3600000L)
    assert(r3.isLeft && !r3.swap.toOption.get.contains("rolled"),
      r3.toString)
    assert(Snapshots.latestVersion(spark, dir) == 4L)
    // graced vacuum sweeps the aged stale markers, keeps live claims
    ageFile(d.listFiles().map(_.getName)
      .find(_.startsWith("_claim.4.stale-")).get)
    Snapshots.vacuum(spark, dir, keepLast = 10, orphanGraceMs = 1000L)
    assert(!d.listFiles().exists(_.getName.contains(".stale-")))
    assert(new java.io.File(d, "_claim.5").exists())
  }

  test("vacuum orphanGraceMs: a fresh above-pointer directory (an " +
    "in-flight commit's staging) survives a graced vacuum") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-grace").toString + "/t"
    Snapshots.commit(spark, Seq((1, "a")).toDF("id", "s"), dir)
    // simulate an in-flight commit: v=2 staged, pointer still at 1
    Seq((2, "staged")).toDF("id", "s").write.parquet(s"$dir/v=2")
    assert(Snapshots.vacuum(spark, dir, keepLast = 1,
      orphanGraceMs = 3600000L).isEmpty)
    // the staged directory is untouched and can still publish
    assert(new java.io.File(s"$dir/v=2").exists())
    // an ungraced vacuum (maintenance window, no writers) reclaims it
    assert(Snapshots.vacuum(spark, dir, keepLast = 1) == Seq(2L))
  }

  test("rollback is a pointer move; vacuum reclaims orphans and " +
    "pre-horizon versions but never the protected window") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-snap2").toString + "/t"
    (1 to 4).foreach(i =>
      Snapshots.commit(spark, Seq((i, s"v$i")).toDF("id", "s"), dir))
    assert(Snapshots.latestVersion(spark, dir) == 4L)
    Snapshots.rollback(spark, dir, 3)
    assert(Snapshots.latestVersion(spark, dir) == 3L)
    assert(Snapshots.read(spark, dir).collect()
      .head.getString(1) == "v3")
    intercept[IllegalArgumentException] {
      Snapshots.rollback(spark, dir, 9)
    }
    // vacuum keepLast=2 from latest=3: v4 is an orphan ABOVE the
    // pointer, v1 is below the horizon; v2+v3 survive
    val gone = Snapshots.vacuum(spark, dir, keepLast = 2)
    assert(gone.sorted == Seq(1L, 4L), gone.toString)
    assert(Snapshots.read(spark, dir, 2).collect()
      .head.getString(1) == "v2")
    assert(Snapshots.read(spark, dir, 3).collect()
      .head.getString(1) == "v3")
    // committing after a rollback continues from the pointer
    val v = Snapshots.commit(spark,
      Seq((5, "v4b")).toDF("id", "s"), dir)
    assert(v == 4L)
    assert(Snapshots.read(spark, dir).collect()
      .head.getString(1) == "v4b")
  }

  test("tags are immutable named refs: read-by-tag time-travels, " +
    "re-tagging throws, vacuum never reclaims a tagged version") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tags").toString + "/t"
    Snapshots.commit(spark, Seq((1, "v1")).toDF("id", "s"), dir)
    Snapshots.commit(spark, Seq((1, "v2")).toDF("id", "s"), dir)
    assert(Snapshots.tag(spark, dir, "train-2024q3", 1L) == 1L)
    Snapshots.commit(spark, Seq((1, "v3")).toDF("id", "s"), dir)
    Snapshots.commit(spark, Seq((1, "v4")).toDF("id", "s"), dir)
    assert(Snapshots.readTag(spark, dir, "train-2024q3")
      .collect().head.getString(1) == "v1")
    intercept[Exception] { Snapshots.tag(spark, dir, "train-2024q3", 2L) }
    // keepLast=1 would normally doom v1..v3; the tag pins v1
    val gone = Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(gone.sorted == Seq(2L, 3L), gone.toString)
    assert(Snapshots.readTag(spark, dir, "train-2024q3")
      .collect().head.getString(1) == "v1")
    Snapshots.dropTag(spark, dir, "train-2024q3")
    assert(Snapshots.vacuum(spark, dir, keepLast = 1) == Seq(1L))
  }

  test("branches: zero-copy cut, commits move only the branch ref, " +
    "fast-forward publish requires an unmoved main, vacuum keeps " +
    "live branch heads") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-br").toString + "/t"
    Snapshots.commit(spark, Seq((1, "main1")).toDF("id", "s"), dir)
    assert(Snapshots.createBranch(spark, dir, "wap") == 1L)
    val bv = Snapshots.commitToBranch(spark,
      Seq((1, "staged")).toDF("id", "s"), dir, "wap")
    assert(bv == 2L)
    // main untouched; branch readable at its head
    assert(Snapshots.read(spark, dir).collect().head.getString(1)
      == "main1")
    assert(Snapshots.readBranch(spark, dir, "wap")
      .collect().head.getString(1) == "staged")
    // a branch-head version above the pointer survives vacuum even
    // with zero grace (it is a live ref, not a crashed orphan)
    assert(Snapshots.vacuum(spark, dir, keepLast = 1).isEmpty)
    // fast-forward: main still at the branch base -> publishes
    assert(Snapshots.publishBranch(spark, dir, "wap") == Right(2L))
    assert(Snapshots.read(spark, dir).collect().head.getString(1)
      == "staged")
    // a second branch cut at v2, then main moves -> publish conflicts
    Snapshots.createBranch(spark, dir, "late")
    Snapshots.commitToBranch(spark,
      Seq((1, "late-work")).toDF("id", "s"), dir, "late")
    Snapshots.commit(spark, Seq((1, "main-moved")).toDF("id", "s"), dir)
    val r = Snapshots.publishBranch(spark, dir, "late")
    assert(r.isLeft && r.left.exists(_.contains("conflict")), r.toString)
    // the branch head is still intact for a rebase
    assert(Snapshots.readBranch(spark, dir, "late")
      .collect().head.getString(1) == "late-work")
    Snapshots.dropBranch(spark, dir, "late")
  }

  test("version allocator honors live _claim markers: a CAS writer " +
    "that claimed-but-not-yet-renamed never loses its slot to a " +
    "plain or branch commit") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-claim-alloc").toString + "/t"
    Snapshots.commit(spark, Seq((1, "main1")).toDF("id", "s"), dir)
    Snapshots.createBranch(spark, dir, "b")
    // simulate an in-flight commitCAS: _claim.2 exists, v=2 does not
    assert(new java.io.File(new java.io.File(dir), "_claim.2")
      .createNewFile())
    // both allocator-driven paths must skip the claimed slot
    assert(Snapshots.commitToBranch(spark,
      Seq((2, "branch")).toDF("id", "s"), dir, "b") == 3L)
    assert(Snapshots.commit(spark,
      Seq((3, "main2")).toDF("id", "s"), dir) == 4L)
    // the claimed slot is still free for its owner's rename
    assert(!new java.io.File(s"$dir/v=2").exists())
    // a retired (.stale-) marker does NOT occupy a slot
    val d2 = java.nio.file.Files
      .createTempDirectory("graft-claim-stale").toString + "/t"
    Snapshots.commit(spark, Seq((1, "x")).toDF("id", "s"), d2)
    assert(new java.io.File(new java.io.File(d2),
      "_claim.2.stale-dead").createNewFile())
    assert(Snapshots.commit(spark,
      Seq((2, "y")).toDF("id", "s"), d2) == 2L)
  }

  test("commitCAS nested-merge backstop: an occupied slot with NO " +
    "claim marker (pre-claim-era rollback leftover) conflicts instead " +
    "of corrupting — the old data stays intact, the stage is removed") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cas-nested").toString + "/t"
    assert(Snapshots.commitCAS(spark,
      Seq((0, "base")).toDF("id", "s"), dir, 0L) == Right(1L))
    // plant an occupied v=2 with no claim marker: the state a plain
    // commit + rollback left behind before commit() claimed slots
    Seq((2, "old-v2")).toDF("id", "s").write.parquet(s"$dir/v=2")
    val r = Snapshots.commitCAS(spark,
      Seq((2, "clobber")).toDF("id", "s"), dir, 1L)
    assert(r.isLeft && r.swap.toOption.get.contains("already exists"),
      r.toString)
    // v=2 was NOT merged-into: exactly the old rows, no nested stage
    val inside = new java.io.File(s"$dir/v=2").listFiles()
      .filter(_.isDirectory)
    assert(inside.isEmpty, inside.mkString(","))
    assert(spark.read.parquet(s"$dir/v=2").collect()
      .map(_.getString(1)).toSeq == Seq("old-v2"))
    // the loser's staging is gone and its claim was retired
    val d = new java.io.File(dir)
    assert(stages(dir).isEmpty)
    assert(!new java.io.File(d, "_claim.2").exists())
    assert(d.listFiles().exists(_.getName.startsWith("_claim.2.stale-")))
    // table head is untouched
    assert(Snapshots.latestVersion(spark, dir) == 1L)
  }

  test("plain commit claims its slot: a racing main committer and " +
    "branch committer always take distinct versions") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-main-br-race").toString + "/t"
    Snapshots.commit(spark, Seq((1, "main1")).toDF("id", "s"), dir)
    // the marker persists alongside its version
    assert(new java.io.File(new java.io.File(dir), "_claim.1").exists())
    Snapshots.createBranch(spark, dir, "b")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val fm = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await()
          Snapshots.commit(spark,
            Seq((1, "main2")).toDF("id", "s"), dir) }
      })
      val fb = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { gate.await()
          Snapshots.commitToBranch(spark,
            Seq((1, "branch")).toDF("id", "s"), dir, "b") }
      })
      gate.countDown()
      val (vm, vb) = (fm.get(), fb.get())
      assert(vm != vb, s"main and branch both took v=$vm")
      assert(Set(vm, vb) == Set(2L, 3L), s"$vm/$vb")
      // neither clobbered the other: each slot holds exactly its own
      assert(Snapshots.read(spark, dir).collect()
        .map(_.getString(1)).toSeq == Seq("main2"))
      assert(Snapshots.readBranch(spark, dir, "b").collect()
        .map(_.getString(1)).toSeq == Seq("branch"))
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
    Snapshots.vacuum(spark, dir, keepLast = 5, orphanGraceMs = 1000L)
    assert(!new java.io.File(d, "_claim.7").exists(), "corpse not swept")
    assert(new java.io.File(d, "_claim.9").exists(), "fresh claim swept")
    // _claim.1 guards a surviving version — never an orphan
    assert(new java.io.File(d, "_claim.1").exists())
  }

  test("concurrent commits to two branches claim distinct slots and " +
    "each branch reads exactly its own data") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-br-race").toString + "/t"
    Snapshots.commit(spark, Seq((1, "main1")).toDF("id", "s"), dir)
    Snapshots.createBranch(spark, dir, "ba")
    Snapshots.createBranch(spark, dir, "bb")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      def racer(branch: String) = pool.submit(
        new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.await()
            Snapshots.commitToBranch(spark,
              Seq((1, branch)).toDF("id", "s"), dir, branch)
          }
        })
      val (fa, fb) = (racer("ba"), racer("bb"))
      gate.countDown()
      val (va, vb) = (fa.get(), fb.get())
      assert(va != vb, s"both branches claimed v=$va")
      assert(Set(va, vb) == Set(2L, 3L), s"$va/$vb")
      assert(Snapshots.readBranch(spark, dir, "ba")
        .collect().map(_.getString(1)).toSeq == Seq("ba"))
      assert(Snapshots.readBranch(spark, dir, "bb")
        .collect().map(_.getString(1)).toSeq == Seq("bb"))
      // no version directory contains a nested stage (the local-FS
      // rename-merge failure mode the claim marker exists to prevent)
      Seq(va, vb).foreach { v =>
        val nested = new java.io.File(s"$dir/v=$v").listFiles()
          .filter(_.isDirectory)
        assert(nested.isEmpty, nested.mkString(","))
      }
    } finally pool.shutdown()
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
    val (nv, _) = Snapshots.compactVersion(spark, dir,
      targetBytes = 1L << 30)
    assert(nv == 4L)
    // the compacted head must carry the source's _epoch.2 marker —
    // Compaction.listDataFiles rightly skips _-prefixed files, so
    // without the explicit copy the fence silently vanished here
    assert(new java.io.File(s"$dir/v=4/_epoch.2").exists(),
      "compaction must carry the epoch marker forward")
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
    assert(new java.io.File(s"$dir/v=2/_epoch.1").createNewFile())
    assert(new java.io.File(d, "_claim.2").createNewFile())
    // the replay must publish the EXISTING complete attempt, not
    // duplicate the epoch into a fresh slot above it
    val r = Snapshots.commitWithEpoch(spark,
      Seq((1, "e1-replay")).toDF("id", "s"), dir, 1L)
    assert(r == Right(2L), r.toString)
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    assert(Snapshots.read(spark, dir).collect().head.getString(1)
      == "e1-original")
    // exactly ONE version carries _epoch.1 — time travel can never
    // serve the epoch twice
    val marked = d.listFiles().filter(_.getName.startsWith("v=")).toSeq
      .filter(v => new java.io.File(v, "_epoch.1").exists())
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
    val (pruned, ps) = Snapshots.readPruned(spark, dir, "id",
      BigDecimal(3), BigDecimal(3), version = 2)
    assert(ps.filesRead + ps.filesSkipped >= 1)
    assert(pruned.filter(col("id") === 3).count() == 1)
  }

  test("epoch-fenced and quality-gated commits seal stats/bloom " +
    "sidecars — streaming and WAP tables stay pruning-capable") {
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
    assert(new java.io.File(s"$dir/v=1/_epoch.0").exists())
    val (_, ps) = Snapshots.readPruned(spark, dir, "k",
      BigDecimal(0), BigDecimal(10))
    assert(ps.filesSkipped >= 1, ps.toString)
    val (pl, _) = Snapshots.readPointLookup(spark, dir, "uid", "u-150")
    assert(pl.filter(col("uid") === "u-150").count() == 1)
    // WAP: an accepted batch seals sidecars; a rejected one leaves
    // nothing (and pays no stats scan)
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-wap-stats").toString + "/t"
    val ok = Snapshots.commitChecked(spark, df, dir2,
      staged => Seq(DataQuality.uniqueKey(staged, Seq("k"), "pk")),
      statsCols = Seq("k"))
    assert(ok == Right(1L))
    assert(new java.io.File(s"$dir2/v=1/_stats.json").exists())
    val bad = Snapshots.commitChecked(spark,
      df.unionAll(df), dir2,
      staged => Seq(DataQuality.uniqueKey(staged, Seq("k"), "pk")),
      statsCols = Seq("k"))
    assert(bad.isLeft)
    assert(Snapshots.latestVersion(spark, dir2) == 1L)
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
    val (v2, d1) = Snapshots.deleteWhere(spark, dir,
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
    val (pruned, ps2) = Snapshots.readPruned(spark, dir, "k",
      BigDecimal(300), BigDecimal(399))
    assert(ps2.filesSkipped >= 1)
    assert(pruned.filter(col("k") >= 300).count() == 100)
    // bloom-decided delete: an equality predicate on the unclustered
    // column rewrites only bloom-admitting files
    val (v3, d2) = Snapshots.deleteWhere(spark, dir,
      col("uid") === "u-250")
    assert(v3 == 3L && d2.rowsChanged == 1, d2.toString)
    assert(d2.filesCopied >= 1, s"bloom must spare some file: $d2")
    assert(Snapshots.read(spark, dir).count() == 348)
    // update: one matching row changes in place, counts preserved
    val (v4, u1) = Snapshots.updateWhere(spark, dir,
      col("k") === 300, Map("uid" -> lit("CHANGED")))
    assert(v4 == 4L && u1.rowsChanged == 1, u1.toString)
    assert(u1.filesCopied >= 2, u1.toString)
    val after = Snapshots.read(spark, dir)
    assert(after.count() == 348)
    assert(after.filter(col("uid") === "CHANGED").collect()
      .map(_.getLong(0)).toSeq == Seq(300L))
    // provable no-op: every file range-skipped → nothing publishes
    val (v5, d3) = Snapshots.deleteWhere(spark, dir,
      col("k").between(10000, 10001))
    assert(v5 == 4L && d3 == Snapshots.RewriteStats(0, 0, 0, 0))
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
    val (v2, m1) = Snapshots.mergeInto(spark, dir, src, Seq("k"))
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
    val (pr, psr) = Snapshots.readPruned(spark, dir, "k",
      BigDecimal(300), BigDecimal(399))
    assert(psr.filesSkipped >= 1)
    assert(pr.filter(col("k").between(300, 399)).count() == 100)
    val (pl, plStats) = Snapshots.readPointLookup(spark, dir,
      "k", "350")
    assert(pl.filter(col("k") === 350).count() == 1)
    assert(plStats.filesRead + plStats.filesSkipped >= 4)
    // routing bound: a batch over maxRoutedKeys rewrites everything
    val (v3, m2) = Snapshots.mergeInto(spark, dir,
      Seq((30L, "x"), (330L, "y")).toDF("k", "uid"), Seq("k"),
      maxRoutedKeys = 1)
    assert(v3 == 3L && m2.filesCopied == 0, m2.toString)
    assert(Snapshots.read(spark, dir).count() == 401)
    // DESCRIBE HISTORY: metadata-only version log — rows from the
    // manifest (never a scan), sidecar presence, publish status
    Snapshots.tag(spark, dir, "audit", 2L)
    val h = Snapshots.history(spark, dir)
    assert(h.map(_.version) == Seq(1L, 2L, 3L))
    assert(h.forall(_.published))
    assert(h.map(_.rows) == Seq(Some(400L), Some(401L), Some(401L)))
    assert(h.forall(v => v.hasStats && v.bloomCols == Seq("k")))
    assert(h.find(_.version == 2L).get.tags == Seq("audit"))
    assert(h.forall(_.nDataFiles >= 1))
  }

  test("mergeApply: the full clause surface — matched delete before " +
    "conditional update (first match wins), conditional insert with " +
    "NULL fill, NOT MATCHED BY SOURCE sync — keyed routing intact") {
    import org.apache.spark.sql.functions.col
    import Snapshots.{MergeDelete, MergeInsert, MergeUpdate, scol, tcol}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mapply").toString + "/t"
    val base = (0L until 400L).map(i => (i, i, s"u-$i"))
      .toDF("k", "qty", "uid").repartitionByRange(4, col("k"))
    Snapshots.commitWithStats(spark, base, dir, statsCols = Seq("k"))
    // source keys 10/20/30 match (quartile 1), 1000/2000 do not
    val src = Seq((10L, 5L), (20L, 5L), (30L, 999L), (1000L, 1L),
      (2000L, 999L)).toDF("id", "amt")
    val (v2, st) = Snapshots.mergeApply(spark, dir, src,
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
    val (v3, st2) = Snapshots.mergeApply(spark, dir, src2,
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
    val hfs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(Snapshots.readDml(hfs, s"$dir/v=2").exists(_._2 == "merge"))
    // MERGE cardinality: two source rows matching ONE target row
    // refuse with the SQL-standard error, never silent duplication
    val dupSrc = Seq((5L, 1L), (5L, 2L)).toDF("id", "amt")
    val e = intercept[IllegalStateException] {
      Snapshots.mergeApply(spark, dir, dupSrc, on = Seq(("k", "id")),
        matched = Seq(MergeUpdate(None, Map("qty" -> scol("amt")))))
    }
    assert(e.getMessage.contains("at most one source row"),
      e.getMessage)
    assert(Snapshots.read(spark, dir).count() == 49L,
      "refused merge must publish nothing")
    // a typo'd SET column refuses instead of no-op'ing N rows
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.mergeApply(spark, dir,
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
    val (v2, d) = Snapshots.deleteWhere(spark, dir, col("s") === "a")
    assert(v2 == 2L && d.rowsChanged == 1, d.toString)
    assert(d.filesCopied == 0, "no manifest: everything rewrites")
    val left = Snapshots.read(spark, dir).orderBy("k").collect()
      .map(_.getLong(0)).toSeq
    assert(left == Seq(2L, 3L), s"null-pred row lost: $left")
    // merge on the same manifest-less table: full rewrite, correct rows
    val (v3, m) = Snapshots.mergeInto(spark, dir,
      Seq((3L, Some("C")), (9L, Some("i"))).toDF("k", "s"), Seq("k"))
    assert(v3 == 3L && m.filesCopied == 0 && m.rowsChanged == 2,
      m.toString)
    val after = Snapshots.read(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null
        else r.getString(1))).toSeq
    assert(after == Seq((2L, null), (3L, "C"), (9L, "i")), after)
  }
}
