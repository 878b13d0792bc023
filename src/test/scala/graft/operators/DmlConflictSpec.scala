package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Commit-time conflict detection for concurrent DML (the commit
  * pipeline's Rebase policy): two writers on DISJOINT files must BOTH
  * land (the loser re-validates and re-executes); overlapping files
  * or an interleaved non-DML commit must abort LOUDLY — never a
  * silent lost update.
  *
  * The race is made deterministic by the pipeline's test seam
  * ([[PipelineHook]]): the competing statement commits at an exact
  * step of the statement under test — after it staged, before it
  * claims — so the statement always loses its claim and must take
  * the validation path.
  */
class DmlConflictSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def hfs =
    new org.apache.hadoop.fs.Path("/tmp").getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** v1 = 4 bucketed files with stats on k — DML routes per file. */
  private def build(dir: String): Unit = {
    val df = (0L until 400L).map(i => (i, i / 100))
      .toDF("k", "b").repartition(col("b"))
    Snapshots.commitWithStats(spark, df, dir, statsCols = Seq("k"),
      partitionByCols = Seq("b"))
  }

  /** (base, op, touched) of the provenance in a version's record. */
  private def dmlOf(vDir: String): Option[(Long, String, Seq[String])] =
    Snapshots.VersionDir.of(hfs, new org.apache.hadoop.fs.Path(vDir))
      .record.dml.map(d => (d.base, d.op, d.touched))

  /** A claim with no publisher: a committer that died after claiming. */
  private def squatNextSlot(dir: String): Unit =
    hfs.create(new org.apache.hadoop.fs.Path(dir, "_claim.2"),
      false).close()

  test("every DML version records its provenance: base version, op, " +
    "and exactly the files it rewrote") {
    val dir = freshDir("graft-txp")
    build(dir)
    CopyOnWrite.deleteWhere(spark, dir, col("k") <= 99L)
    val dml = dmlOf(s"$dir/v=2")
      .getOrElse(fail("no provenance on a DML version"))
    assert(dml._1 == 1L && dml._2 == "delete")
    assert(dml._3.size == 1 && dml._3.head.startsWith("b=0/"), dml._3)
    CopyOnWrite.updateWhere(spark, dir, col("k") === 399L,
      Map("k" -> lit(9999L)))
    val up = dmlOf(s"$dir/v=3").get
    assert(up._1 == 2L && up._2 == "update" &&
      up._3.head.startsWith("b=3/"))
    // non-DML versions carry none
    assert(dmlOf(s"$dir/v=1").isEmpty)
  }

  test("two writers on DISJOINT files both land: the loser " +
    "re-validates against the winner's provenance and re-executes") {
    val dir = freshDir("graft-txd")
    build(dir)
    var workerV = -1L
    // reads head v1, stages; the worker publishes v2; the statement
    // loses its claim of v2, validates disjointness, re-executes
    val (vB, rsB) = PipelineHook.raceAt(dir, "seal") {
      workerV = CopyOnWrite.deleteWhere(spark, dir, col("k") >= 350L)._1
    }(CopyOnWrite.deleteWhere(spark, dir, col("k") < 50L))
    assert(workerV == 2L, s"worker landed at $workerV")
    assert(vB == 3L, s"the re-executed statement landed at $vB")
    assert(rsB.rowsChanged == 50L)
    val t = Snapshots.read(spark, dir)
    assert(t.count() == 300L) // BOTH deletes applied
    assert(t.agg(min("k"), max("k")).head().toSeq == Seq(50L, 349L))
  }

  test("overlapping files abort loudly with " +
    "ConcurrentModificationException — never a silent lost update") {
    val dir = freshDir("graft-txo")
    build(dir)
    val e = intercept[java.util.ConcurrentModificationException] {
      // same bucket file (k<100 lives in b=0) as the worker's delete
      PipelineHook.raceAt(dir, "stage") {
        CopyOnWrite.deleteWhere(spark, dir, col("k") === 10L); ()
      }(CopyOnWrite.deleteWhere(spark, dir, col("k") < 50L))
    }
    assert(e.getMessage.contains("conflict"), e.getMessage)
    // the worker's statement alone is in effect
    assert(Snapshots.read(spark, dir).count() == 399L)
  }

  test("an interleaved NON-DML commit aborts the transaction — a " +
    "full rewrite invalidates any staged statement") {
    val dir = freshDir("graft-txn")
    build(dir)
    // the full commit lands while the statement HOLDS its claim: it
    // takes the next free slot above it and publishes first, so the
    // statement's head re-check withdraws the claim and validates
    val e = intercept[java.util.ConcurrentModificationException] {
      PipelineHook.raceAt(dir, "claim") {
        Snapshots.commit(spark,
          (0L until 10L).map(i => (i, 0L)).toDF("k", "b"), dir); ()
      }(CopyOnWrite.deleteWhere(spark, dir, col("k") < 50L))
    }
    assert(e.getMessage.contains("NON-DML"), e.getMessage)
    assert(Snapshots.read(spark, dir).count() == 10L)
  }

  test("a claimed-but-never-published slot surfaces a crashed-" +
    "committer diagnosis instead of waiting forever") {
    val dir = freshDir("graft-txc")
    build(dir)
    squatNextSlot(dir)
    val e = intercept[IllegalStateException] {
      CopyOnWrite.deleteWhere(spark, dir, col("k") < 50L,
        publishWaitMs = 400L)
    }
    assert(e.getMessage.contains("never published"), e.getMessage)
    // nothing published, nothing lost
    assert(Snapshots.latestVersion(spark, dir) == 1L)
    assert(Snapshots.read(spark, dir).count() == 400L)
  }

  test("publishIfHead never moves the pointer backwards: a Tx " +
    "commit whose head moved while it held the claim is withdrawn, " +
    "not published over the newer commit") {
    val dir = freshDir("graft-txw")
    build(dir)
    CopyOnWrite.deleteWhere(spark, dir, col("k") <= 99L) // head -> v2
    // a committer that staged against v1 must NOT publish v? over v2
    assert(!Snapshots.publishIfHead(spark, dir, expected = 1L, v = 3L))
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    // and with the right expectation it publishes normally
    Snapshots.commit(spark,
      (0L until 5L).map(i => (i, 0L)).toDF("k", "b"), dir) // v3
    assert(Snapshots.latestVersion(spark, dir) == 3L)
  }

  test("merge-on-read DML records tombstone-key provenance too: op " +
    "mor_delete/mor_update, touched = the files whose rows were " +
    "tombstoned") {
    val dir = freshDir("graft-txmp")
    build(dir)
    MergeOnRead.deleteWhere(spark, dir, col("k") <= 99L)
    val dml = dmlOf(s"$dir/v=2")
      .getOrElse(fail("no provenance on a MoR DML version"))
    assert(dml._1 == 1L && dml._2 == "mor_delete")
    assert(dml._3.size == 1 && dml._3.head.startsWith("v=1/b=0/"),
      dml._3)
    MergeOnRead.updateWhere(spark, dir, col("k") === 399L,
      Map("k" -> lit(9999L)))
    val up = dmlOf(s"$dir/v=3").get
    assert(up._2 == "mor_update" && up._3.head.startsWith("v=1/b=3/"))
  }

  test("two concurrent MoR deletes: the Tx loser re-executes on the " +
    "winner's head — BOTH tombstone sets apply, never last-write-wins") {
    val dir = freshDir("graft-txmd")
    build(dir)
    var workerV = -1L
    // reads head v1, stages refs+tombstones; the worker publishes v2;
    // the statement loses its claim and re-stages on v2 — the
    // re-staged version carries the WORKER's tombstones too
    val (vB, msB) = PipelineHook.raceAt(dir, "seal") {
      workerV = MergeOnRead.deleteWhere(spark, dir, col("k") >= 350L)._1
    }(MergeOnRead.deleteWhere(spark, dir, col("k") < 50L))
    assert(workerV == 2L, s"worker landed at $workerV")
    assert(vB == 3L, s"the re-executed statement landed at $vB")
    assert(msB.tombstonesAdded == 50L && msB.tombstonesTotal == 100L,
      msB)
    val t = Snapshots.read(spark, dir)
    assert(t.count() == 300L) // BOTH deletes applied
    assert(t.agg(min("k"), max("k")).head().toSeq == Seq(50L, 349L))
  }

  test("a MoR Tx statement racing a COPY-ON-WRITE commit re-executes " +
    "on the new self-contained head and both land") {
    val dir = freshDir("graft-txmx")
    build(dir)
    val (vB, msB) = PipelineHook.raceAt(dir, "stage") {
      CopyOnWrite.deleteWhere(spark, dir, col("k") >= 390L); ()
    }(MergeOnRead.deleteWhere(spark, dir, col("k") < 10L))
    assert(vB == 3L && msB.tombstonesAdded == 10L)
    assert(Snapshots.read(spark, dir).count() == 380L)
    // crashed-committer diagnosis on a never-published claim
    val dir2 = freshDir("graft-txmc")
    build(dir2)
    squatNextSlot(dir2)
    val e = intercept[IllegalStateException] {
      MergeOnRead.deleteWhere(spark, dir2, col("k") < 50L,
        publishWaitMs = 400L)
    }
    assert(e.getMessage.contains("never published"), e.getMessage)
    assert(Snapshots.latestVersion(spark, dir2) == 1L)
  }

  test("with no contention the Tx path is just the plain path: " +
    "lands at head+1, provenance recorded, no-ops publish nothing") {
    val dir = freshDir("graft-txq")
    build(dir)
    val (v2, rs) = CopyOnWrite.updateWhere(spark, dir,
      col("k") === 5L, Map("k" -> lit(-5L)))
    assert(v2 == 2L && rs.filesRewritten == 1L)
    assert(Snapshots.read(spark, dir).filter(col("k") === -5L)
      .count() == 1L)
    // provably-no-op delete: nothing published
    val (v2b, rs2) = CopyOnWrite.deleteWhere(spark, dir,
      col("k") === 777777L)
    assert(v2b == 2L && rs2.filesRewritten == 0L)
  }

  test("MERGE runs the same commit-race protocol: provenance " +
    "recorded, a disjoint concurrent writer re-validates and both " +
    "land, an overlapping one aborts — never a silent revert") {
    val dir = freshDir("graft-txm2")
    build(dir)
    // provenance: merge on keys 0..4 routes to b=0's file only
    val src = (0L to 4L).map(i => (i, 0L)).toDF("k", "b")
    val (v2, _) = CopyOnWrite.mergeInto(spark, dir, src, Seq("k"))
    assert(v2 == 2L)
    val dml = dmlOf(s"$dir/v=2")
      .getOrElse(fail("merge published no provenance"))
    assert(dml._1 == 1L && dml._2 == "merge", dml)
    assert(dml._3.size == 1 && dml._3.head.startsWith("b=0/"), dml._3)
    // disjoint race: worker deletes in b=3 while the merge (routed
    // to b=0) is staged — the merge loses its claim of v3,
    // re-validates and re-stages
    var workerV = -1L
    val upd = (0L to 4L).map(i => (i, 0L)).toDF("k", "b")
    val (vM, rsM) = PipelineHook.raceAt(dir, "seal") {
      workerV = CopyOnWrite.deleteWhere(spark, dir, col("k") >= 350L)._1
    }(CopyOnWrite.mergeInto(spark, dir,
      upd.withColumn("k", col("k") + 1000L), Seq("k")))
    assert(workerV == 3L && vM == 4L, s"worker=$workerV merge=$vM")
    assert(rsM.rowsChanged == 5L)
    // both landed: 400 - 50 deleted + 5 inserted (keys 1000..1004)
    assert(Snapshots.read(spark, dir).count() == 355L)
    // overlap: worker deletes in b=0, merge also routed to b=0 → CME
    val dir2 = freshDir("graft-txm3")
    build(dir2)
    val e = intercept[java.util.ConcurrentModificationException] {
      PipelineHook.raceAt(dir2, "seal") {
        CopyOnWrite.deleteWhere(spark, dir2, col("k") === 10L); ()
      }(CopyOnWrite.mergeInto(spark, dir2,
        (0L to 4L).map(i => (i, 0L)).toDF("k", "b"), Seq("k")))
    }
    assert(e.getMessage.contains("conflict"), e.getMessage)
    // the worker's statement alone is in effect
    assert(Snapshots.read(spark, dir2).count() == 399L)
  }
}
