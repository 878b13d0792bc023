package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exactly-once change-feed mirroring (Snapshots.mirrorAppends): the
  * destination's epoch fence is the consumer offset, so every crash
  * point — before a commit, between rename and publish, after
  * publish — replays to the same destination state, and a vacuumed
  * source gap fails loudly instead of silently dropping a batch.
  */
class MirrorSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def batch(lo: Long, hi: Long): DataFrame =
    (lo until hi).map(k => (k, s"s$k")).toDF("k", "s")

  /** The newest epoch the destination's published versions carry —
    * the consumer offset its fence resumes from. */
  private def lastEpoch(dir: String): Option[Long] =
    Snapshots.history(spark, dir).filter(_.published)
      .flatMap(_.epochs).maxOption

  test("mirror catches up version by version, is idempotent when " +
    "caught up, and picks up only new versions after") {
    val src = freshDir("graft-msrc")
    val dst = freshDir("graft-mdst")
    Snapshots.commit(spark, batch(0, 10), src)
    Snapshots.commit(spark, batch(10, 25), src)
    val done = Snapshots.mirrorAppends(spark, src, dst,
      _.filter(col("k") % 2 === 0))
    assert(done == Seq(1L, 2L))
    assert(lastEpoch(dst).contains(2L))
    // the destination is an append LOG — totals via the ranged replay
    assert(Snapshots.readAppendsSince(spark, dst, 0L).count() == 13,
      "evens in [0,25)")
    // caught up: nothing to do, destination unchanged
    assert(Snapshots.mirrorAppends(spark, src, dst,
      _.filter(col("k") % 2 === 0)).isEmpty)
    assert(Snapshots.latestVersion(spark, dst) == 2L)
    // one new source version → exactly one new mirror commit
    Snapshots.commit(spark, batch(25, 31), src)
    val more = Snapshots.mirrorAppends(spark, src, dst,
      _.filter(col("k") % 2 === 0))
    assert(more == Seq(3L))
    assert(Snapshots.readAppendsSince(spark, dst, 0L).count() == 16)
  }

  test("a crash mid-run resumes exactly-once: committed batches are " +
    "fenced out, the failed one re-commits") {
    val src = freshDir("graft-mcsrc")
    val dst = freshDir("graft-mcdst")
    Snapshots.commit(spark, batch(0, 5), src)
    Snapshots.commit(spark, batch(5, 9), src)
    Snapshots.commit(spark, batch(9, 14), src)
    // the "consumer" dies while transforming source v2: v1 is already
    // committed downstream
    var calls = 0
    val boom = intercept[RuntimeException] {
      Snapshots.mirrorAppends(spark, src, dst, { df =>
        calls += 1
        if (calls == 2) throw new RuntimeException("consumer crash")
        df
      })
    }
    assert(boom.getMessage == "consumer crash")
    assert(lastEpoch(dst).contains(1L))
    // retry: v1 is fenced (not re-applied), v2 and v3 commit once
    val resumed = Snapshots.mirrorAppends(spark, src, dst)
    assert(resumed == Seq(2L, 3L))
    val ks = Snapshots.readAppendsSince(spark, dst, 0L)
      .select("k").collect().map(_.getLong(0)).sorted
    assert(ks.toSeq == (0L until 14L), "duplicate or lost rows")
  }

  test("a vacuumed source gap fails loudly instead of skipping") {
    val src = freshDir("graft-mvsrc")
    val dst = freshDir("graft-mvdst")
    Snapshots.commit(spark, batch(0, 5), src)
    Snapshots.commit(spark, batch(5, 9), src)
    Snapshots.commit(spark, batch(9, 14), src)
    SnapshotMaintenance.vacuum(spark, src, keepLast = 1)
    val e = intercept[IllegalStateException] {
      Snapshots.mirrorAppends(spark, src, dst)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("ranged readers follow main's publication records: a crash " +
    "orphan that main skipped is never replayed, mirrored or listed " +
    "as published") {
    val src = freshDir("graft-mainline")
    Snapshots.commit(spark, batch(0, 5), src)                // v1 main
    plantCrashOrphan(src, 2L, batch(100, 103))               // v2 orphan
    Snapshots.commit(spark, batch(5, 9), src)                // v3 main
    assert(Snapshots.latestVersion(spark, src) == 3L)
    val replay = Snapshots.readAppendsSince(spark, src, 0L)
    assert(replay.select("_version").distinct().as[Long].collect()
      .sorted.toSeq == Seq(1L, 3L))
    assert(replay.select("k").as[Long].collect().sorted.toSeq ==
      (0L until 9L))
    val dst = freshDir("graft-mainline-dst")
    assert(Snapshots.mirrorAppends(spark, src, dst) == Seq(1L, 2L))
    assert(Snapshots.read(spark, dst).count() +
      Snapshots.read(spark, dst, 1L).count() == 9L)
    assert(Snapshots.history(spark, src)
      .map(h => (h.version, h.published)) ==
      Seq((1L, true), (2L, false), (3L, true)))
    // the orphan's bytes are left for vacuum, not rewritten
    assert(Snapshots.read(spark, src, 2L).count() == 3L)
  }

  test("batches conform to the source's latest schema before the " +
    "transform — old versions replay with typed NULLs") {
    val src = freshDir("graft-messrc")
    val dst = freshDir("graft-mesdst")
    Snapshots.commit(spark, (0L until 4L).map(k => (k, s"s$k"))
      .toDF("k", "s"), src)
    Snapshots.commit(spark, (4L until 8L).map(k => (k, s"s$k", k * 10))
      .toDF("k", "s", "extra"), src)
    Snapshots.mirrorAppends(spark, src, dst)
    val rows = Snapshots.read(spark, dst, 1).select("k", "extra")
      .collect()
    assert(rows.forall(_.isNullAt(1)),
      "v1 batch must carry a typed NULL for the added column")
    assert(Snapshots.read(spark, dst, 2)
      .select("extra").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(40L, 50L, 60L, 70L))
  }
}
