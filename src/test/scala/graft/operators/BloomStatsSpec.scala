package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bloom point-lookup sidecars: the keep decision is a superset
  * guarantee (the true file is always kept, matching rows never
  * lost), nulls set no bits, driver-side probe bits agree with the
  * executor-side manifest bits, and compaction recomputes the
  * sidecar for the new layout instead of silently dropping it.
  */
class BloomStatsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("point lookup opens strictly fewer files, keeps the true " +
    "file, loses no matching row; an absent value can prune to zero") {
    val dir = freshDir("graft-bloom")
    // 4 files; key k lives in exactly one bucket
    val df = (0L until 400L).map(i => (i, s"u-$i", i / 100))
      .toDF("k", "uid", "bucket").repartition(col("bucket"))
    Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("k"), partitionByCols = Seq("bucket"),
      bloomCols = Seq("uid"))
    // uid is NOT clustered: min/max on it would prune nothing — the
    // bloom is the only lever for this lookup
    val (pruned, ps) = prunedRead(dir, col("uid") === "u-250")
    assert(ps.filesRead + ps.filesSkipped == 4)
    assert(ps.filesRead < 4, s"bloom must prune: $ps")
    val got = pruned.collect()
    assert(got.length == 1 && got.head.getLong(0) == 250L)
    // a value that was never written: every kept file is a false
    // positive; whatever is read, zero rows match (never lossy)
    val (prunedNo, psNo) = prunedRead(dir, col("uid") === "u-99999")
    assert(prunedNo.count() == 0)
    assert(psNo.filesRead + psNo.filesSkipped == 4)
  }

  test("driver probe bits equal executor manifest bits; nulls set " +
    "no bits so an all-null file is skippable") {
    val dir = freshDir("graft-bloom-null")
    val df = Seq((1L, Some("present"), 0), (2L, None: Option[String], 1),
      (3L, None: Option[String], 1))
      .toDF("k", "s", "bucket").repartition(col("bucket"))
    df.write.partitionBy("bucket").parquet(dir)
    BloomStats.writeManifest(spark, dir, "s")
    val manifest = BloomStats.readManifest(spark, dir, "s")
    assert(manifest.size == 2)
    val allNull = manifest.find(_.relPath.contains("bucket=1")).get
    assert(allNull.bits.isEmpty && allNull.rows == 2)
    val hasVal = manifest.find(_.relPath.contains("bucket=0")).get
    // executor-side bits are exactly the driver-side probe bits of
    // the one present value (k=4 seeds, possibly colliding)
    val expect = (1 to hasVal.k)
      .map(i => BloomStats.bitOf(i, "present", hasVal.m)).toSet
    assert(hasVal.bits == expect, s"got ${hasVal.bits}, want $expect")
    // the probe for that value keeps bucket=0 and skips the all-null
    // file
    val (kept, skipped) = BloomStats.pruneEquals(manifest, "present")
    assert(kept.map(_.relPath) == Seq(hasVal.relPath))
    assert(skipped.map(_.relPath) == Seq(allNull.relPath))
  }

  test("compaction recomputes bloom sidecars for the new layout — " +
    "point lookups keep pruning after maintenance") {
    val dir = freshDir("graft-bloom-compact")
    val df = (0L until 200L).map(i => (i, s"u-$i", i / 100))
      .toDF("k", "uid", "bucket").repartition(4)
    Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("k"), partitionByCols = Seq("bucket"),
      bloomCols = Seq("uid"))
    val (nv, _) = SnapshotMaintenance.compact(spark, dir,
      targetBytes = 1L << 30)
    assert(new java.io.File(s"$dir/v=$nv/_bloom_uid.json").exists(),
      "compaction must recompute the bloom sidecar")
    val (pruned, ps) = prunedRead(dir, col("uid") === "u-150", nv)
    assert(ps.filesRead + ps.filesSkipped >= 2)
    assert(pruned.count() == 1)
  }
}
