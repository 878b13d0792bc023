package graft.operators

import graft.SparkSpec
import graft.operators.FileStats.NumRange
import org.apache.spark.sql.functions._

/** OPTIMIZE ZORDER (SnapshotMaintenance.optimizeClustered): reclustering the
  * latest version must move FILE BOUNDARIES only — same row multiset,
  * strictly better pruning on the clustered columns, old versions
  * still served, sidecars recomputed, and the exactly-once epoch
  * fence carried through the rewrite like every other maintenance op.
  */
class ClusterOptimizeSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** 400 rows on a 20×20 (x, y) grid, committed SCATTERED: h = k%4 is
    * uncorrelated with x, so each of the 4 files spans the whole x
    * domain and no range prunes. */
  private def scatteredStore(): String = {
    val dir = freshDir("graft-zopt")
    val df = (0L until 400L)
      .map(k => (k, k % 20, (k / 20) % 20, k % 4))
      .toDF("k", "x", "y", "h")
      .repartition(col("h"))
    Snapshots.commitWithStats(spark, df, dir, statsCols = Seq("x"),
      partitionByCols = Seq("h"))
    dir
  }

  private def pruneCount(dir: String, version: Long,
      lo: Int, hi: Int): (Long, Long) = {
    val manifest = FileStats.readManifest(spark, s"$dir/v=$version")
    val (kept, skipped) = FileStats.prune(manifest,
      Seq(NumRange("x", Some(BigDecimal(lo)), Some(BigDecimal(hi)))))
    (kept.size.toLong, skipped.size.toLong)
  }

  test("recluster preserves the row multiset, improves pruning, and " +
    "leaves the old version time-travelable") {
    val dir = scatteredStore()
    // scattered: every file spans x=[0,19] — the range keeps all 4
    assert(pruneCount(dir, 1, 0, 4) == ((4L, 0L)))
    val (v2, cs) = SnapshotMaintenance.optimizeClustered(spark, dir,
      Seq("x", "y"), bits = 5, bucketWidth = 32L, quantizeCols = false)
    assert(v2 == 2L && cs.rows == 400L)
    assert(cs.filesBefore == 4L && cs.filesAfter > 4L)
    // clustered: x in [0,4] lives in a corner of the Morton grid
    val (kept, skipped) = pruneCount(dir, 2, 0, 4)
    assert(skipped > 0 && kept < cs.filesAfter,
      s"no pruning gain: kept=$kept skipped=$skipped of ${cs.filesAfter}")
    // identical row multiset (k is a key: set equality suffices)
    val before = Snapshots.read(spark, dir, 1)
      .select("k", "x", "y").collect().map(_.toSeq).toSet
    val after = Snapshots.read(spark, dir, 2)
      .select("k", "x", "y").collect().map(_.toSeq).toSet
    assert(after == before)
    // the cluster id materialized as a column
    assert(Snapshots.read(spark, dir, 2).columns.contains("z_bucket"))
    // old version still served as committed
    assert(Snapshots.read(spark, dir, 1).count() == 400L)
  }

  test("quantizeCols=true clusters double-typed dimensions from " +
    "observed bounds — rows preserved") {
    val dir = freshDir("graft-zoptq")
    val df = (0L until 300L)
      .map(k => (k, k.toDouble / 7.0, (300 - k).toDouble * 1.5))
      .toDF("k", "x", "y")
    Snapshots.commitWithStats(spark, df.repartition(4), dir,
      statsCols = Seq("x"))
    val (v2, cs) = SnapshotMaintenance.optimizeClustered(spark, dir,
      Seq("x", "y"), bits = 6, bucketWidth = 256L)
    assert(v2 == 2L && cs.rows == 300L)
    val ks = Snapshots.read(spark, dir, v2)
      .select("k").collect().map(_.getLong(0)).sorted
    assert(ks.toSeq == (0L until 300L))
  }

  test("the epoch fence survives reclustering: a replayed epoch is " +
    "still refused after optimize") {
    val dir = freshDir("graft-zopte")
    val df = (0L until 100L).map(k => (k, k % 10, k % 7))
      .toDF("k", "x", "y")
    assert(Snapshots.commitWithEpoch(spark, df, dir, epochId = 7L,
      statsCols = Seq("x")).isRight)
    SnapshotMaintenance.optimizeClustered(spark, dir,
      Seq("x", "y"), bits = 4, bucketWidth = 16L, quantizeCols = false)
    val replay = Snapshots.commitWithEpoch(spark, df, dir, epochId = 7L)
    assert(replay.isLeft, s"replayed epoch republished: $replay")
  }

  test("OPTIMIZE is re-runnable: the managed bucket column is " +
    "replaced, the schema stays stable, rows survive; a cluster-" +
    "column collision is refused") {
    val dir = freshDir("graft-zoptc")
    val df = (0L until 200L).map(k => (k, k % 20, (k / 20) % 10, k % 4))
      .toDF("k", "x", "y", "h").repartition(col("h"))
    Snapshots.commitWithStats(spark, df, dir, statsCols = Seq("x"),
      partitionByCols = Seq("h"))
    SnapshotMaintenance.optimizeClustered(spark, dir,
      Seq("x", "y"), bits = 5, bucketWidth = 64L, quantizeCols = false)
    val (v3, cs) = SnapshotMaintenance.optimizeClustered(spark, dir,
      Seq("x", "y"), bits = 5, bucketWidth = 64L, quantizeCols = false)
    assert(v3 == 3L && cs.rows == 200L)
    val after = Snapshots.read(spark, dir)
    assert(after.columns.count(_ == "z_bucket") == 1,
      after.columns.mkString(","))
    assert(after.select("k").collect().map(_.getLong(0)).sorted.toSeq
      == (0L until 200L))
    val e = intercept[IllegalArgumentException] {
      SnapshotMaintenance.optimizeClustered(spark, dir,
        Seq("x", "y"), bits = 5, bucketWidth = 64L, bucketCol = "x",
        quantizeCols = false)
    }
    assert(e.getMessage.contains("cluster column"))
  }

  test("a USER-owned column sharing the bucket name is refused, " +
    "never dropped; the managed-bucket marker carries through DML " +
    "so a later OPTIMIZE still recognizes its own column") {
    val dir = freshDir("graft-zown")
    // z_bucket here is USER DATA, not a prior OPTIMIZE's product
    val df = (0L until 100L).map(k => (k, k % 10, k % 7, k % 3))
      .toDF("k", "x", "y", "z_bucket")
    Snapshots.commit(spark, df, dir)
    val e = intercept[IllegalArgumentException] {
      SnapshotMaintenance.optimizeClustered(spark, dir,
        Seq("x", "y"), bits = 4, bucketWidth = 16L, quantizeCols = false)
    }
    assert(e.getMessage.contains("user data"), e.getMessage)
    // nothing was published, nothing destroyed
    assert(Snapshots.latestVersion(spark, dir) == 1L)
    val intact = Snapshots.read(spark, dir)
    assert(intact.columns.contains("z_bucket") && intact.count() == 100L)
    // a non-colliding bucket name proceeds and writes its marker
    val (v2, _) = SnapshotMaintenance.optimizeClustered(spark, dir,
      Seq("x", "y"), bits = 4, bucketWidth = 16L, bucketCol = "zb",
      quantizeCols = false)
    assert(v2 == 2L)
    // DML between OPTIMIZE runs must carry the marker forward...
    CopyOnWrite.deleteWhere(spark, dir, col("k") < 10L)
    // ...so the re-run drops/recomputes ITS column (zb) and keeps the
    // user's z_bucket untouched
    val (v4, cs) = SnapshotMaintenance.optimizeClustered(spark, dir,
      Seq("x", "y"), bits = 4, bucketWidth = 16L, bucketCol = "zb",
      quantizeCols = false)
    assert(cs.rows == 90L, cs)
    val after = Snapshots.read(spark, dir, v4)
    assert(after.columns.count(_ == "zb") == 1)
    assert(after.columns.contains("z_bucket"))
    assert(after.select("z_bucket").distinct().count() == 3L)
  }
}
