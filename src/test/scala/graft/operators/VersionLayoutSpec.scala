package graft.operators

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** A version directory holds its data files, its one metadata record
  * `_version.json`, the pruning manifests `_stats.json` /
  * `_bloom_<col>.json` when the table tracks them, a merge-on-read
  * version's `_dv/` deletion-vector parquet, and their `.crc` files —
  * nothing else, whichever statement wrote it; and a version written
  * by the layout before the record is refused, never read. */
class VersionLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def hfs = org.apache.hadoop.fs.FileSystem.getLocal(
    spark.sparkContext.hadoopConfiguration)

  /** Every file under `vDir`, as a path relative to it. */
  private def filesUnder(vDir: String): Seq[String] = {
    val root = new java.io.File(vDir).toPath
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  /** Whether `rel` may sit in a version directory: a data file (in
    * partition directories), the record, a manifest, a dv parquet
    * file under `_dv/dv-<uuid>/`, or the `.crc` of one of them. */
  private def allowed(rel: String): Boolean = {
    val segs = rel.split('/').toSeq
    val name = segs.last
    val base =
      if (name.startsWith(".") && name.endsWith(".crc"))
        name.drop(1).dropRight(4)
      else name
    val dirs = segs.dropRight(1)
    if (dirs.headOption.contains("_dv"))
      dirs.size == 2 && dirs(1).startsWith("dv-") && !base.startsWith("_")
    else if (base.startsWith("_"))
      dirs.isEmpty && (base == "_version.json" || base == "_stats.json" ||
        base.startsWith("_bloom_") && base.endsWith(".json"))
    else dirs.forall(d => !d.startsWith("_") && !d.startsWith("."))
  }

  private def assertLayout(dir: String, what: String): Unit = {
    val v = Snapshots.latestVersion(spark, dir)
    val files = filesUnder(s"$dir/v=$v")
    assert(files.contains("_version.json"), s"$what: v=$v $files")
    val stray = files.filterNot(allowed)
    assert(stray.isEmpty, s"$what wrote ${stray.mkString(", ")} in v=$v")
  }

  test("every statement's version holds only data, record, manifests") {
    val dir = freshDir("graft-layout")
    val df = (0L until 400L).map(i => (i, i / 100, i % 17, s"u$i"))
      .toDF("k", "b", "y", "uid").repartition(col("b"))
    Snapshots.commitWithStats(spark, df, dir, statsCols = Seq("k"),
      partitionByCols = Seq("b"), bloomCols = Seq("uid"))
    assertLayout(dir, "commit")
    Snapshots.appendVersion(spark,
      Seq((900L, 9L, 1L, "u900")).toDF("k", "b", "y", "uid"), dir)
    assertLayout(dir, "append")
    CopyOnWrite.deleteWhere(spark, dir, col("k") < 10L)
    assertLayout(dir, "copy-on-write delete")
    CopyOnWrite.updateWhere(spark, dir, col("k") === 20L,
      Map("uid" -> lit("x")))
    assertLayout(dir, "copy-on-write update")
    CopyOnWrite.mergeInto(spark, dir,
      Seq((30L, 0L, 2L, "m"), (950L, 9L, 3L, "n"))
        .toDF("k", "b", "y", "uid"), Seq("k"))
    assertLayout(dir, "copy-on-write merge")
    MergeOnRead.deleteWhere(spark, dir, col("k").between(100L, 120L))
    assertLayout(dir, "merge-on-read delete")
    MergeOnRead.updateWhere(spark, dir, col("k") === 150L,
      Map("uid" -> lit("y")))
    assertLayout(dir, "merge-on-read update")
    MergeOnRead.fold(spark, dir)
    assertLayout(dir, "fold")
    MergeOnRead.deleteWhere(spark, dir, col("k") === 200L)
    MergeOnRead.purge(spark, dir)
    assertLayout(dir, "purge")
    // on a merge-on-read head compaction folds; then it bin-packs
    SnapshotMaintenance.compact(spark, dir, targetBytes = 1L << 30)
    assertLayout(dir, "compact (fold)")
    SnapshotMaintenance.compact(spark, dir, targetBytes = 1L << 30)
    assertLayout(dir, "compact")
    SnapshotMaintenance.optimizeClustered(spark, dir, Seq("k", "y"),
      bits = 5, bucketWidth = 64L)
    assertLayout(dir, "ZORDER")
    // +1 append, -10 delete, +1 merge insert, -21 and -1 MoR deletes
    assert(Snapshots.read(spark, dir).count() == 370L)

    val edir = freshDir("graft-layout-epoch")
    assert(Snapshots.commitWithEpoch(spark, df, edir, 0L,
      statsCols = Seq("k")) == Right(1L))
    assertLayout(edir, "epoch commit")
    assert(Snapshots.appendWithEpoch(spark, df, edir, 1L) == Right(2L))
    assertLayout(edir, "epoch append")
  }

  test("a version of the layout before the record is refused") {
    val dir = freshDir("graft-layout-old")
    Snapshots.commit(spark, Seq((1L, "a")).toDF("k", "s"), dir)
    Seq("_version.json", "._version.json.crc")
      .foreach(n => new java.io.File(s"$dir/v=1", n).delete())
    // a bare version (no record, no retired sidecar) still reads
    assert(Snapshots.read(spark, dir).count() == 1L)
    val out = hfs.create(new Path(s"$dir/v=1/_dml.json"), true)
    try out.write("""{"base":0,"op":"delete","touched":[]}""".getBytes)
    finally out.close()
    val e = intercept[IllegalStateException](Snapshots.read(spark, dir))
    assert(e.getMessage.contains("_dml.json") &&
      e.getMessage.contains("_version.json"), e.getMessage)
  }
}
