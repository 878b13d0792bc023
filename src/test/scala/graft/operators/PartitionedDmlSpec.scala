package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Copy-on-write DML over PARTITIONED snapshot layouts: routing must
  * use directory-encoded partition values alongside the stats/bloom
  * sidecars, untouched files must byte-copy through in place, and
  * rewritten rows must re-route to the right partition directory when
  * an UPDATE changes a partition column.
  */
class PartitionedDmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** 400 rows, partitioned on h = k/100 (4 dirs), one file each,
    * stats on k (each file's k range = its partition's). */
  private def store(): String = {
    val dir = freshDir("graft-pdml")
    val df = (0L until 400L).map(k => (k, s"s$k", k / 100))
      .toDF("k", "s", "h").repartition(col("h"))
    Snapshots.commitWithStats(spark, df, dir, statsCols = Seq("k"),
      partitionByCols = Seq("h"))
    dir
  }

  test("delete routed by a stats column rewrites one partition's " +
    "file; the rest byte-copy and the manifest splices") {
    val dir = store()
    val (v2, st) = CopyOnWrite.deleteWhere(spark, dir, col("k") < 50)
    assert(v2 == 2L)
    assert(st.filesRewritten == 1L && st.filesCopied == 3L)
    assert(st.rowsChanged == 50L && st.rowsKeptInRewritten == 50L)
    val after = Snapshots.read(spark, dir)
    assert(after.count() == 350L)
    // partition column survives the rewrite and still partitions reads
    assert(after.filter(col("h") === 0).count() == 50L)
    // spliced manifest still prunes: k>=300 lives in one file
    val (_, ps) = prunedRead(dir, col("k").between(300, 399))
    assert(ps.filesRead == 1L && ps.filesSkipped == 3L, ps)
  }

  test("delete routed by the PARTITION column rewrites only that " +
    "directory — partition values are point stats") {
    val dir = store()
    val (v2, st) = CopyOnWrite.deleteWhere(spark, dir, col("h") === 2)
    assert(v2 == 2L)
    assert(st.filesRewritten == 1L && st.filesCopied == 3L, st)
    assert(st.rowsChanged == 100L && st.rowsKeptInRewritten == 0L)
    assert(Snapshots.read(spark, dir).count() == 300L)
    assert(Snapshots.read(spark, dir)
      .filter(col("h") === 2).count() == 0L)
  }

  test("an update that CHANGES the partition column re-routes rows " +
    "to the new directory") {
    val dir = store()
    val (v2, st) = CopyOnWrite.updateWhere(spark, dir,
      col("k").between(100, 149), Map("h" -> lit(9L)))
    assert(v2 == 2L && st.filesRewritten == 1L && st.filesCopied == 3L)
    val after = Snapshots.read(spark, dir)
    assert(after.count() == 400L)
    assert(after.filter(col("h") === 9).count() == 50L)
    assert(after.filter(col("h") === 1).count() == 50L)
    // the moved rows really live under h=9 on disk
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/v=2/h=9")))
  }

  test("merge into a partitioned table: key routing decodes one " +
    "file, inserts land in their partitions") {
    val dir = store()
    val src = Seq((120L, "updated", 1L), (777L, "inserted", 7L))
      .toDF("k", "s", "h")
    val (v2, st) = CopyOnWrite.mergeInto(spark, dir, src, Seq("k"))
    assert(v2 == 2L)
    assert(st.filesRewritten == 1L && st.filesCopied == 3L, st)
    val after = Snapshots.read(spark, dir)
    assert(after.count() == 401L)
    assert(after.filter(col("k") === 120L).select("s")
      .head().getString(0) == "updated")
    assert(after.filter(col("h") === 7).count() == 1L)
    // provably-no-op merge: empty source publishes nothing
    val empty = Seq.empty[(Long, String, Long)].toDF("k", "s", "h")
    val (v3, st3) = CopyOnWrite.mergeInto(spark, dir, empty, Seq("k"))
    assert(v3 == v2 && st3.rowsChanged == 0L)
  }

  test("merge routed by the PARTITION column itself (no manifest " +
    "stats for it) touches only the named directory") {
    // stats exist only for h2 — the route column h is decided purely
    // by its directory encoding
    val dir2 = freshDir("graft-pdmlp2")
    Snapshots.commitWithStats(spark,
      (0L until 200L).map(k => (k, k % 4)).toDF("h2", "h")
        .repartition(col("h")),
      dir2, statsCols = Seq("h2"), partitionByCols = Seq("h"))
    val src = Seq((1000L, 3L)).toDF("h2", "h")
    val (_, st) = CopyOnWrite.mergeInto(spark, dir2, src, Seq("h"))
    // route column h is partition-encoded: only h=3 rewrites
    assert(st.filesRewritten == 1L && st.filesCopied == 3L, st)
    assert(Snapshots.read(spark, dir2).count() == 151L)
  }
}
