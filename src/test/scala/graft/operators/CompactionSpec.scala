package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  /** The data files of `dir` as (path, bytes), sorted by path. */
  private def listed(dir: String): Seq[(String, Long)] =
    Snapshots.listDataRel(Snapshots.fs(spark, dir),
      new org.apache.hadoop.fs.Path(dir))
      .map { case (r, n) => (s"$dir/$r", n) }.sortBy(_._1)

  private def compact(in: String, out: String, target: Long) =
    SnapshotMaintenance.packDir(spark, listed(in),
      new org.apache.hadoop.fs.Path(out), target)

  test("planBins: FFD packs under target, big files ride alone, " +
    "every file lands in exactly one bin") {
    val files = Seq(("a", 60L), ("b", 40L), ("c", 35L), ("d", 30L),
      ("e", 120L), ("f", 10L), ("g", 5L))
    val bins = SnapshotMaintenance.planBins(files, 100L)
    // every bin under target unless it is a lone big file
    bins.foreach { b =>
      val tot = b.map(_._2).sum
      assert(tot <= 100L || (b.length == 1 && b.head._2 >= 100L),
        s"overfull bin $b")
    }
    assert(bins.flatMap(_.map(_._1)).sorted ==
      files.map(_._1).sorted.toList)
    // 120 alone; 60+40, 35+30+10+5 or similar — never more than 4 bins
    assert(bins.length <= 4, bins.toString)
    assert(bins.exists(b => b.length == 1 && b.head._1 == "e"))
  }

  test("planBins: empty input and degenerate target") {
    assert(SnapshotMaintenance.planBins(Seq.empty, 100L).isEmpty)
    intercept[IllegalArgumentException] {
      SnapshotMaintenance.planBins(Seq(("a", 1L)), 0L)
    }
  }

  test("compact: many small parquet files merge, content is " +
    "row-identical, big files pass through unrewritten") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-compact").toString
    val inDir = s"$base/in"
    // 12 tiny single-row-group files
    (0 until 12).foreach { i =>
      Seq.tabulate(50)(j => (i * 50 + j, s"row-$i-$j"))
        .toDF("id", "s")
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    val files = listed(inDir)
    assert(files.length == 12, files.map(_._1).mkString("\n"))
    val small = files.head._2
    // target ≈ 4 small files per bin
    val stats = compact(inDir, s"$base/out", small * 4 + 100)
    assert(stats.nInputFiles == 12)
    assert(stats.nRewrittenFiles == 12 && stats.passthroughFiles == 0)
    val outFiles = listed(s"$base/out")
    assert(outFiles.length < 12 && outFiles.length >= 3,
      outFiles.map(_._1).mkString("\n"))
    // content identical regardless of file regrouping
    val a = spark.read.parquet(inDir).orderBy("id").collect()
    val b = spark.read.parquet(s"$base/out").orderBy("id").collect()
    assert(a.toSeq == b.toSeq)
    // second pass over the compacted dir: nothing left to rewrite
    val stats2 = compact(s"$base/out", s"$base/out2", small * 4 + 100)
    assert(stats2.nRewrittenFiles == 0 ||
      stats2.nRewrittenFiles < stats.nRewrittenFiles)
    val c = spark.read.parquet(s"$base/out2").orderBy("id").collect()
    assert(a.toSeq == c.toSeq)
  }
}
