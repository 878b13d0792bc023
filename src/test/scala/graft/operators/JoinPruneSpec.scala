package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dynamic file pruning for key joins (PrunedReads.readJoinPruned):
  * the dimension side's distinct keys route the fact scan through
  * stats bounds and bloom sidecars — superset guarantee, join still
  * row-level.
  */
class JoinPruneSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("dim keys route the fact read: range-disjoint files skip, " +
    "the join result is exactly the brute-force join") {
    val dir = freshDir("graft-jp")
    val fact = (0L until 400L).map(k => (k, k * 7, k / 100))
      .toDF("k", "payload", "b").repartition(col("b"))
    Snapshots.commitWithStats(spark, fact, dir, statsCols = Seq("k"),
      partitionByCols = Seq("b"), bloomCols = Seq("k"))
    val dim = Seq(5L, 17L, 93L, 350L).toDF("k")
    val (pruned, ps) = PrunedReads.readJoinPruned(spark, dir, "k", dim)
    // keys live in files b=0 and b=3 only
    assert(ps.filesRead == 2L && ps.filesSkipped == 2L, ps)
    val got = pruned.join(dim, "k").select("k", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq ==
      Seq(5L, 17L, 93L, 350L).map(k => (k, k * 7)))
    // empty dim: everything provably skips, the join matches nothing
    val (prunedE, psE) = PrunedReads.readJoinPruned(spark, dir, "k",
      Seq.empty[Long].toDF("k"))
    assert(psE.filesRead == 0L && psE.filesSkipped == 4L)
    assert(prunedE.count() == 0L)
    // above the key bound: read everything (plain join)
    val (_, psBig) = PrunedReads.readJoinPruned(spark, dir, "k", dim,
      maxKeys = 2)
    assert(psBig.filesSkipped == 0L)
  }

  test("bloom sidecars exclude in-range misses that bounds alone " +
    "would keep") {
    val dir = freshDir("graft-jpb")
    // every file spans the same k range (k % 4 striping), so bounds
    // never prune — only the blooms can
    val fact = (0L until 400L).map(k => (k, k % 4))
      .toDF("k", "b").repartition(col("b"))
    Snapshots.commitWithStats(spark, fact, dir, statsCols = Seq("k"),
      partitionByCols = Seq("b"), bloomCols = Seq("k"))
    val dim = Seq(8L).toDF("k") // 8 % 4 == 0: lives in file b=0 only
    val (pruned, ps) = PrunedReads.readJoinPruned(spark, dir, "k", dim)
    assert(ps.filesRead < 4L,
      s"blooms excluded nothing: $ps")
    val got = pruned.join(dim, "k").count()
    assert(got == 1L)
  }
}
