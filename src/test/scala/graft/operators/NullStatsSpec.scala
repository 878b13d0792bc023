package graft.operators

import graft.SparkSpec
import graft.operators.FileStats.{IsNullPred, NotNullPred}
import org.apache.spark.sql.functions._

/** Per-column non-null counts in the stats manifest (Delta's
  * nullCount analog) and everything they soundly unlock: IS [NOT]
  * NULL file skipping, metadata-only count(col), and top-k pruning
  * with guaranteed-value counts. "Absent count" must always mean
  * UNKNOWN (kept), never zero — pre-nn manifests stay readable and
  * conservative.
  */
class NullStatsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** 4 files by bucket: b0 has v ALL NULL; b1..b3 hold v in
    * [0,100), [100,200), [200,300). */
  private def store(): String = {
    val dir = freshDir("graft-nn")
    val df = (0L until 400L).map { i =>
      val b = i / 100
      (i, if (b == 0) None else Some((b - 1) * 100 + i % 100), b)
    }.toDF("k", "v", "b").repartition(col("b"))
    Snapshots.commitWithStats(spark, df, dir, statsCols = Seq("k", "v"),
      partitionByCols = Seq("b"))
    dir
  }

  test("the manifest round-trips non-null counts; pre-nn lines " +
    "read back as unknown and keep conservatively") {
    val dir = store()
    val m = FileStats.readManifest(spark, s"$dir/v=1")
    assert(m.size == 4)
    assert(m.map(_.nonNull("v")).sorted == Seq(0L, 100L, 100L, 100L))
    assert(m.forall(_.nonNull("k") == 100L))
    // IS NOT NULL skips exactly the all-null file; IS NULL the rest
    val (kNn, sNn) = FileStats.prune(m, Seq(NotNullPred("v")))
    assert(kNn.size == 3 && sNn.size == 1)
    val (kN, sN) = FileStats.prune(m, Seq(IsNullPred("v")))
    assert(kN.size == 1 && sN.size == 3)
    // an OLD-format manifest (no "nn") keeps everything for both
    val old = m.map(e => e.copy(nonNull = Map.empty))
    assert(FileStats.prune(old, Seq(NotNullPred("v")))._2.isEmpty)
    assert(FileStats.prune(old, Seq(IsNullPred("v")))._2.isEmpty)
    // and write/read round-trips the empty-nn form
    val dir2 = freshDir("graft-nnold")
    val f = new org.apache.hadoop.fs.Path(dir2).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(dir2))
    FileStats.writeEntries(spark, dir2, old)
    val back = FileStats.readManifest(spark, dir2)
    assert(back.forall(_.nonNull.isEmpty))
    assert(back.map(_.cols).toSet == old.map(_.cols).toSet)
  }

  test("a PLAIN filtered read skips all-null files through the " +
    "planner: explicit isNotNull and the injected constraint both") {
    val dir = store()
    val q1 = Snapshots.table(spark, dir).filter(col("v").isNotNull)
    assert(q1.count() == 300L)
    val ps1 = graft.plans.StatsFileIndex.indexOf(q1)
      .flatMap(_.lastPrune).get
    assert(ps1.filesSkipped == 1L, ps1)
    // v > 150: constraint propagation injects isnotnull(v), so the
    // all-null file skips IN ADDITION to the range prune (b1 too)
    val q2 = Snapshots.table(spark, dir).filter(col("v") > 150)
    assert(q2.count() == 149L)
    val ps2 = graft.plans.StatsFileIndex.indexOf(q2)
      .flatMap(_.lastPrune).get
    assert(ps2.filesSkipped == 2L, ps2)
    // IS NULL: only the all-null file can match
    val q3 = Snapshots.table(spark, dir).filter(col("v").isNull)
    assert(q3.count() == 100L)
    val ps3 = graft.plans.StatsFileIndex.indexOf(q3)
      .flatMap(_.lastPrune).get
    assert(ps3.filesRead == 1L && ps3.filesSkipped == 3L, ps3)
  }

  test("count(col) answers metadata-only from the non-null counts") {
    val dir = store()
    val q = Snapshots.table(spark, dir).agg(
      count(col("v")).as("nv"), count(col("k")).as("nk"),
      count(lit(1)).as("n"))
    val metadataOnly = q.queryExecution.optimizedPlan.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources
        .LogicalRelation => lr
    }.isEmpty
    assert(metadataOnly, q.queryExecution.optimizedPlan.toString)
    val r = q.head()
    assert(r.getLong(0) == 300L && r.getLong(1) == 400L &&
      r.getLong(2) == 400L)
  }

  test("readTopK prunes provably-beaten files, keeps unparseable " +
    "ones conservatively, and loses no top-k row") {
    val dir = store()
    val (df, ps) = PrunedReads.readTopK(spark, dir, "v", 10, desc = true)
    // b3 survives (the tail), b0 survives (all-null: no proof), b1/b2
    // are beaten by b3's 100 guaranteed non-null values
    assert(ps.filesRead == 2L && ps.filesSkipped == 2L, ps)
    val got = df.orderBy(col("v").desc_nulls_last).limit(10)
      .select("v").collect().map(_.getLong(0)).toSeq
    val want = Snapshots.read(spark, dir)
      .orderBy(col("v").desc_nulls_last).limit(10)
      .select("v").collect().map(_.getLong(0)).toSeq
    assert(got == want && got.head == 299L && got.last == 290L)
    // ascending mirror: b1 is the tail, b2/b3 beaten, b0 kept
    val (dfA, psA) = PrunedReads.readTopK(spark, dir, "v", 10,
      desc = false)
    assert(psA.filesRead == 2L && psA.filesSkipped == 2L, psA)
    assert(dfA.orderBy(col("v").asc_nulls_last).limit(10)
      .select("v").collect().map(_.getLong(0)).toSeq ==
      (0L until 10L))
    // k larger than any guarantee: nothing prunes
    val (_, psBig) = PrunedReads.readTopK(spark, dir, "v", 250)
    assert(psBig.filesSkipped == 0L, psBig)
  }

  test("nullsFirst top-k: proven nulls count as beaters, files that " +
    "may hide nulls never skip, and no top-k row is lost") {
    val dir = store()
    // DESC NULLS FIRST, k=10: b0's 100 proven nulls head the result
    // and beat every null-free file — only b0 must be read
    val (df, ps) = PrunedReads.readTopK(spark, dir, "v", 10,
      desc = true, nullsFirst = true)
    assert(ps.filesRead == 1L && ps.filesSkipped == 3L, ps)
    val got = df.orderBy(col("v").desc_nulls_first, col("k"))
      .limit(10).select("k").collect().map(_.getLong(0)).toSeq
    val want = Snapshots.read(spark, dir)
      .orderBy(col("v").desc_nulls_first, col("k"))
      .limit(10).select("k").collect().map(_.getLong(0)).toSeq
    assert(got == want)
    // k=150 spills past the nulls into the value tail: b3 (the top
    // value range) must also survive
    val (df2, ps2) = PrunedReads.readTopK(spark, dir, "v", 150,
      desc = true, nullsFirst = true)
    assert(ps2.filesRead == 2L && ps2.filesSkipped == 2L, ps2)
    val got2 = df2.orderBy(col("v").desc_nulls_first, col("k"))
      .limit(150).select("k").collect().map(_.getLong(0)).toSeq
    val want2 = Snapshots.read(spark, dir)
      .orderBy(col("v").desc_nulls_first, col("k"))
      .limit(150).select("k").collect().map(_.getLong(0)).toSeq
    assert(got2 == want2)
    // plain ASC in Spark is NULLS FIRST — the mode this flag exists
    // for: only the null-bearing file survives at k=10
    val (dfA, psA) = PrunedReads.readTopK(spark, dir, "v", 10,
      desc = false, nullsFirst = true)
    assert(psA.filesRead == 1L && psA.filesSkipped == 3L, psA)
    assert(dfA.orderBy(col("v").asc_nulls_first, col("k")).limit(10)
      .select("k").collect().map(_.getLong(0)).toSeq ==
      Snapshots.read(spark, dir)
        .orderBy(col("v").asc_nulls_first, col("k")).limit(10)
        .select("k").collect().map(_.getLong(0)).toSeq)
  }
}
