package graft.plans

import graft.SparkSpec
import graft.operators.{BloomStats, FileStats, Snapshots}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planner-integrated file skipping: a PLAIN `spark.read.parquet`
  * (via the injected StatsPruneRule) or `Snapshots.table` read must
  * consult `_stats.json` at listing time — strictly fewer files in
  * the scan, PushedFilters untouched, zero lost rows — with
  * conservative fallbacks for non-range predicates, non-stats
  * columns, and manifest-less directories.
  */
class StatsFileIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** A 4-file store: bucket=i holds k in [i*100, i*100+99], with a
    * date-string column spanning one month per file. */
  private def buildStore(): String = {
    val dir = freshDir("graft-sfi")
    val df = (0L until 400L).map { i =>
      val month = i / 100 + 1
      (i, f"2024-$month%02d-${i % 28 + 1}%02d", i / 100)
    }.toDF("k", "d", "bucket").repartition(col("bucket"))
    Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("k", "d"), partitionByCols = Seq("bucket"))
    dir
  }

  /** Materialize `df` through ITS OWN QueryExecution (count()/select()
    * build a new one whose scan metrics would stay zero) and return
    * (row count, files scanned). */
  private def run(df: DataFrame): (Long, Long) = {
    val n = df.collect().length.toLong
    (n, scanOf(df).metrics("numFiles").value)
  }

  test("PLAIN spark.read.parquet prunes through the injected " +
    "StatsPruneRule: strictly fewer files, PushedFilters intact, " +
    "no lost row") {
    val dir = buildStore()
    val vDir = s"$dir/v=1"
    val full = spark.read.parquet(vDir)
    assert(full.count() == 400)
    // range [150, 249] lives in exactly buckets 1 and 2
    val q = spark.read.parquet(vDir)
      .filter(col("k").between(150, 249))
    val got = q.collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (150L to 249L), "pruning lost rows")
    val scan = scanOf(q)
    assert(scan.metrics("numFiles").value == 2,
      s"expected 2 of 4 files, scanned ${scan.metrics("numFiles").value}")
    // row-level pushdown still reaches the parquet reader
    assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual"),
      scan.metadata("PushedFilters"))
    // the index recorded the census
    val idx = StatsFileIndex.indexOf(q)
    assert(idx.isDefined, "rule did not attach the stats index")
    assert(idx.get.lastPrune.contains(
      FileStats.PruneStats(2, 2, 200, 200)), idx.get.lastPrune)
  }

  test("Snapshots.table prunes without the extension machinery; " +
    "string (date-text) predicates and IN lists prune too") {
    val dir = buildStore()
    // string range: months 2-3 only → buckets 1,2
    val (nS, fS) = run(Snapshots.table(spark, dir)
      .filter(col("d") >= "2024-02" && col("d") < "2024-04"))
    val wantS = spark.read.parquet(s"$dir/v=1")
      .filter(col("d") >= "2024-02" && col("d") < "2024-04").count()
    assert(nS == wantS && wantS == 200)
    assert(fS == 2, s"date-string range scanned $fS files")
    // equality: one bucket
    val (nE, fE) = run(Snapshots.table(spark, dir)
      .filter(col("k") === 250))
    assert(nE == 1 && fE == 1, s"eq: rows=$nE files=$fE")
    // IN list bounds [min,max]: values straddling two buckets
    val (nI, fI) = run(Snapshots.table(spark, dir)
      .filter(col("k").isin(10L, 20L, 110L)))
    assert(nI == 3 && fI == 2, s"in: rows=$nI files=$fI")
    // LIKE 'p%' / startsWith: one month prefix → one bucket
    val (nL, fL) = run(Snapshots.table(spark, dir)
      .filter(col("d").startsWith("2024-03")))
    assert(nL == 100 && fL == 1, s"startsWith: rows=$nL files=$fL")
  }

  test("bloom equality pruning rides the same planner path: a point " +
    "probe on an UNCLUSTERED column prunes via its sidecar through " +
    "plain table() filters — min/max alone could not") {
    val dir = freshDir("graft-sfi-bloom")
    // uid is random w.r.t. the bucket layout: every file's [min,max]
    // on uid covers the probe, so only the bloom can skip
    val df = (0L until 400L).map { i =>
      (i, s"u-${(i * 7919) % 400}", i / 100)
    }.toDF("k", "uid", "bucket").repartition(col("bucket"))
    // uid deliberately NOT in statsCols: min/max must have no lever
    // here, so the census equals the bloom-only decision
    Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("k"), partitionByCols = Seq("bucket"),
      bloomCols = Seq("uid"))
    val probe = s"u-${(250L * 7919) % 400}"
    val q = Snapshots.table(spark, dir).filter(col("uid") === probe)
    val (n, files) = run(q)
    val want = spark.read.parquet(s"$dir/v=1")
      .filter(col("uid") === probe).count()
    assert(n == want && n >= 1, s"bloom path lost rows: $n vs $want")
    assert(files < 4, s"bloom must skip some file, scanned $files")
    // census agrees with the pure bloom decision over the sidecar
    val (kept, skipped) = BloomStats.pruneEquals(
      BloomStats.readManifest(spark, s"$dir/v=1", "uid"), probe)
    val pure = FileStats.PruneStats(kept.size.toLong,
      skipped.size.toLong, kept.map(_.rows).sum, skipped.map(_.rows).sum)
    val planner = StatsFileIndex.indexOf(q).get.lastPrune.get
    assert(planner == pure, s"planner=$planner pure=$pure")
    // IN probes: keep any file admitting ANY candidate
    val (nI, fI) = run(Snapshots.table(spark, dir)
      .filter(col("uid").isin(probe, s"u-${(10L * 7919) % 400}")))
    assert(nI == 2 && fI <= 4, s"in-bloom: rows=$nI files=$fI")
  }

  test("conservative fallbacks: non-stats columns, non-range " +
    "predicates, and manifest-less directories read everything " +
    "and lose nothing") {
    val dir = buildStore()
    // bucket is a PARTITION column — its filter prunes via the
    // underlying partition pruning, not the manifest; combined with
    // a k-range both layers apply
    val qP = Snapshots.table(spark, dir)
      .filter(col("bucket") === 1 && col("k") <= 170)
    val (nP, fP) = run(qP)
    assert(nP == 71 && fP == 1, s"part+range: rows=$nP files=$fP")
    // the census is scoped to what partition pruning left visible —
    // 1 read / 0 skipped, never a whole-manifest overstatement
    assert(StatsFileIndex.indexOf(qP).get.lastPrune.contains(
      FileStats.PruneStats(1, 0, 100, 0)),
      StatsFileIndex.indexOf(qP).get.lastPrune)
    // conjunctive 2-D prune: k ∈ buckets {1,2} AND d ∈ months {1,2}
    // (buckets {0,1}) intersect to bucket 1 only — multiplicative
    val (nC, fC) = run(Snapshots.table(spark, dir)
      .filter(col("k").between(150, 249) && col("d") < "2024-03"))
    assert(fC == 1, s"conjunction must prune multiplicatively: $fC")
    assert(nC == spark.read.parquet(s"$dir/v=1")
      .filter(col("k").between(150, 249) && col("d") < "2024-03")
      .count())
    // an expression predicate the extractor must NOT touch
    val (nX, fX) = run(Snapshots.table(spark, dir)
      .filter(col("k") % 100 === 50))
    assert(nX == 4 && fX == 4, s"expr: rows=$nX files=$fX")
    // OR across columns: no conjunct-level range → no pruning
    val (nO, _) = run(Snapshots.table(spark, dir)
      .filter(col("k") === 5 || col("d") === "2024-03-01"))
    assert(nO ==
      spark.read.parquet(s"$dir/v=1")
        .filter(col("k") === 5 || col("d") === "2024-03-01").count())
    // manifest-less directory: plain read, nothing breaks
    val bare = freshDir("graft-sfi-bare")
    (0 until 10).map(i => (i, s"r$i")).toDF("k", "s")
      .write.parquet(bare)
    assert(spark.read.parquet(bare).filter(col("k") > 5).count() == 4)
  }

  test("xq22-shape census through the PLANNER path matches the " +
    "pure FileStats.prune decision over the manifest exactly") {
    val dir = buildStore()
    val (kept, skipped) = FileStats.prune(
      FileStats.readManifest(spark, s"$dir/v=1"),
      Seq(FileStats.NumRange("k", Some(150), Some(249))))
    val pure = FileStats.PruneStats(kept.size.toLong,
      skipped.size.toLong, kept.map(_.rows).sum, skipped.map(_.rows).sum)
    val q = Snapshots.table(spark, dir)
      .filter(col("k").between(150, 249))
    q.count()
    val planner = StatsFileIndex.indexOf(q).get.lastPrune.get
    assert(planner == pure, s"planner=$planner pure=$pure")
  }

  test("NESTED stats prune through the planner: a struct-field range " +
    "skips files, IS NULL uses nested null counts, and metadata-only " +
    "min/max answer from the dotted manifest key") {
    import graft.operators.Snapshots
    val dir = java.nio.file.Files
      .createTempDirectory("graft-nest").toString + "/t"
    // 4 files by bucket; detail.amount spans [b*100, b*100+100);
    // bucket 0 holds NULL structs only
    val df = (0L until 400L).map { i =>
      val b = i / 100
      (i, b, if (b == 0) None else Some(b * 100 + i % 100))
    }.toDF("k", "bucket", "amt")
      .withColumn("detail",
        when(col("amt").isNotNull,
          struct(col("amt").as("amount"),
            concat(lit("p"), col("amt")).as("note"))))
      .drop("amt")
      .repartition(col("bucket"))
    Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("k", "detail.amount"),
      partitionByCols = Seq("bucket"))
    // manifest keys by the dotted path, null struct file tracked
    val m = graft.operators.FileStats.readManifest(spark, s"$dir/v=1")
    assert(m.forall(_.cols.contains("detail.amount")))
    assert(m.map(_.nonNull("detail.amount")).sorted ==
      Seq(0L, 100L, 100L, 100L))
    // range on the NESTED field: [210, 290] lives only in bucket 2
    val tbl = Snapshots.table(spark, dir)
    assert(tbl.filter(col("detail.amount").between(210, 290))
      .count() == 81L)
    val ps = StatsFileIndex.indexOf(tbl).flatMap(_.lastPrune).get
    assert(ps.filesRead == 1L && ps.filesSkipped == 3L, ps)
    // IS NULL on the nested field skips the provably null-free files
    val tbl2 = Snapshots.table(spark, dir)
    assert(tbl2.filter(col("detail.amount").isNull).count() == 100L)
    val ps2 = StatsFileIndex.indexOf(tbl2).flatMap(_.lastPrune).get
    assert(ps2.filesRead == 1L && ps2.filesSkipped == 3L, ps2)
    // metadata-only min/max/count(col) over the nested path
    val agg = Snapshots.table(spark, dir).agg(
      min(col("detail.amount")).as("mn"),
      max(col("detail.amount")).as("mx"),
      count(col("detail.amount")).as("nn"))
    val metadataOnly = agg.queryExecution.optimizedPlan.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources
        .LogicalRelation => lr
    }.isEmpty
    assert(metadataOnly, agg.queryExecution.optimizedPlan.toString)
    assert(agg.head().toSeq == Seq(100L, 399L, 300L))
  }
}
