package graft.sources

import graft.SparkSpec
import graft.operators.{FileStats, Snapshots}
import graft.plans.StatsFileIndex
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

/** The registered `format("snapshot")` batch connector: SQL/pyspark
  * users must get the full lakehouse stack — time travel, manifest
  * pruning, metadata-only aggregates, catalog tables — from the
  * format name alone, and the write path must commit real versions.
  */
class SnapshotSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** v1 = 4 bucketed files with stats on v; v2 = a decoy head. */
  private def store(): String = {
    val dir = freshDir("graft-src")
    val df = (0L until 400L).map(i => (i, i / 100))
      .toDF("v", "b").repartition(col("b"))
    Snapshots.commitWithStats(spark, df, dir, statsCols = Seq("v"),
      partitionByCols = Seq("b"))
    Snapshots.commit(spark, Seq((-1L, 9L)).toDF("v", "b"), dir)
    dir
  }

  test("load() reads the latest head; versionAsOf pins history; " +
    "the pins are mutually exclusive") {
    val dir = store()
    assert(spark.read.format("snapshot").load(dir).count() == 1L)
    val v1 = spark.read.format("snapshot")
      .option("versionAsOf", "1").load(dir)
    assert(v1.count() == 400L)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("snapshot").option("versionAsOf", "1")
        .option("timestampAsOf", "2099-01-01T00:00:00Z").load(dir)
    }
    assert(e.getMessage.contains("mutually exclusive"))
    // a v=N subdirectory would bypass versioning as a bare parquet
    // path — refused with a pointer to versionAsOf
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("snapshot").load(s"$dir/v=1")
    }
    assert(e2.getMessage.contains("versionAsOf"), e2.getMessage)
  }

  test("timestampAsOf pins the newest version committed at or " +
    "before the instant; pre-history timestamps fail loudly") {
    val dir = freshDir("graft-srct")
    Snapshots.commit(spark, Seq((1L, 1L)).toDF("v", "b"), dir)
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    Snapshots.commit(spark, Seq((1L, 1L), (2L, 2L)).toDF("v", "b"), dir)
    assert(Snapshots.versionAt(spark, dir, between) == 1L)
    assert(Snapshots.versionAt(spark, dir,
      System.currentTimeMillis()) == 2L)
    // the connector route, epoch-millis form
    assert(spark.read.format("snapshot")
      .option("timestampAsOf", between.toString).load(dir)
      .count() == 1L)
    // ISO and SQL forms parse (future instant pins the head)
    assert(spark.read.format("snapshot")
      .option("timestampAsOf", "2099-01-01T00:00:00Z").load(dir)
      .count() == 2L)
    assert(spark.read.format("snapshot")
      .option("timestampAsOf", "2099-01-01 00:00:00").load(dir)
      .count() == 2L)
    // a pre-history instant throws with a vacuum-aware message
    val e = intercept[IllegalArgumentException] {
      spark.read.format("snapshot").option("timestampAsOf", "1000")
        .load(dir)
    }
    assert(e.getMessage.contains("oldest retained"), e.getMessage)
    // mutually exclusive with versionAsOf
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("snapshot").option("timestampAsOf", "1000")
        .option("versionAsOf", "1").load(dir)
    }
    assert(e2.getMessage.contains("mutually exclusive"))
    // a store whose publication records are gone has no timestamp
    // history at all — refused loudly, never served as the head
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    Seq(1L, 2L).foreach(v => f.delete(
      new org.apache.hadoop.fs.Path(dir, s"_pubtime.$v"), false))
    val e3 = intercept[IllegalArgumentException] {
      Snapshots.versionAt(spark, dir, System.currentTimeMillis())
    }
    assert(e3.getMessage.contains("no publication records"),
      e3.getMessage)
  }

  test("timestamp travel serves PUBLISHED main-line history only: a " +
    "crash orphan in the middle is never surfaced") {
    val dir = freshDir("graft-srco")
    Snapshots.commit(spark, Seq((1L, 1L)).toDF("v", "b"), dir) // v1
    // a v2 that was renamed into its slot but never published
    plantCrashOrphan(dir, 2L, (0L until 9L).map(i => (i, 0L))
      .toDF("v", "b"))
    Thread.sleep(30)
    val afterOrphan = System.currentTimeMillis()
    Thread.sleep(30)
    Snapshots.commit(spark, Seq((1L, 1L), (2L, 2L)).toDF("v", "b"),
      dir) // v3, main head
    // between the orphan and the main commit, main WAS v1
    assert(Snapshots.versionAt(spark, dir, afterOrphan) == 1L)
    assert(Snapshots.versionAt(spark, dir,
      System.currentTimeMillis()) == 3L)
    // the connector's change feed replays main's history only
    val feed = spark.read.format("snapshot")
      .option("readChangeFeed", "true").load(dir)
    assert(feed.select("_version").distinct().as[Long].collect()
      .sorted.toSeq == Seq(1L, 3L))
    assert(feed.count() == 3L)
  }

  test("versionAsOf serves published main-line history only: a crash " +
    "orphan below or above the head is refused, through the connector " +
    "and SQL VERSION AS OF") {
    val dir = freshDir("graft-srcv")
    Snapshots.commit(spark, Seq((1L, 1L)).toDF("v", "b"), dir) // v1
    plantCrashOrphan(dir, 2L, (0L until 9L).map(i => (i, 0L))
      .toDF("v", "b"))
    Snapshots.commit(spark, Seq((1L, 1L), (2L, 2L)).toDF("v", "b"),
      dir) // v3, main head
    plantCrashOrphan(dir, 4L, (0L until 7L).map(i => (i, 0L))
      .toDF("v", "b"))
    spark.sql("DROP TABLE IF EXISTS snap_spec_orphans")
    spark.sql(
      s"CREATE TABLE snap_spec_orphans USING snapshot OPTIONS (path '$dir')")
    try {
      def connector(v: Long): Long = spark.read.format("snapshot")
        .option("versionAsOf", v.toString).load(dir).count()
      def sql(v: Long): Long = spark.sql(
        s"SELECT count(*) FROM snap_spec_orphans VERSION AS OF $v")
        .head().getLong(0)
      Seq(1L -> 1L, 3L -> 2L).foreach { case (v, n) =>
        assert(connector(v) == n, s"connector v=$v")
        assert(sql(v) == n, s"SQL v=$v")
      }
      for (v <- Seq(2L, 4L); (route, read) <- Seq(
          "connector" -> (connector _), "SQL" -> (sql _))) {
        val e = intercept[IllegalArgumentException](read(v))
        assert(e.getMessage.contains("latest committed: 3"),
          s"$route v=$v: ${e.getMessage}")
      }
    } finally spark.sql("DROP TABLE IF EXISTS snap_spec_orphans")
  }

  test("readChangeFeed: a caught-up consumer gets an EMPTY frame, " +
    "not an error, and head pins are refused") {
    val dir = freshDir("graft-srcc")
    Snapshots.commit(spark, Seq((1L, 1L)).toDF("v", "b"), dir)
    Snapshots.commit(spark, Seq((2L, 2L)).toDF("v", "b"), dir)
    val caughtUp = spark.read.format("snapshot")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").load(dir)
    assert(caughtUp.count() == 0L)
    assert(caughtUp.columns.contains("_version"))
    val e = intercept[IllegalArgumentException] {
      spark.read.format("snapshot").option("readChangeFeed", "true")
        .option("versionAsOf", "1").load(dir)
    }
    assert(e.getMessage.contains("readChangeFeed"), e.getMessage)
    // bound options are validated like every other option: zero /
    // negative endingVersion and inverted ranges are loud errors,
    // never silently "latest"
    def cdf(opts: (String, String)*) = {
      val r = spark.read.format("snapshot")
        .option("readChangeFeed", "true")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(dir)
    }
    val e0 = intercept[IllegalArgumentException] {
      cdf("endingVersion" -> "0")
    }
    assert(e0.getMessage.contains("endingVersion"), e0.getMessage)
    intercept[IllegalArgumentException] { cdf("endingVersion" -> "-3") }
    intercept[IllegalArgumentException] {
      cdf("startingVersion" -> "2", "endingVersion" -> "1")
    }
    intercept[IllegalArgumentException] {
      cdf("startingVersion" -> "-1")
    }
    // equal bounds = a caught-up consumer: empty feed, not an error
    assert(cdf("startingVersion" -> "2", "endingVersion" -> "2")
      .count() == 0L)
  }

  test("a filtered read through the connector prunes via the stats " +
    "index, and an ungrouped aggregate answers metadata-only") {
    val dir = store()
    val tbl = spark.read.format("snapshot")
      .option("versionAsOf", "1").load(dir)
    val q = tbl.filter(col("v").between(0, 99))
    assert(q.count() == 100L)
    val ps = StatsFileIndex.indexOf(tbl).flatMap(_.lastPrune)
      .getOrElse(fail("connector read carried no stats index"))
    assert(ps.filesRead == 1L && ps.filesSkipped == 3L, ps)
    // metadata-only count/min/max: no file relation left in the plan
    val agg = spark.read.format("snapshot").option("versionAsOf", "1")
      .load(dir).agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
        max(col("v")).as("mx"))
    val metadataOnly = agg.queryExecution.optimizedPlan.collectFirst {
      case lr: LogicalRelation => lr
    }.isEmpty
    assert(metadataOnly, agg.queryExecution.optimizedPlan.toString)
    val r = agg.head()
    assert(r.getLong(0) == 400L && r.getLong(1) == 0L &&
      r.getLong(2) == 399L)
  }

  test("CREATE TABLE ... USING snapshot serves plain SQL, and " +
    "refreshTable picks up a new head") {
    val dir = store()
    spark.sql("DROP TABLE IF EXISTS snap_spec_t")
    spark.sql(
      s"CREATE TABLE snap_spec_t USING snapshot OPTIONS (path '$dir')")
    try {
      assert(spark.sql("SELECT count(*) AS n FROM snap_spec_t")
        .head().getLong(0) == 1L) // the decoy head
      Snapshots.commit(spark,
        (0L until 7L).map(i => (i, 0L)).toDF("v", "b"), dir)
      spark.catalog.refreshTable("snap_spec_t")
      assert(spark.sql("SELECT count(*) AS n FROM snap_spec_t")
        .head().getLong(0) == 7L)
    } finally spark.sql("DROP TABLE IF EXISTS snap_spec_t")
  }

  test("the write path commits real versions: overwrite starts a " +
    "table with sidecars from options, append splices instead of " +
    "rescanning, ErrorIfExists/Ignore honor existing stores") {
    val dir = freshDir("graft-srcw")
    val a = (0L until 200L).map(i => (i, i / 100)).toDF("v", "b")
      .repartition(col("b"))
    a.write.format("snapshot").option("statsCols", "v")
      .option("partitionBy", "b").mode("overwrite").save(dir)
    assert(Snapshots.latestVersion(spark, dir) == 1L)
    val m1 = FileStats.readManifest(spark, s"$dir/v=1")
    assert(m1.size == 2 && m1.map(_.rows).sum == 200L)
    // append: old entries carried VERBATIM (same relPaths), new files
    // scanned; missing columns conform to NULL
    (200L until 250L).map(i => (i, 2L)).toDF("v", "b").coalesce(1)
      .write.format("snapshot").mode("append").save(dir)
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    val m2 = FileStats.readManifest(spark, s"$dir/v=2")
    assert(m2.map(_.rows).sum == 250L)
    assert(m1.map(_.relPath).toSet.subsetOf(m2.map(_.relPath).toSet))
    val back = spark.read.format("snapshot").load(dir)
    assert(back.count() == 250L)
    assert(back.agg(max(col("v"))).head().getLong(0) == 249L)
    // a column the table does not have is refused
    val e = intercept[IllegalArgumentException] {
      Seq((1L, 1L, "x")).toDF("v", "b", "zz")
        .write.format("snapshot").mode("append").save(dir)
    }
    assert(e.getMessage.contains("zz"))
    // ErrorIfExists refuses a live store; Ignore leaves it untouched
    intercept[IllegalStateException] {
      a.write.format("snapshot").mode("errorifexists").save(dir)
    }
    a.write.format("snapshot").mode("ignore").save(dir)
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    // time travel across connector-written versions
    assert(spark.read.format("snapshot").option("versionAsOf", "1")
      .load(dir).count() == 200L)
  }

  test("one format, three directions: readStream.format(\"snapshot\") " +
    "streams the version log; readChangeFeed reads the ranged " +
    "append replay as a batch frame") {
    val dir = freshDir("graft-srcs")
    (0 until 3).foreach(i => Snapshots.commit(spark,
      (i * 10L until i * 10L + 10L).map(k => (k, s"s$k"))
        .toDF("k", "s"), dir))
    // streaming: same contract as snapshot-log, via the batch name
    val q = spark.readStream.format("snapshot").option("path", dir)
      .load()
      .writeStream.format("memory").queryName("snapsrc_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("snapsrc_stream")
      assert(got.count() == 30L)
      assert(got.select("_version").distinct().count() == 3L)
    } finally q.stop()
    // change feed as a batch frame, version-ranged
    val cdf = spark.read.format("snapshot")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").load(dir)
    assert(cdf.count() == 20L)
    assert(cdf.select("_version").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(cdf.filter(col("_version") === 3L)
      .agg(min("k")).head().getLong(0) == 20L)
  }

  test("writeStream.format(\"snapshot\"): store -> stream -> store " +
    "entirely through the one format name, exactly-once across a " +
    "checkpoint restart, epoch-fenced versions on the sink side") {
    val src = freshDir("graft-snksrc")
    val dst = freshDir("graft-snkdst")
    val ckpt = freshDir("graft-snkck")
    (0 until 3).foreach(i => Snapshots.commit(spark,
      (i * 10L until i * 10L + 10L).map(k => (k, s"s$k")).toDF("k", "s"),
      src))
    def run() = spark.readStream.format("snapshot")
      .option("path", src).load()
      .drop("_version")
      .writeStream.format("snapshot")
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .start()
    val q = run()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.format("snapshot").load(dst)
    assert(got.count() == 30L)
    assert(got.select("k").distinct().count() == 30L)
    // epoch ids seal each sink version (the exactly-once fence)
    val f = new org.apache.hadoop.fs.Path(dst).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val v1Record = Snapshots.VersionDir.of(f, new org.apache.hadoop.fs.Path(
      s"$dst/v=1")).record
    assert(v1Record.epochs.nonEmpty, v1Record)
    // new source commits + a RESTARTED query from the same
    // checkpoint: only the new versions land, zero redelivery
    (3 until 5).foreach(i => Snapshots.commit(spark,
      (i * 10L until i * 10L + 10L).map(k => (k, s"s$k")).toDF("k", "s"),
      src))
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    val got2 = spark.read.format("snapshot").load(dst)
    assert(got2.count() == 50L, "redelivery or loss across restart")
    assert(got2.select("k").distinct().count() == 50L)
    // refused shapes: partitionBy and non-append output modes
    val e = intercept[Exception] {
      spark.readStream.format("snapshot").option("path", src).load()
        .writeStream.format("snapshot").partitionBy("k")
        .option("path", freshDir("graft-snkp"))
        .option("checkpointLocation", freshDir("graft-snkpc"))
        .start()
    }
    assert(e.getMessage.contains("partitionBy"), e.getMessage)
  }

  test("catalog persistence: saveAsTable registers a snapshot table " +
    "in the external catalog; a NEW session (fresh SessionState over " +
    "the shared catalog) lists, queries, and DMLs it — and the " +
    "original session sees that DML through the freshness rule") {
    val dir = freshDir("graft-srcsat")
    (0L until 20L).map(i => (i, s"s$i")).toDF("k", "s")
      .write.format("snapshot").option("path", dir)
      .saveAsTable("sat_persist")
    assert(spark.catalog.tableExists("sat_persist"))
    assert(Snapshots.latestVersion(spark, dir) == 1L)
    // a fresh session: new SessionState (new analyzer, new relation
    // cache), SAME external catalog — the session-restart shape the
    // in-process harness can exercise. (Surviving a full JVM restart
    // additionally needs a persistent metastore:
    // spark.sql.catalogImplementation=hive — the table record is
    // provider + path, nothing graft-specific.)
    val s2 = spark.newSession()
    assert(s2.catalog.tableExists("sat_persist"))
    assert(s2.sql("SELECT count(*) AS n FROM sat_persist")
      .head.getLong(0) == 20L)
    // extensions travel with the session build: SQL DML works in the
    // new session too
    assert(s2.sql("DELETE FROM sat_persist WHERE k < 5")
      .head.getLong(0) == 5L)
    // and the ORIGINAL session's cached relation refreshes
    assert(spark.sql("SELECT count(*) AS n FROM sat_persist")
      .head.getLong(0) == 15L)
    spark.sql("DROP TABLE sat_persist")
  }

  test("appended rows land in the right partition directories and " +
    "prune alongside the originals") {
    val dir = freshDir("graft-srcp")
    (0L until 100L).map(i => (i, i / 50)).toDF("v", "b")
      .repartition(col("b"))
      .write.format("snapshot").option("statsCols", "v")
      .option("partitionBy", "b").mode("overwrite").save(dir)
    (100L until 150L).map(i => (i, 2L)).toDF("v", "b").coalesce(1)
      .write.format("snapshot").mode("append").save(dir)
    val tbl = spark.read.format("snapshot").load(dir)
    assert(tbl.filter(col("v") >= 100L).count() == 50L)
    val ps = StatsFileIndex.indexOf(tbl).flatMap(_.lastPrune)
      .getOrElse(fail("no stats index after append"))
    assert(ps.filesSkipped == 2L && ps.filesRead == 1L, ps)
    assert(tbl.filter(col("b") === 2L).count() == 50L)
  }
}
