package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The commit pipeline (stage → seal → claim → publish) as one
  * mechanism: maintenance rewrites abort on a moved head instead of
  * reverting a statement, a branch commit never wedges main, a fault
  * at any step leaves the table at its old version, and stages are
  * readable without Spark's hidden-path warnings. */
class CommitPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def keys(dir: String): Seq[Long] =
    Snapshots.read(spark, dir).select("k").as[Long].collect().toSeq.sorted

  /** Live `_claim.N` markers with no published version behind them,
    * plus every stage directory — what a clean store holds none of. */
  private def leftovers(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    val head = Snapshots.latestVersion(spark, dir)
    val staged = Option(new java.io.File(d, "_staging").listFiles())
      .toSeq.flatten.map(f => s"_staging/${f.getName}")
    val claims = d.listFiles().map(_.getName).toSeq
      .filter(_.matches("_claim\\.\\d+"))
      .filter(_.stripPrefix("_claim.").toLong > head)
    staged ++ claims
  }

  test("OPTIMIZE never reverts a statement that committed while it " +
    "was rewriting: the rewrite aborts, the statement's effect stays") {
    val dir = freshDir("graft-opt-race")
    val n = 2000000L
    Snapshots.commitWithStats(spark,
      spark.range(0L, n, 1L, 20).toDF("k")
        .withColumn("s", concat(lit("row-"), col("k").cast("string"))),
      dir, statsCols = Seq("k"))
    // the delete starts once the compaction's first Spark job does:
    // a one-file statement finishes long before a 2M-row rewrite
    val started = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.countDown()
    }
    @volatile var optimize: Option[Throwable] = None
    val worker = new Thread(() =>
      try { Snapshots.compactVersion(spark, dir, 1L << 30); () }
      catch { case e: Throwable => optimize = Some(e) })
    spark.sparkContext.addSparkListener(listener)
    try {
      worker.start()
      assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      // if the compaction published first, the delete aborts on the
      // non-DML commit and its re-run lands on top
      try Snapshots.deleteWhere(spark, dir, col("k") === 5L)
      catch {
        case _: java.util.ConcurrentModificationException =>
          Snapshots.deleteWhere(spark, dir, col("k") === 5L)
      }
      worker.join()
    } finally spark.sparkContext.removeSparkListener(listener)
    optimize.foreach { e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException],
        e.toString)
    }
    val t = Snapshots.read(spark, dir)
    assert(t.filter(col("k") === 5L).count() == 0L,
      "OPTIMIZE published a rewrite of the pre-delete head")
    assert(t.count() == n - 1)
    // a re-run of the aborted maintenance lands on the new head
    Snapshots.compactVersion(spark, dir, 1L << 30)
    assert(Snapshots.read(spark, dir).count() == n - 1)
    assert(leftovers(dir).isEmpty, leftovers(dir))
  }

  test("a branch commit never wedges main: SQL DML on main completes " +
    "after it, a race across the branch version validates, and the " +
    "branch still reads its own rows") {
    val dir = freshDir("graft-branch-main")
    Snapshots.commitWithStats(spark,
      (0L until 400L).map(i => (i, i / 100)).toDF("k", "b")
        .repartition(col("b")),
      dir, statsCols = Seq("k"), partitionByCols = Seq("b"))
    spark.sql(s"CREATE TABLE pipeline_branch USING snapshot " +
      s"OPTIONS (path '$dir')")
    Snapshots.createBranch(spark, dir, "wap")
    val bv = Snapshots.commitToBranch(spark,
      Seq((7000L, 70L)).toDF("k", "b"), dir, "wap")
    assert(bv == 2L)
    assert(spark.sql("DELETE FROM pipeline_branch WHERE k < 10")
      .head.getLong(0) == 10L)
    assert(spark.sql("INSERT INTO pipeline_branch VALUES (9000, 90)")
      .head.getLong(0) == 1L)
    assert(spark.sql("SELECT count(*) FROM pipeline_branch")
      .head.getLong(0) == 391L)
    // two statements race from the same head while the branch version
    // sits inside the range the winner's head descends through:
    // validation follows main's `_dml.json` chain, not every v=N
    val h = Snapshots.latestVersion(spark, dir)
    Snapshots.createBranch(spark, dir, "wap2")
    Snapshots.commitToBranch(spark, Seq((8000L, 80L)).toDF("k", "b"),
      dir, "wap2")
    val (v, rs) = PipelineHook.raceAt(dir, "seal") {
      Snapshots.deleteWhere(spark, dir, col("k") >= 390L); ()
    }(Snapshots.deleteWhere(spark, dir, col("k") === 150L))
    assert(rs.rowsChanged == 1L)
    assert(v == h + 3, s"landed at $v over head $h")
    // 391 - (390..399 and the inserted 9000) - 150
    assert(spark.sql("SELECT count(*) FROM pipeline_branch")
      .head.getLong(0) == 379L)
    // both branches still read exactly their own heads
    assert(Snapshots.readBranch(spark, dir, "wap").collect()
      .map(_.getLong(0)).toSeq == Seq(7000L))
    assert(Snapshots.readBranch(spark, dir, "wap2").collect()
      .map(_.getLong(0)).toSeq == Seq(8000L))
    spark.sql("DROP TABLE pipeline_branch")
  }

  test("a fault after any pipeline step leaves the old version, a " +
    "re-run lands, and nothing is left for vacuum") {
    val steps = Seq("stage", "seal", "claim", "occupy")
    def table(prefix: String): String = {
      val dir = freshDir(prefix)
      Snapshots.commitWithStats(spark,
        spark.range(0L, 200L, 1L, 4).toDF("k"), dir, statsCols = Seq("k"))
      dir
    }
    val ops: Seq[(String, (String, Int) => Unit)] = Seq(
      "commit" -> ((dir, i) => { Snapshots.commit(spark,
        spark.range(0L, 200L - i, 1L, 4).toDF("k"), dir); () }),
      "delete" -> ((dir, i) => {
        Snapshots.deleteWhere(spark, dir, col("k") === i.toLong); () }),
      "mor delete" -> ((dir, i) => {
        Snapshots.deleteWhereMor(spark, dir, col("k") === i.toLong); () }),
      "optimize" -> ((dir, _) => {
        Snapshots.compactVersion(spark, dir, 1L << 30); () }))
    ops.foreach { case (name, op) =>
      val dir = table(s"graft-fault-${name.replace(' ', '-')}")
      steps.zipWithIndex.foreach { case (s, i) =>
        val head = Snapshots.latestVersion(spark, dir)
        val before = keys(dir)
        intercept[PipelineHook.InjectedFault] {
          PipelineHook.failAt(dir, s)(op(dir, i))
        }
        assert(Snapshots.latestVersion(spark, dir) == head, s"$name/$s")
        assert(keys(dir) == before, s"$name/$s changed the rows")
        assert(leftovers(dir).isEmpty, s"$name/$s: ${leftovers(dir)}")
        op(dir, i)
        assert(Snapshots.latestVersion(spark, dir) == head + 1,
          s"$name/$s: the re-run did not land")
        assert(Snapshots.vacuum(spark, dir, keepLast = 100).isEmpty)
        assert(leftovers(dir).isEmpty, s"$name/$s: ${leftovers(dir)}")
      }
      // a writer killed mid-stage cannot clean up after itself: vacuum
      // reclaims its stage (and a pre-`_staging/` store's `_stage-*`)
      Seq("_staging/dead-writer", "_stage-dead-writer").foreach(d =>
        spark.range(3L).write.parquet(s"$dir/$d"))
      Snapshots.vacuum(spark, dir, keepLast = 100)
      assert(leftovers(dir).isEmpty, s"$name: ${leftovers(dir)}")
      assert(!new java.io.File(dir, "_stage-dead-writer").exists())
    }
  }

  test("stages are plain parquet directories: commits, appends and " +
    "deletes log no 'All paths were ignored' warning") {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new org.apache.logging.log4j.core.appender
        .AbstractAppender(s"capture-${java.util.UUID.randomUUID()}",
        null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        seen.add(e.getMessage.getFormattedMessage); ()
      }
    }
    capture.start()
    val logger = org.apache.logging.log4j.LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[Logger]
    logger.addAppender(capture)
    val dir = freshDir("graft-stage-warn")
    try {
      Snapshots.commitWithStats(spark, spark.range(0L, 100L).toDF("k"),
        dir, statsCols = Seq("k"))
      Snapshots.appendVersion(spark, spark.range(100L, 110L).toDF("k"),
        dir)
      Snapshots.deleteWhere(spark, dir, col("k") < 5L)
    } finally {
      logger.removeAppender(capture)
      capture.stop()
    }
    assert(keys(dir) == (5L until 110L))
    // suites share the JVM: only this store's paths count
    val warned = seen.toArray.map(_.toString).filter(m =>
      m.contains("All paths were ignored") && m.contains(dir))
    assert(warned.isEmpty, warned.mkString("\n"))
  }
}
