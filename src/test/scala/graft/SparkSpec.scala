package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{FileStats, Snapshots}
import graft.plans.StatsFileIndex

/** Shared local SparkSession for all specs (one JVM-wide session —
  * getOrCreate — so the suite doesn't pay startup per class).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** The executed parquet scan of `df` (unwrapping AQE), after an
    * action ran through `df`'s own QueryExecution. */
  def scanOf(df: DataFrame): FileSourceScanExec = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectFirst { case s: FileSourceScanExec => s }.get
  }

  /** A filtered `Snapshots.table` read of `dir` (default: the latest
    * version) after one action, and the census its stats index
    * recorded for that action. */
  def prunedRead(dir: String, pred: Column, version: Long = -1L)
      : (DataFrame, FileStats.PruneStats) = {
    val q = Snapshots.table(spark, dir, version).filter(pred)
    q.collect()
    (q, StatsFileIndex.indexOf(q).flatMap(_.lastPrune)
      .getOrElse(fail(s"no stats index census in the read of $dir")))
  }

  /** Plants what a plain (Replace) committer killed between its slot
    * rename and its publish leaves in `dir`: a complete `v=$v` holding
    * `df` and its live `_claim.$v`, but no `_pubtime.$v` publication
    * record. The next plain commit lands above it, so it sits below
    * the head without ever having been main's history. */
  def plantCrashOrphan(dir: String, v: Long, df: DataFrame): Unit = {
    df.write.parquet(s"$dir/v=$v")
    assert(new java.io.File(dir, s"_claim.$v").createNewFile())
  }
}

object SparkSpec {
  /** Runs `body` under a fresh job group and returns the call site of
    * every Spark job it started, in start order — also jobs from
    * threads `body` creates, which inherit the group. */
  def jobSites(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          sites.add(e.stageInfos.maxByOption(_.stageId)
            .fold("(no stage)")(_.name))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    sites.asScala.toSeq
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // baked in (not only set at Tables.load time): the runtime
      // conf.set races with parallel suites' schema-inference threads
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // same extension set as GraftSession: native expressions + the
      // AsOfJoin planner strategy
      .config("spark.sql.extensions",
        "graft.expressions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
