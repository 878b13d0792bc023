package graft.streaming

import graft.SparkSpec
import graft.operators.{SnapshotMaintenance, Snapshots}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** `spark.readStream.format("snapshot-log")`: the snapshot store's
  * version log as a Structured Streaming source — offsets are version
  * numbers, each version is one micro-batch, engine checkpointing +
  * the epoch-fenced sink give store→stream→store exactly-once.
  */
class SnapshotLogSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def batch(lo: Long, hi: Long): DataFrame =
    (lo until hi).map(k => (k, s"s$k")).toDF("k", "s")

  test("each version streams as one batch with its _version tag; " +
    "new commits are picked up by later triggers") {
    val src = freshDir("graft-slog")
    Snapshots.commit(spark, batch(0, 10), src)
    Snapshots.commit(spark, batch(10, 25), src)
    val q = spark.readStream.format("snapshot-log")
      .option("path", src).load()
      .writeStream.format("memory").queryName("snaplog").start()
    try {
      q.processAllAvailable()
      val got = spark.table("snaplog")
        .select("k", "_version").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.length == 25)
      assert(got.forall { case (k, v) => v == (if (k < 10) 1L else 2L) })
      Snapshots.commit(spark, batch(25, 31), src)
      q.processAllAvailable()
      assert(spark.table("snaplog").count() == 31)
      assert(spark.table("snaplog")
        .filter(col("_version") === 3).count() == 6)
    } finally q.stop()
  }

  test("startingVersion skips already-consumed history") {
    val src = freshDir("graft-slogs")
    Snapshots.commit(spark, batch(0, 5), src)
    Snapshots.commit(spark, batch(5, 9), src)
    Snapshots.commit(spark, batch(9, 12), src)
    val q = spark.readStream.format("snapshot-log")
      .option("path", src).option("startingVersion", "2").load()
      .writeStream.format("memory").queryName("snaplogs").start()
    try {
      q.processAllAvailable()
      val vs = spark.table("snaplogs").select("_version")
        .distinct().collect().map(_.getLong(0)).sorted
      assert(vs.toSeq == Seq(3L), s"expected only v3, got ${vs.toSeq}")
    } finally q.stop()
  }

  test("store -> stream -> store: restart from the checkpoint is " +
    "exactly-once into an epoch-fenced versionedSink") {
    val src = freshDir("graft-slsrc")
    val dst = freshDir("graft-sldst")
    val ckpt = freshDir("graft-slck")
    Snapshots.commit(spark, batch(0, 8), src)
    Snapshots.commit(spark, batch(8, 14), src)
    def pipeline() = EventStream.versionedSink(
      spark.readStream.format("snapshot-log").option("path", src)
        .load().drop("_version"),
      dst, ckpt).start()
    val q1 = pipeline()
    q1.processAllAvailable(); q1.stop()
    Snapshots.commit(spark, batch(14, 20), src)
    Snapshots.commit(spark, batch(20, 23), src)
    val q2 = pipeline()
    q2.processAllAvailable(); q2.stop()
    val ks = Snapshots.readAppendsSince(spark, dst, 0L)
      .select("k").collect().map(_.getLong(0)).sorted
    assert(ks.toSeq == (0L until 23L), "duplicate or lost rows")
  }

  test("a crash orphan between two main commits is not streamed") {
    val src = freshDir("graft-slorphan")
    Snapshots.commit(spark, batch(0, 5), src)                // v1 main
    plantCrashOrphan(src, 2L, batch(100, 103))               // v2 orphan
    Snapshots.commit(spark, batch(5, 9), src)                // v3 main
    val q = spark.readStream.format("snapshot-log")
      .option("path", src).load()
      .writeStream.format("memory").queryName("snaplogb").start()
    try {
      q.processAllAvailable()
      val got = spark.table("snaplogb").select("k", "_version")
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got == (0L until 9L).map(k => (k, if (k < 5) 1L else 3L)))
    } finally q.stop()
  }

  test("a vacuumed gap fails the stream loudly, never silently") {
    val src = freshDir("graft-slvac")
    Snapshots.commit(spark, batch(0, 5), src)
    Snapshots.commit(spark, batch(5, 9), src)
    Snapshots.commit(spark, batch(9, 14), src)
    SnapshotMaintenance.vacuum(spark, src, keepLast = 1)
    val q = spark.readStream.format("snapshot-log")
      .option("path", src).load()
      .writeStream.format("memory").queryName("snaplogv").start()
    val e = intercept[StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination()
    }
    assert(e.getMessage.contains("vacuumed") ||
      Option(e.getCause).exists(_.getMessage.contains("vacuumed")), e)
    q.stop()
  }

  test("maxVersionsPerTrigger paces a backfill into bounded batches " +
    "and a checkpoint restart resumes the pacing with no redelivery") {
    val src = freshDir("graft-slthr")
    (0 until 6).foreach(i =>
      Snapshots.commit(spark, batch(i * 5L, i * 5L + 5L), src))
    val ckpt = freshDir("graft-slthrc")
    val seen =
      java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
    def run() = spark.readStream.format("snapshot-log")
      .option("path", src).option("maxVersionsPerTrigger", "2").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.select("_version").distinct().collect()
          .foreach(r => seen.add((id, r.getLong(0))))
        ()
      }.start()
    val q = run()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val byBatch = seen.asScala.toSeq.groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // the 6-version backfill arrived as ≥3 batches of ≤2 versions,
    // every version exactly once
    assert(byBatch.values.forall(_.size <= 2), byBatch)
    assert(byBatch.size >= 3, byBatch)
    assert(byBatch.values.toSeq.flatMap(_.toSeq).sorted ==
      (1L to 6L), byBatch)
    // restart against new commits: pacing resumes from the
    // checkpointed base — bounded batches, zero redelivery
    (6 until 9).foreach(i =>
      Snapshots.commit(spark, batch(i * 5L, i * 5L + 5L), src))
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    val byBatch2 = seen.asScala.toSeq.groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(byBatch2.values.forall(_.size <= 2), byBatch2)
    assert(byBatch2.values.toSeq.flatMap(_.toSeq).sorted ==
      (1L to 9L), "duplicate or lost versions across restart")
  }

  test("an un-checkpointed throttled source still paces FORWARD via " +
    "the in-memory base — never stalls at startingVersion + m") {
    val src = freshDir("graft-slmem")
    (0 until 3).foreach(i =>
      Snapshots.commit(spark, batch(i * 2L, i * 2L + 2L), src))
    // direct construction, metadataPath empty (the pre-fix stall:
    // every getOffset returned min(latest, 0 + 2) = 2 forever)
    val s = new SnapshotLogStreamSource(spark, src, 0L, Some(2L), "")
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val o1 = s.getOffset
    assert(o1.contains(LongOffset(2L)), o1)
    // getBatch returns a streaming-tagged plan (the engine executes
    // it); constructing it is what bumps the pacing base
    s.getBatch(None, o1.get)
    val o2 = s.getOffset
    assert(o2.contains(LongOffset(3L)), s"stalled: $o2")
    s.getBatch(o1, o2.get)
    // caught up: the source keeps RE-OFFERING the base (the engine
    // no-ops on an unchanged offset) — returning None here would
    // strand a restarted query whose committed offset lags the base
    assert(s.getOffset.contains(LongOffset(3L)))
  }

  test("a crash between the pacing-base persist and the engine's " +
    "offset WAL never stalls a QUIESCENT table: the restarted source " +
    "re-offers the persisted base so the pending range drains") {
    val src = freshDir("graft-slcrash")
    (0 until 2).foreach(i =>
      Snapshots.commit(spark, batch(i * 2L, i * 2L + 2L), src))
    val meta = freshDir("graft-slcrashm")
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val s1 = new SnapshotLogStreamSource(spark, src, 0L, Some(5L), meta)
    val o1 = s1.getOffset
    assert(o1.contains(LongOffset(2L)), o1)
    // CRASH here: the base file says 2, the engine WALed nothing and
    // getBatch never ran. No further commits arrive (quiescent).
    val s2 = new SnapshotLogStreamSource(spark, src, 0L, Some(5L), meta)
    val o2 = s2.getOffset
    // pre-fix: capped(2) <= base(2) → None forever → versions 1..2
    // permanently undelivered. Post-fix: the base itself is offered.
    assert(o2.contains(LongOffset(2L)), s"quiescent stall: $o2")
    val got = s2.getBatch(None, o2.get)
    assert(got.schema.fieldNames.contains("_version"))
  }
}
