package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SQLContext,
  SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset,
  Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset,
  SerializedOffset}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources.{DataSourceRegister,
  StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Snapshots

/** `spark.readStream.format("snapshot-log")` — the snapshot store's
  * version log as a REAL Structured Streaming source (the analog of
  * streaming FROM a Delta table): each committed version is one
  * micro-batch, the stream offset IS the version number, and the
  * engine's own checkpointing carries exactly-once composition all
  * the way to an epoch-fenced `versionedSink` destination — store →
  * stream → store, exactly-once at every hop.
  *
  *   spark.readStream.format("snapshot-log")
  *     .option("path", dir)                    // required
  *     .option("startingVersion", "7")         // optional, default 0
  *     .option("maxVersionsPerTrigger", "10")  // optional throttle
  *     .load()
  *
  * Rows carry a `_version` column naming the version that appended
  * them (the [[graft.operators.Snapshots.readAppendsSince]] contract,
  * continuously). The schema is FIXED at stream start (the table's
  * latest schema then); versions written with older shapes conform
  * with typed NULLs. Designed for APPEND-LOG tables (every version =
  * one batch of new rows, the `versionedSink`/`commitWithEpoch`
  * discipline): for a full-snapshot table each version would replay
  * whole-table states, which is a different query (use k9's diff).
  * Only main-line versions are delivered (a crashed committer's
  * unpublished orphan is not the table's history). A vacuumed gap
  * inside a requested range throws loudly — a silent hole in a
  * replayed stream is data loss; size vacuum `keepLast` to the
  * slowest consumer.
  *
  * `maxVersionsPerTrigger` paces a BACKFILL: without it, a stream
  * started against a long version history delivers the whole log as
  * ONE micro-batch. The throttle caps each trigger at N versions.
  * The restart hazard of rate limiting under the v1 API — a capped
  * `getOffset` below the checkpointed committed offset would regress
  * the log and REDELIVER versions — is closed by persisting the
  * pacing base in the source's own checkpoint metadata directory
  * (`metadataPath`, which travels with the query checkpoint): the
  * base is monotone (it only ever grows, written before the offset
  * is handed to the engine and bumped again by every `getBatch`), so
  * a capped offset is always ≥ the engine's committed offset. A
  * crash between the base write and the offset commit merely makes
  * one later batch up to 2N versions wide — never a duplicate, never
  * a hole: when the base is ahead of the committed offset and no new
  * commits arrive, `getOffset` keeps re-offering the base itself, so
  * the restarted engine drains the pending range instead of stalling
  * on a quiescent table.
  */
class SnapshotLogSource extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "snapshot-log"

  private def dirOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "snapshot-log requires .option(\"path\", <snapshot table dir>)"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), SnapshotLogSource.streamSchema(
      sqlContext.sparkSession, dirOf(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val maxPer = parameters.get("maxVersionsPerTrigger").map(_.toLong)
    maxPer.foreach(m => require(m > 0,
      s"maxVersionsPerTrigger must be positive, got $m"))
    new SnapshotLogStreamSource(sqlContext.sparkSession,
      dirOf(parameters),
      parameters.get("startingVersion").map(_.toLong).getOrElse(0L),
      maxPer, metadataPath)
  }
}

object SnapshotLogSource {
  val VersionColumn = "_version"

  /** Table schema at stream start + the `_version` batch tag. */
  private[streaming] def streamSchema(spark: SparkSession,
      dir: String): StructType = {
    val base = Snapshots.tableSchema(spark, dir)
    require(!base.fieldNames.contains(VersionColumn),
      s"table already has a $VersionColumn column")
    StructType(base.fields :+
      StructField(VersionColumn, LongType, nullable = false))
  }
}

/** The live source: offset = committed version number. */
private[streaming] class SnapshotLogStreamSource(spark: SparkSession,
    dir: String, startingVersion: Long,
    maxVersionsPerTrigger: Option[Long] = None,
    metadataPath: String = "") extends Source {

  require(startingVersion >= 0,
    s"startingVersion must be non-negative, got $startingVersion")

  // fixed at stream start: every batch conforms to this shape. The
  // declared schema DERIVES from the same single read — a second
  // tableSchema call could race a concurrent schema-evolving commit
  // and declare a shape getBatch never produces
  private val fixed = Snapshots.tableSchema(spark, dir)
  require(!fixed.fieldNames.contains(SnapshotLogSource.VersionColumn),
    s"table already has a ${SnapshotLogSource.VersionColumn} column")
  override val schema: StructType =
    StructType(fixed.fields :+ org.apache.spark.sql.types.StructField(
      SnapshotLogSource.VersionColumn, LongType, nullable = false))

  // ---- pacing base (rate-limit state that must survive restarts) --
  // The base is the highest offset this source has HANDED OUT or
  // SERVED: monotone by construction, held in memory for the life of
  // the source AND persisted in the query's own checkpoint
  // (metadataPath), so a restarted throttled stream can never cap
  // below the committed offset (= never regress the log). The
  // in-memory floor also means a TRANSIENT failure reading the base
  // file mid-run can only widen one batch, never redeliver — the
  // persisted value is consulted only at source construction time
  // boundaries (restart), where it is authoritative.
  @volatile private var memBase: Long = startingVersion

  private def baseFile = new org.apache.hadoop.fs.Path(
    metadataPath, "graft-pacing-base")
  private def mfs = baseFile.getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def pacingBase(): Long = {
    val persisted =
      if (metadataPath.isEmpty) startingVersion
      else
        try {
          val in = mfs.open(baseFile)
          try new String(org.apache.commons.io.IOUtils.toByteArray(in),
            "US-ASCII").trim.toLong
          finally in.close()
        } catch { case _: Exception => startingVersion }
    math.max(memBase, persisted)
  }

  private def bumpBase(v: Long): Unit = {
    // monotone on BOTH stores: a bump below the in-memory floor must
    // not touch the persisted value either (it could overwrite a
    // higher base with a lower one and redeliver after restart)
    if (v <= memBase) return
    memBase = v
    if (metadataPath.nonEmpty)
      try {
        mfs.mkdirs(new org.apache.hadoop.fs.Path(metadataPath))
        val out = mfs.create(baseFile, true)
        try out.write(v.toString.getBytes("US-ASCII"))
        finally out.close()
      } catch { case _: Exception => () } // degrades, never fails
  }

  override def getOffset: Option[V1Offset] = {
    val latest = Snapshots.latestVersion(spark, dir)
    if (latest <= startingVersion) return None
    maxVersionsPerTrigger match {
      case None => Some(LongOffset(latest))
      case Some(m) =>
        val base = pacingBase()
        val capped = math.min(latest, base + m)
        if (capped <= base) {
          // nothing NEW past the base — but the base may be AHEAD of
          // the engine's committed offset (a crash between the base
          // persist below and the engine's offset WAL). Returning
          // None here would stall a quiescent table forever: the
          // engine only calls getBatch when getOffset moves past its
          // committed offset. Re-offering the base is free — the
          // engine no-ops when it equals the committed offset, and a
          // restarted query with committed < base drains the pending
          // (committed, base] range. Never a hole, even quiescent.
          if (base > startingVersion) Some(LongOffset(base)) else None
        } else {
          bumpBase(capped)
          Some(LongOffset(capped))
        }
    }
  }

  private def versionOf(o: V1Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json.trim.toLong
  }

  override def getBatch(start: Option[V1Offset],
      end: V1Offset): DataFrame = {
    val s0 = math.max(start.map(versionOf).getOrElse(0L),
      startingVersion)
    val e = versionOf(end)
    // every served range bumps the pacing base UNCONDITIONALLY: a
    // WAL-recovered batch after a restart must seed the IN-MEMORY
    // floor even when the persisted file already carries the value —
    // otherwise a later transient base-file read failure would fall
    // back below the committed offset and redeliver. (bumpBase
    // no-ops below the floor, so this is also one fewer checkpoint
    // read per batch than the previous pacingBase() comparison.)
    if (maxVersionsPerTrigger.isDefined)
      bumpBase(e)
    // main-line versions only, loud on vacuumed gaps —
    // readAppendsSince's contract, but conformed to the STREAM's
    // fixed schema, not today's
    val versions = Snapshots.mainHistory(spark, dir, s0, e)
    val batch =
      if (versions.isEmpty)
        // an empty (recovery) range: schema-correct empty batch
        GraftColumnBridge.internalCreateDataFrame(spark,
          spark.sparkContext.emptyRDD, schema)
      else versions.map { v =>
        Snapshots.conform(Snapshots.read(spark, dir, v), fixed)
          .withColumn(SnapshotLogSource.VersionColumn, lit(v))
      }.reduce(_ unionByName _)
    GraftColumnBridge.internalCreateStreamingDataFrame(spark,
      batch.queryExecution.toRdd, batch.schema)
  }

  override def stop(): Unit = ()
}
