package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.sources.{BaseRelation,
  CreatableRelationProvider, DataSourceRegister, RelationProvider}

import graft.operators.{MergeOnRead, Snapshots}

/** `spark.read.format("snapshot").load(dir)` — the snapshot store as
  * a REGISTERED Spark data source, so SQL / pyspark / BI users get
  * the whole lakehouse stack (time travel, manifest+bloom file
  * pruning, metadata-only aggregates) with ZERO Scala: a
  * `CREATE TABLE t USING snapshot OPTIONS (path '…')` (or a temp
  * view over a `load`) makes every plain `SELECT` prune. This is the
  * batch twin of the `snapshot-log` streaming source, and the analog
  * of the reference's whole consumption story — Excel/Power BI
  * querying views over ODBC with no code
  * (YayoiHabami/Jobcan-Data-Integrator README.md:3,
  * jobcan_di/database/create_views.sql) — for the rebuilt store.
  *
  * Read options (mutually exclusive pins; default = latest committed):
  *   - `versionAsOf`   — time travel to a committed version
  *   - `timestampAsOf` — time travel by commit time
  *     ([[Snapshots.versionAt]]; epoch millis, ISO-8601, or
  *     `yyyy-MM-dd HH:mm:ss` UTC)
  * plus `readChangeFeed=true` (+ `startingVersion`/`endingVersion`)
  * for the version-ranged append replay as a batch DataFrame (rows
  * tagged `_version` — [[Snapshots.readAppendsSince]] semantics), and
  * `spark.readStream.format("snapshot")` for the continuous form
  * (delegates to the `snapshot-log` source: offset = version,
  * `maxVersionsPerTrigger` pacing included) — one format name serves
  * batch, CDF, and streaming, the Delta convention.
  *
  * INTEGRATION POINT — V1 relation, deliberately: the provider
  * returns the SAME `HadoopFsRelation` that [[Snapshots.table]]
  * builds, whose [[graft.plans.StatsFileIndex]] consults the
  * version's `_stats.json`/`_bloom_*.json` at listing time. Spark
  * plans that relation through FileSourceStrategy — PushedFilters,
  * whole-stage codegen, AQE, and the StatsAggRule metadata-aggregate
  * rewrite all untouched. A DataSource-V2 `TableProvider` would NOT
  * compose here: V2 file scans build their own `FileScan` around a
  * `PartitioningAwareFileIndex` and route around both the custom
  * FileIndex contract and the V1-relation rules this store's read
  * path is built on. Returning the pruning-capable V1 relation from
  * a registered provider is exactly how Delta Lake exposes
  * `format("delta")` (public precedent: delta-io/delta's
  * DeltaDataSource is a RelationProvider returning a
  * HadoopFsRelation over its TahoeLogFileIndex).
  *
  * Write path (`df.write.format("snapshot").mode(…).save(dir)`):
  *   - `Overwrite`      — [[Snapshots.commit]] (a NEW version; old
  *     versions remain time-travelable — "overwrite" in a versioned
  *     store replaces the head, never history)
  *   - `Append`         — [[Snapshots.appendVersion]] (delta write +
  *     metadata-speed carry of existing files, sidecars spliced)
  *   - `ErrorIfExists`  — commit only onto an empty store
  *   - `Ignore`         — commit only onto an empty store, else no-op
  * Options `statsCols` / `bloomCols` / `partitionBy`
  * (comma-separated) route the initial commit through
  * [[Snapshots.commitWithStats]] so a table born through the
  * connector prunes from version 1. Appends inherit the table's
  * existing sidecar columns and ignore these options.
  */
class SnapshotDataSource extends RelationProvider
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "snapshot"

  // ---- streaming WRITE: writeStream.format("snapshot") ------------
  // The fourth direction of the one-format story: each micro-batch
  // commits as one version with its epoch id sealed by the same
  // atomic slot rename as any commit, through the commitWithEpoch
  // fence — a restarted query re-offering an already-published epoch
  // no-ops (exactly-once), and a crashed attempt that died between
  // slot rename and pointer publish rolls FORWARD instead of
  // duplicating. `statsCols`/`bloomCols` options keep the streamed
  // table pruning-capable. Append-only (a versioned log of appends);
  // other output modes and partitionBy are refused loudly.
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "snapshot sink: partitionBy is not supported on the stream — " +
        "fold/OPTIMIZE the table into a clustered layout instead")
    require(outputMode == org.apache.spark.sql.streaming.OutputMode
        .Append(),
      s"snapshot sink supports Append output mode only, got $outputMode")
    val dir = dirOf(parameters)
    def csv(k: String): Seq[String] = parameters.get(k).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    new SnapshotVersionedSink(sqlContext.sparkSession, dir,
      csv("statsCols"), csv("bloomCols"))
  }

  // ---- streaming: format("snapshot") readStream ≡ "snapshot-log" --
  // One format name serves both directions (the Delta convention):
  // spark.readStream.format("snapshot") delegates to the version-log
  // source — offsets are versions, one micro-batch per version,
  // maxVersionsPerTrigger pacing included.
  private val logSource = new graft.streaming.SnapshotLogSource

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[org.apache.spark.sql.types.StructType],
      providerName: String, parameters: Map[String, String])
      : (String, org.apache.spark.sql.types.StructType) =
    logSource.sourceSchema(sqlContext, schema, providerName, parameters)

  override def createSource(sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      providerName: String, parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    logSource.createSource(sqlContext, metadataPath, schema,
      providerName, parameters)

  private def dirOf(parameters: Map[String, String]): String = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "snapshot requires a path: " +
          "spark.read.format(\"snapshot\").load(<table dir>)"))
    // the address is the STORE directory; a v=N subdirectory would
    // "work" as a bare parquet path and silently bypass versioning
    require(!SnapshotDataSource.isVersionDir(dir),
      s"snapshot: '$dir' is a version directory — pass the store " +
        "directory and pin with .option(\"versionAsOf\", …)")
    dir
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = dirOf(parameters)
    // change-feed batch read: the version-ranged append replay
    // (readAppendsSince semantics — rows tagged _version), for
    // catch-up/backfill jobs that want the CDF as a plain DataFrame
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      // a head pin makes no sense on a version-RANGED feed — refuse
      // rather than silently ignore it (endingVersion is the bound)
      val pinned = Seq("versionAsOf", "timestampAsOf")
        .filter(parameters.contains)
      require(pinned.isEmpty,
        s"snapshot: ${pinned.mkString("/")} cannot combine with " +
          "readChangeFeed — bound the feed with startingVersion/" +
          "endingVersion")
      val since = parameters.get("startingVersion").map(_.toLong)
        .getOrElse(0L)
      require(since >= 0,
        s"snapshot: startingVersion must be non-negative, got $since")
      val end = parameters.get("endingVersion").map(_.toLong)
        .getOrElse(-1L)
      // validated like every other option: 0/negative is never a
      // committed version — reject loudly instead of silently
      // treating it as "latest"
      require(!parameters.contains("endingVersion") || end > 0,
        s"snapshot: endingVersion must be a positive version, got $end")
      // end == since is a caught-up consumer (empty feed, not an
      // error); an INVERTED range is always a caller bug
      require(end < 0 || end >= since,
        s"snapshot: endingVersion ($end) must not precede " +
          s"startingVersion ($since)")
      val head0 =
        if (end > 0) end else Snapshots.latestVersion(spark, dir)
      return new SnapshotPlanRelation(spark, () => {
        val head = head0
        if (head <= since) {
          // a caught-up consumer polls with since == head constantly:
          // that is an EMPTY feed, not an error
          val schema = org.apache.spark.sql.types.StructType(
            Snapshots.tableSchema(spark, dir).fields :+
              org.apache.spark.sql.types.StructField("_version",
                org.apache.spark.sql.types.LongType, nullable = false))
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            schema)
        } else Snapshots.readAppendsSince(spark, dir, since, end)
      }, servedVersion = if (end > 0) -1L else head0)
      // (an endingVersion pin is explicit — never considered stale)
    }
    val pins = Seq(
      parameters.get("versionAsOf").map(_ => "versionAsOf"),
      parameters.get("timestampAsOf").map(_ => "timestampAsOf")).flatten
    require(pins.size <= 1,
      s"snapshot: ${pins.mkString(" and ")} are mutually exclusive")
    val version: Long = parameters.get("versionAsOf") match {
      case Some(s) =>
        val v = try s.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"snapshot: versionAsOf must be a version number, got '$s'")
        }
        require(v > 0, s"snapshot: versionAsOf must be positive, got $v")
        // only main's published history: a crash orphan (below the
        // head or above it) exists on disk but was never the table
        val head = Snapshots.latestVersion(spark, dir)
        require(Snapshots.isPublished(spark, dir, v, head),
          s"snapshot: versionAsOf $v is not a published version of " +
            s"$dir (latest committed: $head)")
        v
      case None => parameters.get("timestampAsOf") match {
        case Some(ts) =>
          Snapshots.versionAt(spark, dir, parseTimestamp(ts))
        case None => -1L
      }
    }
    // merge-on-read versions are an assembly (reference union +
    // tombstone anti-join), not a single file relation — serve them
    // through a column-pruning scan; folding (MergeOnRead.fold) restores the
    // full pruning-capable relation below
    val resolved =
      if (version > 0) version else Snapshots.latestVersion(spark, dir)
    if (MergeOnRead.isMorVersion(spark, dir, resolved))
      return new SnapshotPlanRelation(spark,
        () => Snapshots.read(spark, dir, resolved),
        servedVersion = if (version > 0) -1L else resolved)
    val df = Snapshots.table(spark, dir, version)
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation
          if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation]
    }.getOrElse(throw new IllegalStateException(
      "snapshot: version read did not resolve to a single file " +
        "relation — use Snapshots.table for this version"))
  }

  /** `timestampAsOf` accepts epoch millis, ISO-8601 instants
    * (`2026-08-16T09:00:00Z`), or the SQL `yyyy-MM-dd HH:mm:ss`
    * shape (interpreted as UTC — the store's commit times are
    * filesystem clocks, not session-zoned values). */
  private def parseTimestamp(s: String): Long = {
    val t = s.trim
    try t.toLong catch {
      case _: NumberFormatException =>
        try java.time.Instant.parse(t).toEpochMilli catch {
          case _: java.time.format.DateTimeParseException =>
            try java.time.LocalDateTime
              .parse(t.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
            catch {
              case _: java.time.format.DateTimeParseException =>
                throw new IllegalArgumentException(
                  s"snapshot: cannot parse timestampAsOf '$s' — use " +
                    "epoch millis, ISO-8601, or yyyy-MM-dd HH:mm:ss " +
                    "(UTC)")
            }
        }
    }
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = dirOf(parameters)
    def csv(k: String): Seq[String] = parameters.get(k).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val statsCols = csv("statsCols")
    val bloomCols = csv("bloomCols")
    val partCols = csv("partitionBy")
    require(statsCols.nonEmpty || (bloomCols.isEmpty && partCols.isEmpty),
      "snapshot: bloomCols/partitionBy need statsCols too — a " +
        "partitioned or bloom-indexed table without a stats manifest " +
        "cannot serve the pruned read path")
    def freshCommit(): Long =
      if (statsCols.nonEmpty)
        Snapshots.commitWithStats(spark, data, dir, statsCols,
          partCols, bloomCols)
      else Snapshots.commit(spark, data, dir)
    val exists = Snapshots.latestVersion(spark, dir) > 0
    mode match {
      case SaveMode.Overwrite => freshCommit()
      case SaveMode.Append =>
        if (exists) Snapshots.appendVersion(spark, data, dir)
        else freshCommit()
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"snapshot: $dir already has committed versions " +
            "(SaveMode.ErrorIfExists)")
        else freshCommit()
      case SaveMode.Ignore => if (!exists) freshCommit()
    }
    createRelation(sqlContext,
      // the post-write relation is the NEW head, whatever pin the
      // caller had set for a preceding read
      parameters - "versionAsOf" - "timestampAsOf")
  }
}

/** The v1 streaming sink behind `writeStream.format("snapshot")`:
  * one committed version per micro-batch, fenced by its batch id.
  * The engine's `data` frame carries an incremental (streaming)
  * plan; the ForeachBatchSink idiom — wrap its executed RDD in a
  * batch-tagged frame — lets the library write path run on it. */
private[sources] class SnapshotVersionedSink(
    spark: org.apache.spark.sql.SparkSession, dir: String,
    statsCols: Seq[String], bloomCols: Seq[String])
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = org.apache.spark.sql.GraftColumnBridge
      .internalCreateDataFrame(spark, data.queryExecution.toRdd,
        data.schema)
    // APPEND semantics (the Delta streaming-sink shape): the
    // destination is the cumulative table. Left = this epoch already
    // published (engine replay after a restart) — the exactly-once
    // no-op, not an error
    Snapshots.appendWithEpoch(spark, batch, dir, batchId, statsCols,
      bloomCols)
    ()
  }

  override def toString: String = s"SnapshotVersionedSink[$dir]"
}

/** Path sanity enforced by [[SnapshotDataSource.dirOf]]: the store
  * directory itself — NOT a `v=N` subdirectory — is the address the
  * connector takes. */
object SnapshotDataSource {
  def isVersionDir(p: String): Boolean =
    Snapshots.versionOf(new Path(p).getName).isDefined
}

/** A composite plan (merge-on-read assembly, change-feed replay)
  * through the connector, behind a column-pruning scan. Filters
  * still apply — Spark evaluates them above this relation — only
  * FILE skipping is unavailable on these plans; correctness never
  * depends on it. `servedVersion` is the store head this relation
  * resolved against — the freshness rule
  * ([[graft.plans.SnapshotFreshnessRule]]) compares it with the
  * current head to decide whether a CACHED catalog relation must be
  * rebuilt (-1 = not version-addressed, never considered stale). */
private[graft] class SnapshotPlanRelation(
    spark: org.apache.spark.sql.SparkSession,
    plan: () => org.apache.spark.sql.DataFrame,
    val servedVersion: Long = -1L)
    extends BaseRelation with org.apache.spark.sql.sources.PrunedScan {

  // evaluated ONCE: the declared schema and every buildScan must see
  // the SAME resolved plan. Re-running the thunk per scan could race
  // a concurrent schema-evolving commit — and with needConversion =
  // false a schema drift would not fail loudly, it would misread
  // Tungsten bytes. Freshness is preserved because the PROVIDER
  // builds a new relation per query resolution.
  private val assembled: org.apache.spark.sql.DataFrame = plan()

  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: org.apache.spark.sql.types.StructType =
    assembled.schema

  // rows stay in Tungsten format end to end: with needConversion =
  // false the contract lets buildScan hand back InternalRows (the
  // same idiom Spark's own relations use) — never the boxed
  // deserialize/re-serialize round-trip
  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    // an empty projection (count(*)) contract-correctly yields
    // zero-field rows
    assembled.select(requiredColumns.toSeq.map(
      org.apache.spark.sql.functions.col): _*)
      .queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
  }
}
