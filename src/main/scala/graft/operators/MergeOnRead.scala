package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import Snapshots._

/** Merge-on-read row-level DML on a snapshot table.
  * Copy-on-write DML rewrites (or at least byte-copies) every live
  * file per statement — correct, but a point delete against a 1 GB
  * file moves 1 GB. Merge-on-read inverts the cost: a DELETE writes
  * only a DELETION-VECTOR sidecar (file-position tombstones, the
  * public Delta deletion-vectors / Iceberg positional-deletes
  * design) plus a reference list carrying the existing files forward
  * BY NAME — zero data bytes move at delete time; readers apply the
  * tombstones as an anti-join; OPTIMIZE folds them back into a
  * self-contained version when maintenance chooses to pay the
  * rewrite. At 100 TB with routine GDPR-style point deletes this is
  * the difference between O(tombstones) and O(table) per statement.
  *
  * An MoR version is described by its record ([[Snapshots.VersionRecord]],
  * `_version.json`), sealed with the version like every record:
  *   refs        — (src, file) pairs naming the PHYSICAL files (in
  *                 their home version dirs) this version serves;
  *                 depth-1 by construction (refs always point at the
  *                 dir that physically holds the file, never at
  *                 another ref). A version is MoR when it has refs.
  *   dvs         — (src, file, rows, keys) entries, one per deletion
  *                 vector serving the version: its parquet file in
  *                 the `_dv/` directory of its home version `src`
  *                 (none: this version), its row count, and the
  *                 distinct data-file keys it tombstones (known for free at
  *                 stage time), so readers and successor statements
  *                 never re-scan a dv for metadata. A DML statement
  *                 writes ONLY its own new tombstones and carries
  *                 prior statements' dvs BY REFERENCE — cost is
  *                 O(statement), never O(accumulated deletes): the
  *                 per-file incremental-deletion-vector
  *                 representation (Delta DVs / Iceberg positional
  *                 deletes), not a monolithic union-rewrite.
  *   _dv/dv-<uuid> — THIS statement's (key, pos) tombstones, parquet;
  *                 key = "srcVersion/relPath" AS RENDERED BY
  *                 substring_index(input_file_name(),"/v=",-1) — both
  *                 creation and read derive the key with the same
  *                 expression over the same scan, so the match is
  *                 exact by construction.
  *   (no _stats.json) — deliberately: a stats manifest with stale row
  *                 counts would let the metadata-aggregate rewrite
  *                 overcount; with NO manifest the
  *                 StatsAggRule/StatsPruneRule structurally refuse and
  *                 every aggregate runs the real (tombstone-applying)
  *                 plan. Exactness beats a shortcut here; folding
  *                 restores both.
  * Record and dvs are sealed by the same atomic stage→slot rename as
  * every commit: a crash mid-delete leaves only an orphan stage.
  *
  *   * READ-PATH consequence of knowing each dv's touched keys: the
  * assembly splits physical files into DIRTY (some dv touches them —
  * lineage scan + anti-join) and CLEAN (no dv entry — plain
  * vectorized scan, no input_file_name/row_index derivation, no join
  * at all). After a point delete on a 100k-file table, 99.99% of the
  * scan stays whole-stage-codegen scan-only. */
object MergeOnRead {

  private val DvDirName = "_dv"

  /** One deletion-vector sidecar serving a version: the parquet's
    * absolute path, its row count, and the data-file keys it
    * tombstones. */
  private[operators] final case class DvEntry(path: String, rows: Long,
    keys: Seq[String])

  /** Percent-decode the %XX escapes a URI-rendered path carries
    * ('b=New%20York' → 'b=New York'); malformed escapes pass through
    * verbatim. Used ONLY to canonicalize dv-key vs file-listing
    * comparisons — tombstone anti-join keys stay in their original
    * (input_file_name-derived) form on both sides. */
  private def pctDecode(s: String): String = {
    if (!s.contains('%')) return s
    val bytes = new java.io.ByteArrayOutputStream
    var i = 0
    def hex(c: Char): Int = Character.digit(c, 16)
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length && hex(s.charAt(i + 1)) >= 0 &&
          hex(s.charAt(i + 2)) >= 0) {
        bytes.write(hex(s.charAt(i + 1)) * 16 + hex(s.charAt(i + 2)))
        i += 3
      } else {
        val enc = c.toString.getBytes("UTF-8")
        bytes.write(enc, 0, enc.length)
        i += 1
      }
    }
    new String(bytes.toByteArray, "UTF-8")
  }

  private def recordOf(f: org.apache.hadoop.fs.FileSystem, dir: String,
      v: Long): VersionRecord =
    VersionDir.of(f, new Path(dir, s"v=$v")).record

  /** EVERY deletion-vector sidecar serving version `v`, carried and
    * local. */
  private[operators] def dvEntries(spark: SparkSession, dir: String,
      v: Long): Seq[DvEntry] =
    recordOf(fs(spark, dir), dir, v).dvs.map(d =>
      DvEntry(s"$dir/v=${d.src.getOrElse(v)}/$DvDirName/${d.file}", d.rows,
        d.keys))

  /** The [[Seal]] that carries MoR head `v`'s complete state BY
    * REFERENCE into a successor: every physical file as a reference,
    * every deletion vector with its home version. */
  private[operators] def carrySeal(f: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Long): Seal =
    Seal(refs = physicalFiles(f, dir, v), dvs = recordOf(f, dir, v).dvs
      .map(d => d.copy(src = d.src.orElse(Some(v)))))

  /** Does `v=$v` serve files by reference? Such a version is served by
    * [[Snapshots.read]]/[[Snapshots.table]] via reference assembly — a
    * bare `spark.read.parquet(versionDir)` would miss the referenced
    * files. A missing version answers false. */
  def isMorVersion(spark: SparkSession, dir: String, v: Long): Boolean =
    recordOf(fs(spark, dir), dir, v).isMor

  /** Classify version `v`'s physical files into DIRTY (some deletion
    * vector touches them) and CLEAN, plus the dv entries themselves.
    * dv keys come from input_file_name(), which renders the path
    * URI-ENCODED ('b=New%20York/…'); the physical file list comes
    * from FileSystem listings, which are DECODED ('b=New York/…') —
    * classification matches BOTH spellings of both sides: a false
    * "dirty" merely anti-joins a clean file (harmless), a false
    * "clean" would resurrect deleted rows (the failure the union
    * makes impossible). */
  private def splitDirty(spark: SparkSession, dir: String, v: Long,
      phys: Seq[(Long, String)])
      : (Seq[(Long, String)], Seq[(Long, String)], Seq[DvEntry]) = {
    val dvs = dvEntries(spark, dir, v)
    val dirtyKeys = dvs.flatMap(_.keys)
      .flatMap(k => Seq(k, pctDecode(k))).toSet
    val (dirty, clean) = phys.partition { case (src, rel) =>
      dirtyKeys.contains(s"$src/$rel") ||
        dirtyKeys.contains(pctDecode(s"$src/$rel"))
    }
    (dirty, clean, dvs)
  }

  /** The sound degenerate read of a merge-on-read head for every
    * stats-PRUNED reader: MoR versions carry no manifest (by design)
    * and their local files are not the table, so a pruned reader
    * serves the FULL assembly (references resolved, tombstones
    * applied) with an everything-kept census — pruning is a superset
    * guarantee, and zero pruning is the correct superset. [[fold]]
    * restores real pruning. */
  private[operators] def unprunedRead(spark: SparkSession, dir: String,
      v: Long): (DataFrame, FileStats.PruneStats) = {
    val f = fs(spark, dir)
    val n = physicalFiles(f, dir, v).size.toLong
    (readAssembled(spark, dir, v, lineage = false),
      FileStats.PruneStats(n, 0L, 0L, 0L))
  }

  /** The PHYSICAL data files serving version `v`: carried references
    * plus the version's own files, each as (home version, relPath). */
  private[operators] def physicalFiles(f: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Long): Seq[(Long, String)] =
    recordOf(f, dir, v).refs ++
      listDataRel(f, new Path(s"$dir/v=$v")).map(x => (v, x._1))

  /** Byte lengths of a physical-file set, ONE directory walk per
    * home version — accounting helpers must never degenerate into a
    * per-file getFileStatus RPC loop on an object store. A file
    * missing from its home's listing (concurrently vacuumed)
    * accounts as 0 rather than throwing. */
  private def physLengths(f: org.apache.hadoop.fs.FileSystem,
      dir: String, phys: Seq[(Long, String)])
      : Map[(Long, String), Long] =
    phys.groupBy(_._1).flatMap { case (src, files) =>
      val lens = listDataRel(f, new Path(s"$dir/v=$src")).toMap
      files.map(x => x -> lens.getOrElse(x._2, 0L))
    }

  /** Assemble an MoR version: per-home-version scans (basePath keeps
    * directory-encoded partition columns), unioned by name (schema
    * evolution across homes fills missing columns with NULLs), then
    * the tombstone anti-join. `lineage = true` keeps the `__key`
    * (srcVersion/relPath) and `__pos` (file row position) columns —
    * the identity the tombstones are keyed on.
    *
    * On the plain read path (`lineage = false`) the anti-join applies
    * ONLY to rows from DIRTY files — files some deletion vector
    * actually touches (known from the dv metadata, no data read);
    * clean files scan plain, with no lineage derivation and no join
    * above them. A point delete on a wide table keeps virtually the
    * whole scan join-free. */
  private[operators] def readAssembled(spark: SparkSession, dir: String,
      v: Long, lineage: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => _, col,
      input_file_name, substring_index}
    val f = fs(spark, dir)
    val phys = physicalFiles(f, dir, v)
    require(phys.nonEmpty, s"MoR version v=$v references no files")
    val (dirty0, clean0, dvs) = splitDirty(spark, dir, v, phys)
    val (dirty, clean) =
      if (lineage && dvs.nonEmpty) (phys, Seq.empty[(Long, String)])
      else (dirty0, clean0)
    val survivors = scanFiles(spark, dir, dirty, withLineage = true)
      .map { d =>
        val alive = applyDvs(spark, d, dvs)
        if (lineage) alive else alive.drop("__key", "__pos")
      }
    val cleanDf = scanFiles(spark, dir, clean, withLineage = lineage)
    (survivors, cleanDf) match {
      case (Some(a), Some(b)) =>
        a.unionByName(b, allowMissingColumns = true)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) =>
        throw new IllegalStateException(
          s"MoR version v=$v assembled to no scans")
    }
  }

  /** Grouped-by-home scan of physical files (basePath keeps the
    * directory-encoded partition columns; unionByName fills evolved
    * schemas), optionally deriving the `__key`/`__pos` tombstone
    * identity — THE one place the key-derivation rule
    * (`substring_index(input_file_name(), "/v=", -1)`) lives for
    * readers. None when `files` is empty. */
  private def scanFiles(spark: SparkSession, dir: String,
      files: Seq[(Long, String)], withLineage: Boolean)
      : Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, input_file_name,
      substring_index}
    if (files.isEmpty) return None
    val groups = files.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (src, fs0) =>
        val srcDir = s"$dir/v=$src"
        val base = readFileSet(spark, srcDir, fs0.map(_._2))
        if (!withLineage) base
        else base
          .withColumn("__key",
            substring_index(input_file_name(), "/v=", -1))
          .withColumn("__pos", col("_metadata.row_index"))
    }
    Some(groups.reduce((a, b) =>
      a.unionByName(b, allowMissingColumns = true)))
  }

  /** The one deletion-vector file schema: (key STRING, pos BIGINT) —
    * key is the `/v=`-relative file identity, pos the row position.
    * Every dv reader supplies it EXPLICITLY: schema inference on a
    * parquet path costs one footer-reading Spark job per dv file, and
    * a statement on a k-dv MoR chain was paying k tiny jobs of pure
    * inference for a schema that is fixed by construction. */
  private val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("key",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType)))

  private def readDv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DvSchema).parquet(path)

  /** Anti-join a lineage-scanned frame against the union of the
    * deletion vectors. Join keys renamed so user columns can never
    * collide; the anti-join broadcasts while the deletion vectors
    * are sidecar-sized (the steady state — OPTIMIZE folds before
    * they are not) and degrades to a shuffle join above the
    * threshold, never to a wrong answer. */
  private def applyDvs(spark: SparkSession, d: DataFrame,
      dvs: Seq[DvEntry]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = dvs.map(e => readDv(spark, e.path))
      .reduce(_ unionByName _)
    d.join(t.withColumnRenamed("key", "__tkey")
        .withColumnRenamed("pos", "__tpos"),
      d("__key") === col("__tkey") && d("__pos") === col("__tpos"),
      "left_anti")
  }

  /** Accounting for a merge-on-read delete: tombstones added by this
    * statement / total now live, the files carried by reference, the
    * sidecar bytes this statement wrote, and the data bytes a
    * copy-on-write delete would have moved instead (rewritten +
    * byte-copied — the whole live file set). */
  final case class MorStats(tombstonesAdded: Long, tombstonesTotal: Long,
      filesReferenced: Long, bytesWritten: Long, cowBytesAvoided: Long,
      filesScanned: Long = -1L)

  /** Row-level DELETE, merge-on-read: the new version carries every
    * live file BY REFERENCE and materializes only the deletion
    * vector — (file, row position) tombstones for the matching rows.
    * Zero data bytes move; a reader of the new version applies the
    * tombstones as an anti-join ([[Snapshots.read]]/
    * [[Snapshots.table]] route through the assembly automatically).
    * Rows where the predicate is NULL are KEPT (SQL DELETE semantics,
    * same as [[CopyOnWrite.deleteWhere]]). Tombstones accumulate
    * across consecutive MoR deletes and are FOLDED into a
    * self-contained version by [[fold]] (or
    * [[SnapshotMaintenance.compact]], which delegates). A provably-no-op delete
    * (no matching rows) publishes nothing and returns the current
    * version with zero stats. Epochs carry forward.
    *
    * Refuses a layout with a partition column named `v` — the
    * tombstone key is derived from the path after the LAST `/v=`
    * segment, which such a layout would make ambiguous.
    *
    * Safe for CONCURRENT writers (the Rebase policy): unlike the
    * copy-on-write [[CopyOnWrite.deleteWhere]], a merge-on-read
    * statement NEVER
    * needs an overlap abort — its stage carries the head's complete
    * reference+tombstone state, so re-staging against the new head
    * re-evaluates the predicate over the winner's committed result
    * (serializable re-execution), whatever kind of commit the winner
    * was. Retries are bounded by `maxRetries`; a lost claim whose
    * winner never publishes within `publishWaitMs` aborts with the
    * crashed-committer diagnosis. */
  def deleteWhere(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column, maxRetries: Int = 3,
      publishWaitMs: Long = 30000L): (Long, MorStats) =
    dml(spark, dir, pred, None, maxRetries, publishWaitMs)

  /** Stage one MoR DML statement (delete, or update when `sets` is
    * set) against head `v`. Returns None on a provably-no-op
    * statement; otherwise the READY stage directory — tombstone
    * sidecar, updated images (update only), and the record —
    * references, deletion vectors, epochs, and provenance (op
    * `mor_delete`/`mor_update`, touched = the physical files whose
    * rows this statement tombstoned) — plus the statement's
    * accounting. */
  private def stageDml(spark: SparkSession, dir: String, v: Long,
      pred: org.apache.spark.sql.Column,
      sets: Option[Map[String, org.apache.spark.sql.Column]])
      : Option[(Path, MorStats)] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val op = if (sets.isEmpty) "mor_delete" else "mor_update"
    val f = fs(spark, dir)
    val vDir = s"$dir/v=$v"
    val phys = physicalFiles(f, dir, v)
    require(phys.forall(!_._2.split("/").dropRight(1)
        .exists(_.startsWith("v="))),
      s"$op: a partition column named 'v' shadows the store's " +
        "version key — the tombstone file identity would be " +
        "ambiguous; use the copy-on-write path for this layout")
    val hit = coalesce(pred, lit(false))
    // SIDECAR-ROUTED matching scan: the WRITE side of MoR DML is
    // O(statement) by design (incremental dvs), but the
    // find-matching-rows scan used to read the whole assembly. Every
    // physical file routes through its HOME version's sidecars —
    // manifest ranges, blooms, directory-encoded partitions — via
    // the same dmlAdmission the copy-on-write path uses: a file the
    // predicate provably cannot hit holds no row needing a
    // tombstone, so skipping it is the same superset guarantee. At
    // 100 TB this turns a point MoR delete from O(table) into
    // O(admitted files). Deletion vectors still anti-join below, so
    // an already-deleted row never re-tombstones.
    val byHome = phys.groupBy(_._1).toSeq.sortBy(_._1)
    val cond = CopyOnWrite.dmlCond(spark,
      readFileSet(spark, s"$dir/v=${byHome.last._1}"), pred)
    val admitted: Seq[(Long, String)] = byHome.flatMap {
      case (src, files) =>
        val hDir = s"$dir/v=$src"
        val (aff, _) = CopyOnWrite.dmlAdmission(files.map(_._2), cond,
          sidecarsOf(spark, hDir))
        aff.map(r => (src, r))
    }
    // no admitted file → no row can match → publish nothing
    if (admitted.isEmpty) return None
    // Prune the tombstone anti-join to the dvs that can TOUCH an
    // admitted file (each dv's index line records the file keys it
    // tombstones — same canonicalization as splitDirty). A point
    // statement on a long MoR chain otherwise anti-joins EVERY prior
    // statement's dv — O(history) plan width and one sidecar read per
    // dv — where only the admitted files' tombstones can matter: a dv
    // whose key set misses every admitted file contributes no matching
    // tombstone, so dropping it from the join is an identity.
    val admittedKeys = admitted.flatMap { case (src, rel) =>
      Seq(s"$src/$rel", pctDecode(s"$src/$rel")) }.toSet
    val dvs = dvEntries(spark, dir, v).filter(_.keys.exists(k =>
      admittedKeys.contains(k) || admittedKeys.contains(pctDecode(k))))
    val scanned = scanFiles(spark, dir, admitted, withLineage = true)
      .getOrElse(return None)
    // conform to the table schema (NULL-fill) — an admitted old-home
    // file may predate a column the predicate references, and the
    // pruned union must still resolve it exactly like the full
    // assembly's allowMissingColumns union would
    val schema = tableSchema(spark, dir)
    val lineage = schema.fields.foldLeft(
      if (dvs.nonEmpty) applyDvs(spark, scanned, dvs) else scanned) {
      (d, fd) =>
        if (d.columns.exists(_.equalsIgnoreCase(fd.name))) d
        else d.withColumn(fd.name, lit(null).cast(fd.dataType))
    }
    val oldCount = dvTotal(spark, dir, v)
    val dvFile = s"dv-${java.util.UUID.randomUUID()}"
    def dvPath(stage: Path) =
      new Path(stage, s"$DvDirName/$dvFile").toString
    // sidecars + accounting shared by both statement kinds, written
    // once the statement is known non-no-op
    def finishStage(stage: Path, added: Long, rawTouched: Seq[String])
        : Option[(Path, MorStats)] = {
      val carried = carrySeal(f, dir, v)
      seal(spark, dir, stage, carried.copy(base = Some(new Path(vDir)),
        dml = Some(Provenance(v, op, rawTouched.map(k => s"v=$k"))),
        schema = Some(schema), dvs = carried.dvs :+
          Dv(None, dvFile, added, rawTouched)))
      val sidecarBytes = f.getContentSummary(stage).getLength
      // accounting only: one directory walk per HOME version, never
      // a per-file getFileStatus RPC loop
      val cowBytes = physLengths(f, dir, phys).values.sum
      Some((stage, MorStats(added, oldCount + added, phys.size.toLong,
        sidecarBytes, cowBytes, admitted.size.toLong)))
    }
    sets match {
      case None =>
        // DELETE: the admitted-file scan runs ONCE — the tombstone
        // count and the distinct touched-file keys ride the dv write
        // as an Observation (stageRewrite's pattern) instead of a
        // persist + count + distinct-collect trio; at 100 TB the
        // matching scan is the statement's dominant cost and this
        // collapses three jobs over it into one. Same foldable-
        // predicate guard as stageRewrite: a constant predicate can
        // fold the CollectMetrics node away, so that path (and the
        // Row.empty race) falls back to re-reading the one written
        // sidecar file — tombstone-sized, never the table.
        val newTombs = lineage.filter(hit)
          .select(col("__key").as("key"), col("__pos").as("pos"))
        val constPred =
          org.apache.spark.sql.GraftColumnBridge.expression(hit).foldable
        val obs = new org.apache.spark.sql.Observation()
        val tombsObs =
          if (constPred) newTombs
          else newTombs.observe(obs,
            org.apache.spark.sql.functions.count(lit(1)).as("__added"),
            org.apache.spark.sql.functions.collect_set(col("key"))
              .as("__touched"))
        val st = stage(spark, dir)(p =>
          tombsObs.coalesce(1).write.mode("overwrite")
            .options(NoSuccessMarker).parquet(dvPath(p)))
        val (added, rawTouched) =
          (if (constPred) None else observedOrNone(obs)) match {
            case Some(m) =>
              (m("__added").asInstanceOf[Long],
                Option(m("__touched"))
                  .map(_.asInstanceOf[scala.collection.Seq[String]]
                    .toSeq.sorted).getOrElse(Seq.empty))
            case None =>
              if (!constPred) log.warn(
                "stageDml: dv-write observation unavailable — " +
                  "falling back to re-reading the written sidecar")
              val written = readDv(spark, dvPath(st))
              val r = written.agg(
                org.apache.spark.sql.functions.count(lit(1)),
                org.apache.spark.sql.functions.collect_set(col("key")))
                .head()
              (r.getLong(0), r.getSeq[String](1).toSeq.sorted)
          }
        // a provably-no-op delete publishes nothing — discard the
        // staged sidecar (nothing was renamed into a version slot)
        if (added == 0L) { f.delete(st, true); return None }
        finishStage(st, added, rawTouched)
      case Some(s) =>
        // UPDATE: two consumers (dv write + image write) read the
        // matched rows, so the scan is cached once
        val matching = lineage.filter(hit)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val newTombs = matching
            .select(col("__key").as("key"), col("__pos").as("pos"))
          val added = newTombs.count()
          if (added == 0L) return None
          // the distinct data-file keys this statement tombstones —
          // free at stage time, what lets readers skip clean files
          val rawTouched = newTombs.select(col("key")).distinct()
            .collect().map(_.getString(0)).toSeq.sorted
          // the matched rows' new images land as this version's own
          // data files, re-routed through the partition layout
          val dataCols = lineage.columns.toSeq
            .filterNot(c => c == "__key" || c == "__pos")
          val updated = matching.select(dataCols.map { c =>
            s.get(c).map(_.as(c)).getOrElse(col(c))
          }: _*)
          val st = stage(spark, dir) { p =>
            writeFrame(updated, p, pcolsOf(phys.map(_._2)),
              rebalance = true)
            // incremental deletion vector: ONLY this statement's
            // tombstones are written; prior statements' dvs carry by
            // reference in the record — statement cost is
            // O(statement), independent of accumulated deletes
            newTombs.coalesce(1).write.mode("overwrite")
              .options(NoSuccessMarker).parquet(dvPath(p))
          }
          finishStage(st, added, rawTouched)
        } finally { matching.unpersist(); () }
    }
  }

  private def dml(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      sets: Option[Map[String, org.apache.spark.sql.Column]],
      maxRetries: Int, publishWaitMs: Long): (Long, MorStats) = {
    val f = fs(spark, dir)
    commitStaged(spark, dir, Rebase(maxRetries, publishWaitMs)) { h =>
      require(h > 0, s"$dir has no committed version")
      stageDml(spark, dir, h, pred, sets) match {
        case None =>
          Left(MorStats(0L, dvTotal(spark, dir, h),
            physicalFiles(f, dir, h).size.toLong, 0L, 0L))
        // an MoR stage carries the head's COMPLETE reference +
        // tombstone state, so re-staging against any winner's head is
        // serializable re-execution — every retry is authorized
        case Some((stage, stats)) => Right(Staged(stage, stats))
      }
    }
  }

  /** Row-level UPDATE, merge-on-read: the matching rows are
    * TOMBSTONED in place (same deletion-vector sidecar as
    * [[deleteWhere]]) and their updated images land as this
    * version's own data files — the standard DV+rewrite-rows MoR
    * update. Bytes moved = the updated rows only, never the files
    * that hold them; an update that changes a partition column
    * re-routes its rows through `partitionBy` like the CoW path.
    * Same no-op/NULL-keeps/layout/concurrency contracts as
    * deleteWhere. */
  def updateWhere(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column],
      maxRetries: Int = 3, publishWaitMs: Long = 30000L)
      : (Long, MorStats) = {
    require(sets.nonEmpty, "updateWhere needs at least one SET column")
    dml(spark, dir, pred, Some(sets), maxRetries, publishWaitMs)
  }

  /** Total live tombstones of version `v` — metadata arithmetic over
    * the dv entries. */
  private def dvTotal(spark: SparkSession, dir: String, v: Long): Long =
    dvEntries(spark, dir, v).map(_.rows).sum

  /** FOLD an MoR head back into a self-contained version: materialize
    * the assembly (references resolved, tombstones applied), restore
    * the partitioned layout, recompute stats/bloom sidecars, and
    * publish — the maintenance half of merge-on-read, paying the
    * rewrite ONCE for any number of accumulated deletes. After
    * folding, plain reads, manifest pruning, and metadata-only
    * aggregates all apply again. `statsCols`/`bloomCols` default to
    * the UNION of what the referenced home versions track — a
    * stats-tracked table stays stats-tracked through the fold without
    * the maintenance job knowing the schema, exactly like
    * [[SnapshotMaintenance.compact]]'s inheritance on self-contained
    * versions. */
  def fold(spark: SparkSession, dir: String,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil)
      : Long = {
    val f = fs(spark, dir)
    val v = latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version")
    require(isMorVersion(spark, dir, v),
      s"MergeOnRead.fold: v=$v is already self-contained")
    val phys = physicalFiles(f, dir, v)
    val (sCols, bCols) = inheritedSidecars(spark, f,
      phys.map(_._1).distinct.sorted.map(h => s"$dir/v=$h"))
    val folded = readAssembled(spark, dir, v, lineage = false)
    val st = stage(spark, dir)(writeFrame(folded, _,
      pcolsOf(phys.map(_._2)), rebalance = true))
    // the fold was assembled from head v: a DML statement that
    // committed during the rewrite must not be silently reverted
    commitNew(spark, dir, Abort("MergeOnRead.fold", v))(seal(spark, dir,
      st, Seal(
      if (statsCols.nonEmpty) statsCols else sCols,
      if (bloomCols.nonEmpty) bloomCols else bCols,
      base = Some(new Path(s"$dir/v=$v")),
      schema = Some(folded.schema))))
  }

  /** Accounting for a [[purge]]: dirty files rewritten, clean
    * files carried by reference, tombstones applied (now gone), and
    * the data bytes each side held — `bytesSkipped` is what a full
    * [[fold]] would have rewritten on top. */
  final case class PurgeStats(filesRewritten: Long,
    filesReferenced: Long, tombstonesApplied: Long,
    bytesRewritten: Long, bytesSkipped: Long)

  /** PURGE a merge-on-read head: rewrite ONLY the DIRTY files (those
    * some deletion vector touches) with their tombstoned rows
    * dropped, carry every CLEAN file by reference, and drop all
    * deletion vectors — the targeted maintenance step between
    * "leave the tombstones" and a full [[fold]] rewrite (Delta's
    * REORG … APPLY (PURGE)). Cost is O(dirty bytes), not O(table):
    * after a point delete on a 100 TB table, purge rewrites the one
    * file that lost rows and references everything else. The result
    * is still a reference-assembled (manifest-less) version — plain
    * reads skip the anti-join entirely (no dvs left), and a later
    * fold/compaction restores the self-contained stats-indexed
    * form when maintenance chooses to pay for it. When EVERY
    * file was dirty the output carries no refs (the head stops being
    * MoR, so no later fold would ever run) — that one case recomputes
    * the stats manifest and bloom sidecars here, fold-style, so a
    * stats-tracked table never loses pruning to a purge. No-ops (head
    * not MoR, or no dvs to apply) are refused loudly — the caller
    * should know its maintenance call did nothing. */
  def purge(spark: SparkSession, dir: String): (Long, PurgeStats) = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, dir)
    val v = latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version")
    require(isMorVersion(spark, dir, v),
      s"MergeOnRead.purge: v=$v is not a merge-on-read version")
    val vPath = f.makeQualified(new Path(s"$dir/v=$v"))
    val phys = physicalFiles(f, dir, v)
    val (dirty, clean, dvs) = splitDirty(spark, dir, v, phys)
    require(dvs.nonEmpty, s"MergeOnRead.purge: v=$v carries no " +
      "deletion vectors — nothing to purge")
    val pcols = pcolsOf(phys.map(_._2))
    // rewrite = the dirty files' SURVIVORS: the read path's dirty
    // branch (shared scanFiles/applyDvs — ONE key-derivation rule),
    // materialized
    val applied = dvs.map(e => readDv(spark, e.path))
      .reduce(_ unionByName _).count()
    val survivors = applyDvs(spark,
      scanFiles(spark, dir, dirty, withLineage = true).getOrElse(
        throw new IllegalStateException(
          s"MergeOnRead.purge: v=$v has deletion vectors but no " +
            "dirty files")),
      dvs).drop("__key", "__pos")
    // a purge that empties the whole table (tombstones covered every
    // row, nothing clean) still needs one schema-carrying file — the
    // same rule as a full-table delete; nothing left to reference →
    // the purge IS a self-contained version (a plain read)
    val st = stage(spark, dir)(writeFrame(survivors, _, pcols,
      rebalance = true, keepSchema = clean.isEmpty))
    // fully-rewritten output: the head is no longer MoR, so the "a
    // later fold restores the stats-indexed form" contract can
    // never fire — restore it HERE (fold's home-manifest
    // derivation), or a stats-tracked table silently stops pruning
    // after the one purge that happened to dirty every file
    val (sCols, bCols) =
      if (clean.nonEmpty) (Nil, Nil)
      else inheritedSidecars(spark, f,
        phys.map(_._1).distinct.sorted.map(h => s"$dir/v=$h"))
    seal(spark, dir, st, Seal(sCols, bCols, base = Some(vPath), refs = clean,
      schema = Some(tableSchema(spark, dir))))
    // accounting: one walk per home version, no per-file RPC loop
    val lens = physLengths(f, dir, phys)
    def bytesOf(files: Seq[(Long, String)]): Long =
      files.map(lens.getOrElse(_, 0L)).sum
    val stats = PurgeStats(dirty.size.toLong, clean.size.toLong,
      applied, bytesOf(dirty), bytesOf(clean))
    (commitNew(spark, dir, Abort("MergeOnRead.purge", v))(st), stats)
  }
}
