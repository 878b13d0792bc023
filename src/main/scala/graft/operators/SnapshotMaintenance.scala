package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import Snapshots._

/** Snapshot-table maintenance: small-file compaction, OPTIMIZE
  * ZORDER and vacuum. Compaction and ZORDER publish a rewritten layout
  * of the head as the NEXT version under the Abort policy (a rewrite
  * built from an old head must never revert the commit that moved
  * it); vacuum reclaims what no retained version needs. */
object SnapshotMaintenance {

  /** Compaction result summary: how much was rewritten vs passed
    * through. */
  final case class CompactStats(nInputFiles: Int, nBins: Int,
      nRewrittenFiles: Int, rewrittenBytes: Long,
      passthroughFiles: Int)

  /** Small-file compaction AS a snapshot commit — what SQL `OPTIMIZE
    * t` runs. An MoR head compacts by FOLDING ([[MergeOnRead.fold]]):
    * the materializing rewrite IS the compaction (tombstones applied,
    * references resolved); bin-packing applies to the folded output
    * on the next run. Any other head bin-packs EVERY data directory of
    * the version independently ([[packDir]]) — files are never merged
    * across partition values, which would corrupt the
    * directory-encoded column, and a flat layout is simply its one
    * root directory. The compacted tree is staged with the same
    * `key=value` structure, the stats manifest and bloom sidecars are
    * RECOMPUTED over the new file layout (per-file min/max are
    * layout-dependent — carrying the old manifest forward would pin
    * stats to files that no longer exist), epochs and ZORDER columns
    * carry forward, and
    * the result publishes as the next version. Readers keep the old
    * version until the pointer moves; vacuum reclaims it later —
    * maintenance never breaks an in-flight read. `statsCols` default
    * to the columns of the source version's manifest, so a
    * stats-tracked table stays stats-tracked through compaction
    * without the maintenance job knowing the schema. At 100 TB each
    * directory's rewrite is an independent job whose volume is that
    * directory's small-file bytes; already-compact big files are
    * byte-copied, never rewritten. */
  def compact(spark: SparkSession, dir: String, targetBytes: Long,
      statsCols: Seq[String] = Nil): (Long, CompactStats) = {
    val f = fs(spark, dir)
    val v = latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version to compact")
    if (MergeOnRead.isMorVersion(spark, dir, v)) {
      val before = MergeOnRead.physicalFiles(f, dir, v).size
      val nv = MergeOnRead.fold(spark, dir, statsCols)
      val nvPath = f.makeQualified(new Path(s"$dir/v=$nv"))
      val rewritten = listDataRel(f, nvPath).size
      return (nv, CompactStats(before, rewritten, rewritten,
        f.getContentSummary(nvPath).getLength, 0))
    }
    val vDir = s"$dir/v=$v"
    val vPath = f.makeQualified(new Path(vDir))
    // parents before children: a child's output inside a parent's
    // target would trip the parent's dirty-target refusal
    val byDir = listDataRel(f, vPath)
      .groupBy { case (rel, _) =>
        rel.substring(0, math.max(rel.lastIndexOf('/'), 0)) }
      .toSeq.sortBy(_._1)
    var agg = CompactStats(0, 0, 0, 0L, 0)
    val st = stage(spark, dir)(p => byDir.foreach { case (rel, files) =>
      val out = if (rel.isEmpty) p else new Path(p, rel)
      val cs = packDir(spark,
        files.map { case (r, n) => (s"$vPath/$r", n) }, out, targetBytes)
      agg = CompactStats(
        agg.nInputFiles + cs.nInputFiles,
        agg.nBins + cs.nBins,
        agg.nRewrittenFiles + cs.nRewrittenFiles,
        agg.rewrittenBytes + cs.rewrittenBytes,
        agg.passthroughFiles + cs.passthroughFiles)
    })
    // bloom sidecars are per-FILE, so the new layout needs them
    // recomputed just like the stats manifest — dropping them would
    // silently turn point lookups back into full scans
    val (carried, blooms) = inheritedSidecars(spark, f, Seq(vDir))
    (commitNew(spark, dir, Abort("compact", v))(seal(spark, dir, st,
      Seal(if (statsCols.nonEmpty) statsCols else carried, blooms,
        base = Some(vPath),
        schema = Some(readFileSet(spark, vDir).schema)))), agg)
  }

  /** First-fit-decreasing packing of (file, size) into bins of
    * `targetBytes`. Files at or above the target stay alone in their
    * bin (they are already "compact"); the classic FFD bound keeps
    * bins within 11/9·OPT+1. Every input path appears in exactly one
    * bin. */
  private[operators] def planBins(files: Seq[(String, Long)],
      targetBytes: Long): Seq[Seq[(String, Long)]] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val (big, small) = files.partition(_._2 >= targetBytes)
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[(String, Long)], Long)]
    for (f <- small.sortBy { case (p, sz) => (-sz, p) }) {
      val i = bins.indexWhere(_._2 + f._2 <= targetBytes)
      if (i < 0)
        bins += ((scala.collection.mutable.ArrayBuffer(f), f._2))
      else {
        bins(i)._1 += f
        bins(i) = (bins(i)._1, bins(i)._2 + f._2)
      }
    }
    big.map(f => Seq(f)) ++ bins.map(_._1.toSeq)
  }

  /** Bin-pack ONE directory's data `files` ((path, bytes)) into
    * `out`: multi-file bins are rewritten to one file each (one
    * `coalesce(1)` job per bin — the rewrite volume is proportional to
    * the SMALL-file bytes, not the table); singleton bins (big files,
    * lone leftovers) are byte-copied unchanged, so an already-compact
    * directory rewrites zero bytes. Row content is preserved exactly;
    * row ORDER is not a parquet contract and follows bin membership.
    * Sources are never deleted — the commit protocol owns that. */
  private[operators] def packDir(spark: SparkSession,
      files: Seq[(String, Long)], out: Path,
      targetBytes: Long): CompactStats = {
    val conf = spark.sparkContext.hadoopConfiguration
    val bins = planBins(files.sortBy(_._1), targetBytes)
    val fs = out.getFileSystem(conf)
    // a rerun into a dirty target would silently MIX stale and new
    // files — duplicated rows that no downstream check would catch.
    // Compaction owns its output directory; fail loudly instead.
    if (fs.exists(out) && fs.listStatus(out).exists(s =>
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".")))
      throw new java.io.IOException(
        s"compact target $out already contains data; " +
        "clean it or choose a fresh directory")
    fs.mkdirs(out)
    var rewritten = 0
    var rewrittenBytes = 0L
    var passthrough = 0
    bins.zipWithIndex.foreach { case (bin, i) =>
      if (bin.length == 1) {
        val src = new Path(bin.head._1)
        // source FS derived from the SOURCE path: in/out may live on
        // different filesystems (hdfs → local, local → s3, …)
        org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src,
          fs, new Path(out, f"pass-$i%05d-${src.getName}"),
          false, conf)
        passthrough += 1
      } else {
        // mergeSchema: a bin can pack files from different append
        // batches of an EVOLVING schema; without it the inferred
        // schema comes from one arbitrary footer and columns present
        // only in the other files are silently dropped — breaking the
        // "row content is preserved exactly" contract
        spark.read.option("mergeSchema", "true")
          .parquet(bin.map(_._1): _*)
          .coalesce(1)
          .write.mode("append").options(Snapshots.NoSuccessMarker)
          .parquet(out.toString)
        rewritten += bin.length
        rewrittenBytes += bin.map(_._2).sum
      }
    }
    CompactStats(files.length, bins.length, rewritten,
      rewrittenBytes, passthrough)
  }

  /** Accounting for [[optimizeClustered]]: file counts either side of
    * the rewrite plus the row count that must be invariant. */
  final case class ClusterStats(filesBefore: Long, filesAfter: Long,
      rows: Long)

  /** OPTIMIZE ZORDER BY — recluster the latest version on the Morton
    * curve of two or three `clusterCols` (3-D interleaves through
    * [[ZOrder.interleave3]], the xq37 Morton path) and publish the
    * rewritten layout as the NEXT version: same rows, different file
    * boundaries, so that range predicates on ANY clustered column
    * prune files through the recomputed stats manifest (readers keep
    * the old version until the pointer moves — maintenance never
    * breaks an in-flight read, exactly like compaction). This is the
    * write-side half of the file-skipping story: the
    * manifests/StatsFileIndex only pay when per-file min/max are
    * TIGHT, and a table that accreted by appends has scattered files
    * where every range touches everything. At 100 TB this is
    * Delta/Iceberg's OPTIMIZE ZORDER: one shuffle of the table
    * (repartition on the cluster id + an in-task sort by the full
    * Z-value for parquet row-group locality), run rarely, amortized
    * over every selective read after it.
    *
    * Layout: one file per Z-bucket (`bucketCol=value` Hive-style
    * directories — the cluster id MATERIALIZES as a table column,
    * the deterministic file↔bucket bijection the oracle-replayable
    * censuses are built on). `quantizeCols = true` linearly quantizes
    * each dimension to `bits` levels between its observed min/max
    * (one min/max agg, never a sample — deterministic); with
    * `false` the inputs must already be non-negative integers below
    * 2^bits (exact integer arithmetic end to end, replayable in a
    * SQL twin). Stats manifest recomputed over the new layout
    * (always including the cluster columns — tight bounds are the
    * point), bloom sidecars recomputed per file, epochs carried
    * forward (the exactly-once fence survives maintenance).
    */
  def optimizeClustered(spark: SparkSession, dir: String,
      clusterCols: Seq[String], bits: Int = 10,
      bucketWidth: Long = 16384L, bucketCol: String = "z_bucket",
      statsCols: Seq[String] = Nil, quantizeCols: Boolean = true)
      : (Long, ClusterStats) = {
    import org.apache.spark.sql.functions.{call_function, col, lit,
      max => fmax, min => fmin}
    require(clusterCols.size == 2 || clusterCols.size == 3,
      s"optimizeClustered takes 2 or 3 columns, got " +
        clusterCols.mkString(", "))
    require(clusterCols.distinct.size == clusterCols.size,
      s"optimizeClustered: duplicate cluster column in " +
        clusterCols.mkString(", "))
    require(bucketWidth > 0, "bucketWidth must be positive")
    val f = fs(spark, dir)
    val v = latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version to optimize")
    require(!MergeOnRead.isMorVersion(spark, dir, v),
      "optimizeClustered on a merge-on-read head — fold the " +
        "tombstones first (MergeOnRead.fold), then recluster")
    val vDir = s"$dir/v=$v"
    val vPath = f.makeQualified(new Path(vDir))
    // the bucket column is MANAGED by this op: a re-run (monthly
    // OPTIMIZE is the documented usage) drops and recomputes it, so
    // maintenance stays schema-stable instead of refusing or
    // accreting a new column per cycle. It must not collide with a
    // CLUSTERING column, which is user data.
    require(!clusterCols.contains(bucketCol),
      s"optimizeClustered: bucketCol '$bucketCol' is a cluster column")
    // the bucket column names the partition directories — keep it
    // filesystem-safe
    require(bucketCol.nonEmpty && bucketCol.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-'),
      s"optimizeClustered: bucketCol '$bucketCol' must be " +
        "[A-Za-z0-9_-]+ (it names the bucket directories)")
    val df0 = read(spark, dir, v)
    // managed-bucket provenance: the column is dropped ONLY when this
    // version's record (carried forward from an ancestor) proves a
    // prior optimizeClustered produced it — its `zorder` columns.
    // A user table that legitimately OWNS a column with this name is
    // refused loudly instead of silently destroyed: the require below
    // is the difference between "recompute my own column" and
    // "drop somebody's data because the default name collided".
    val managed = VersionDir.of(f, vPath).record.zorder.contains(bucketCol)
    val df = if (df0.columns.contains(bucketCol)) {
      require(managed,
        s"optimizeClustered: column '$bucketCol' exists but was not " +
          s"produced by a prior optimizeClustered (v=$v's record names " +
          "no such ZORDER column) — it is user data; pass a different " +
          "bucketCol")
      df0.drop(bucketCol)
    } else df0
    def interleave(cs: Seq[Column]): Column = cs match {
      case Seq(x, y) => ZOrder.interleave2(x, y, bits)
      case Seq(x, y, z) => ZOrder.interleave3(x, y, z, bits)
      case _ => throw new IllegalStateException("unreachable arity")
    }
    val zkey =
      if (!quantizeCols) interleave(clusterCols.map(col))
      else {
        val aggs = clusterCols.flatMap(c => Seq(
          fmin(col(c)).cast("double"), fmax(col(c)).cast("double")))
        val b = df.agg(aggs.head, aggs.tail: _*).head()
        clusterCols.indices.foreach(i => require(!b.isNullAt(2 * i),
          s"optimizeClustered: ${clusterCols(i)} entirely NULL — " +
            "cannot cluster"))
        interleave(clusterCols.zipWithIndex.map { case (c, i) =>
          ZOrder.quantize(col(c), b.getDouble(2 * i),
            b.getDouble(2 * i + 1), bits)
        })
      }
    val clustered = df
      .withColumn("__z", zkey)
      .withColumn(bucketCol, call_function("div", col("__z"),
        lit(bucketWidth)))
      .repartition(col(bucketCol))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    val (inherited, blooms) = inheritedSidecars(spark, f, Seq(vDir))
    val cols = ((if (statsCols.nonEmpty) statsCols else inherited) ++
      clusterCols).distinct.sorted
    // the managed bucket column is recorded INSIDE the stage (sealed
    // by the same atomic slot rename as the data): the next OPTIMIZE
    // run — and any DML/compaction in between, which carry it
    // forward — can prove the column is store-managed before dropping
    // it
    val st = seal(spark, dir,
      stage(spark, dir)(writeFrame(clustered, _, Seq(bucketCol))),
      Seal(cols, blooms, base = Some(vPath), zorder = Seq(bucketCol)))
    val stats = ClusterStats(listDataRel(f, vPath).size.toLong,
      listDataRel(f, st).size.toLong,
      FileStats.readManifest(spark, st.toString).map(_.rows).sum)
    (commitNew(spark, dir, Abort("optimizeClustered", v))(st), stats)
  }

  /** Delete version directories that are (a) orphans ABOVE the
    * committed pointer (failed writes) or (b) older than the
    * `keepLast` most recent committed versions, plus any claim
    * markers and abandoned stage directories covered by the same
    * rule. Never touches the pointer or the versions it protects.
    * Returns deleted versions.
    *
    * CONCURRENCY: an in-flight `commit` stages `v=latest+1` BEFORE
    * publishing, which is indistinguishable from a crashed orphan.
    * With the default `orphanGraceMs = 0` vacuum
    * must therefore not run concurrently with a committer (the
    * single-maintenance-job scheduling every lake compactor already
    * needs). To run vacuum alongside writers, pass a grace period —
    * above-pointer directories (and stage directories) are then only
    * reclaimed once their modification time is older than
    * `orphanGraceMs`, so a live commit's staging is never swept.
    */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 2,
      orphanGraceMs: Long = 0L): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val f = fs(spark, dir)
    val latest = latestVersion(spark, dir)
    val now = System.currentTimeMillis()
    val root = Root.of(f, dir)
    def aged(s: org.apache.hadoop.fs.FileStatus): Boolean =
      orphanGraceMs <= 0 || s.getModificationTime < now - orphanGraceMs
    val versions = root.versions.toSeq.sortBy(_._1)
    val candidates = versions.collect {
      case (v, _) if v <= latest - keepLast => v
      case (v, s) if v > latest && aged(s) => v
    }
    // merge-on-read versions serve files that PHYSICALLY live in
    // older version directories (their records' refs) — deleting a
    // referenced home is data loss, not cleanup. Data-file references
    // AND deletion-vector homes both pin (a survivor's dv may
    // physically live in a doomed version's _dv directory). Shrink the
    // doomed set to a fixpoint: every version referenced by any
    // survivor survives too (a kept-alive home may itself carry refs,
    // so one pass is not enough); each record is read once.
    val pins: Map[Long, Set[Long]] = versions.map { case (v, s) =>
      val r = VersionDir.of(f, s.getPath).record
      v -> (r.refs.map(_._1) ++ r.dvs.flatMap(_.src)).toSet
    }.toMap
    val doomed = {
      var d = candidates.toSet
      var changed = true
      while (changed) {
        val nd = d -- pins.filter(p => !d(p._1)).values.flatten
        changed = nd != d
        d = nd
      }
      candidates.filter(d) // keep the original (sorted) order
    }
    doomed.foreach { v =>
      f.delete(new Path(dir, s"v=$v"), true)
      f.delete(new Path(dir, s"_claim.$v"), false)
      f.delete(new Path(dir, s"_pubtime.$v"), false)
    }
    // stages abandoned by crashed writers, plus retired claim markers
    // (dead by construction once renamed — kept only through the
    // grace window for forensics)
    (root.stages ++ root.retired).filter(aged)
      .foreach(s => f.delete(s.getPath, s.isDirectory))
    // LIVE claim markers with no corresponding v=N directory: a
    // committer that died between claim and slot rename.
    // nextFreeVersion honors live markers, so an unreclaimed corpse
    // burns its slot forever. Same grace rule as stage directories —
    // an in-flight committer's fresh claim is never swept by a graced
    // vacuum.
    val survivingVersions = root.versions.keySet -- doomed
    root.claims.foreach { case (v, s) =>
      if (aged(s) && !survivingVersions(v)) f.delete(s.getPath, false)
    }
    doomed
  }
}
