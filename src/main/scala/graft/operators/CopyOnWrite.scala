package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import Snapshots._

/** Copy-on-write row-level DML on a snapshot table — DELETE, UPDATE
  * and MERGE at FILE granularity: the sidecars decide which files can
  * hold affected rows, only those are rewritten, every other file is
  * byte-copied through with its manifest entries spliced. Each
  * statement commits through [[Snapshots]]' pipeline under the
  * Rebase policy, with provenance in the version record and commit-time
  * conflict
  * detection ([[validateIntervening]]). */
object CopyOnWrite {

  /** Accounting for a copy-on-write rewrite: how many files were
    * actually rewritten vs byte-copied untouched, and the row delta. */
  final case class RewriteStats(filesRewritten: Long, filesCopied: Long,
      rowsChanged: Long, rowsKeptInRewritten: Long)

  /** Row-level DELETE as a new snapshot version, copy-on-write at
    * FILE granularity: the stats/bloom sidecars decide which files
    * can possibly contain matching rows — only THOSE are decoded,
    * filtered, and rewritten; every other file is byte-copied through
    * (name preserved) and keeps its existing manifest entries (the
    * splice — untouched files are never re-scanned). At 100 TB with a
    * clustered layout, deleting one key range rewrites that range's
    * files, not the table; the op this store's manifests exist to
    * make cheap. Rows where the predicate is NULL are KEPT (SQL
    * DELETE semantics). Epochs carry forward (the deleted-from
    * state still includes those epochs — the fence stays O(1)).
    * PARTITIONED layouts route additionally through the
    * directory-encoded partition values (a predicate on a partition
    * column rewrites only that partition's files), and rewritten rows
    * re-route through `partitionBy` — an UPDATE that changes a
    * partition column moves its rows to the right directory.
    * Returns the new version and the accounting; a provably-no-op
    * delete (every file skipped) publishes nothing and returns the
    * current version with zero stats.
    *
    * Safe for CONCURRENT writers (the Rebase policy): the statement
    * stages against the head it read and publishes only onto that
    * head. If another writer committed first, it re-validates instead
    * of clobbering:
    *  - every version the new head's provenance chain leads back
    *    through rewrote files DISJOINT from this statement's admitted
    *    set → RETRY: re-stage against the new head (predicate DML
    *    re-executes serializably), up to `maxRetries` times;
    *  - any of them overlaps this statement's files, or is not a DML
    *    version (a full commit replaced the table) → ABORT with
    *    ConcurrentModificationException — the caller must re-reason,
    *    exactly like Delta's ConcurrentDeleteDelete / ConcurrentWrite
    *    conflicts.
    * A lost claim whose winner never publishes within `publishWaitMs`
    * aborts with a crashed-committer diagnosis (a graced `vacuum`
    * with `orphanGraceMs` reclaims the dead claim). */
  def deleteWhere(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column, maxRetries: Int = 3,
      publishWaitMs: Long = 30000L): (Long, RewriteStats) =
    cowDml(spark, dir, pred, None, maxRetries, publishWaitMs)

  /** Row-level UPDATE, same copy-on-write shape and commit protocol as
    * [[deleteWhere]]: files the sidecars prove can't contain a
    * matching row are byte-copied; the rest are rewritten with `sets`
    * applied to matching rows only (`when(pred, expr).otherwise(col)`
    * per column). */
  def updateWhere(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column],
      maxRetries: Int = 3, publishWaitMs: Long = 30000L)
      : (Long, RewriteStats) = {
    require(sets.nonEmpty, "updateWhere needs at least one SET column")
    cowDml(spark, dir, pred, Some(sets), maxRetries, publishWaitMs)
  }

  /** The predicate's sidecar-decidable condition: resolve `pred`
    * against `frame` and take the OPTIMIZED plan's filter — the
    * analyzer leaves type-coercion casts on literals (`k >= cast(0
    * as bigint)`) that only constant folding collapses back to the
    * literals the stats extractors match. */
  private[operators] def dmlCond(spark: SparkSession, frame: DataFrame,
      pred: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    frame.filter(pred).queryExecution.optimizedPlan.collectFirst {
      case flt: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        flt.condition
    }.toSeq

  /** Sidecar admission for a predicate DML statement over ONE
    * version directory's data files: a file is skipped when
    * [[graft.plans.StatsFilters.refuted]] — the planner's own
    * decision — or its directory-encoded partition values refute the
    * predicate. Superset guarantee — files with no deciding sidecar
    * stay admitted. Returns (affected, untouched). Shared by
    * copy-on-write rewrites and the merge-on-read matching scan, so
    * both route the same way. */
  private[operators] def dmlAdmission(dataFiles: Seq[String],
      cond: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      sidecars: FileStats.Sidecars): (Seq[String], Seq[String]) = {
    val refuted = graft.plans.StatsFilters.refuted(cond, sidecars)
    val pcols = pcolsOf(dataFiles)
    // directory-encoded values are point stats, so a predicate on a
    // partition column routes to that partition's files only
    val partSkipped: Set[String] =
      if (pcols.isEmpty) Set.empty
      else {
        val pPreds = graft.plans.StatsFilters.extract(cond)
          .filter(p => pcols.contains(p.column))
        if (pPreds.isEmpty) Set.empty
        else {
          val synth = dataFiles.map(r =>
            FileStats.FileStat(r, 0L, partStats(r)))
          FileStats.prune(synth, pPreds)._2.map(_.relPath).toSet
        }
      }
    dataFiles.partition(r => !refuted(r) && !partSkipped(r))
  }

  /** Build (but do NOT commit) a copy-on-write rewrite of version
    * `v`: sidecar-routed admission, rewritten + byte-copied files
    * staged with spliced manifests, epochs carried, and the
    * statement's provenance sealed into the stage's record
    * (base version + the files it rewrote — what commit-time
    * conflict detection validates against). Returns None when every
    * file is provably unaffected (the caller publishes nothing). */
  private def stageRewrite(spark: SparkSession, dir: String, v: Long,
      pred: org.apache.spark.sql.Column,
      sets: Option[Map[String, org.apache.spark.sql.Column]])
      : Option[(Path, Seq[String], RewriteStats)] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val f = fs(spark, dir)
    val vDir = s"$dir/v=$v"
    val vPath = f.makeQualified(new Path(vDir))
    val dataFiles = listDataRel(f, vPath).map(_._1)
    // resolve the predicate against the version's schema and extract
    // the range/equality conjuncts the sidecars can decide on
    val head = readFileSet(spark, vDir)
    val cond = dmlCond(spark, head, pred)
    val sidecars = sidecarsOf(spark, vDir)
    val (affected, untouched) = dmlAdmission(dataFiles, cond, sidecars)
    if (affected.isEmpty) return None
    val hit = coalesce(pred, lit(false))
    // basePath keeps directory-encoded partition columns in the frame
    val affectedDf = readFileSet(spark, vDir, affected)
    // row accounting rides the WRITE as an Observation instead of two
    // extra jobs (a predicate-filter count plus a full recount): the
    // affected files are scanned ONCE per statement — at 100 TB the
    // admitted-file scan is the statement's dominant cost and this
    // halves it. EXCEPT for a constant predicate (DELETE without
    // WHERE): the optimizer folds `filter(NOT true)` to an empty
    // LocalRelation, dropping the CollectMetrics node with it, and
    // the observation would never resolve — for a constant predicate
    // the two counting jobs fold to metadata reads anyway, so that
    // path keeps them. Sums over zero rows observe as null → 0.
    val constPred =
      org.apache.spark.sql.GraftColumnBridge.expression(hit).foldable
    val obs = new org.apache.spark.sql.Observation()
    val affectedObs =
      if (constPred) affectedDf
      else affectedDf.observe(obs,
        org.apache.spark.sql.functions.sum(hit.cast("long"))
          .as("__changed"),
        org.apache.spark.sql.functions.count(lit(1)).as("__total"))
    val rewritten = sets match {
      case None => affectedObs.filter(!hit)
      case Some(ss) =>
        affectedObs.select(affectedObs.columns.toSeq.map { c =>
          ss.get(c).map(e => when(hit, e).otherwise(col(c)).as(c))
            .getOrElse(col(c))
        }: _*)
    }
    // a statement that empties the WHOLE table (no rewritten rows, no
    // untouched files) still leaves one schema-carrying file
    val st = stage(spark, dir)(writeFrame(rewritten, _,
      pcolsOf(dataFiles), keepSchema = untouched.isEmpty))
    val (rowsChanged, totalRows) =
      (if (constPred) None else observedOrNone(obs)) match {
        case Some(metrics) =>
          (Option(metrics("__changed")).map(_.asInstanceOf[Long])
            .getOrElse(0L), metrics("__total").asInstanceOf[Long])
        case None =>
          // Row.empty race (or constant predicate): re-pays the
          // admitted-file scan twice — log it so an unexpectedly
          // recurring fallback is diagnosable from the logs alone
          if (!constPred) log.warn(
            "stageRewrite: write observation unavailable — falling " +
              "back to recounting the affected files")
          (affectedDf.filter(hit).count(), affectedDf.count())
      }
    // kept = everything the predicate did not hit (NULL keeps) — never
    // read back from the stage, which is legitimately file-less when a
    // partitioned delete empties every affected file
    val rowsKept = sets match {
      case None => totalRows - rowsChanged
      case Some(_) => totalRows
    }
    // splice sidecars: scan ONLY the new files, byte-copy the
    // untouched ones through with their existing entries
    Some((seal(spark, dir, st, cowSeal(dir, v, sidecars, head.schema,
      untouched, if (sets.isEmpty) "delete" else "update", affected)),
      affected,
      RewriteStats(affected.size.toLong, untouched.size.toLong,
        rowsChanged, rowsKept)))
  }

  // ---- commit-time conflict detection for concurrent DML -------------
  // Two writers doing copy-on-write DML on disjoint files would
  // last-write-wins a whole version if they only serialized on slot
  // claims: each stages "my rewrite + byte-copies of everything
  // else", so whichever publishes second silently reverts the first
  // statement's effect. The Rebase policy closes that hole the way
  // Delta's optimistic concurrency does: every DML version records its
  // provenance (base version + the files it rewrote), a
  // statement publishes only onto the head it staged from, and on
  // losing the race it re-validates — intervening versions that are
  // all DML and touched DISJOINT files mean the statement simply
  // re-executes on the new head (serializable: predicate DML
  // recomputes); any overlap, or any interleaved non-DML commit (full
  // rewrite — touched everything), aborts loudly with
  // ConcurrentModificationException rather than guessing.

  private def cowDml(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      sets: Option[Map[String, org.apache.spark.sql.Column]],
      maxRetries: Int, publishWaitMs: Long): (Long, RewriteStats) = {
    val f = fs(spark, dir)
    commitStaged(spark, dir, Rebase(maxRetries, publishWaitMs)) { h =>
      require(h > 0, s"$dir has no committed version")
      require(!MergeOnRead.isMorVersion(spark, dir, h),
        "copy-on-write DML on a merge-on-read head — fold the " +
          "tombstones first (MergeOnRead.fold), then rewrite")
      stageRewrite(spark, dir, h, pred, sets) match {
        case None => Left(RewriteStats(0, 0, 0, 0))
        case Some((stage, affected, rs)) =>
          Right(Staged(stage, rs,
            validateIntervening(f, dir, h, _, affected)))
      }
    }
  }

  /** Intervening-commit validation every copy-on-write statement runs
    * when another writer moved the head from `h` to `h2` first: the
    * versions main published in between are the new head's
    * provenance base chain back to `h` (a crashed Replace committer's
    * orphan sitting in (h, h2] was never main's history).
    * Aborts loudly on any overlap or non-DML link; returns normally
    * when every link is DML over DISJOINT files (safe retry —
    * predicate/keyed DML re-executes serializably against the new
    * head). Shared by delete/update and MERGE — one conflict taxonomy
    * for the whole CoW DML surface. */
  private def validateIntervening(f: org.apache.hadoop.fs.FileSystem,
      dir: String, h: Long, h2: Long, affected: Seq[String]): Unit = {
    def conflict(msg: String) =
      new java.util.ConcurrentModificationException(
        s"conflict: $msg (base v=$h) — re-read and re-reason")
    val chain = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Provenance)]
    var x = h2
    while (x > h) {
      val dml = VersionDir.of(f, new Path(s"$dir/v=$x")).record.dml
        .getOrElse(throw conflict(s"concurrent NON-DML commit v=$x " +
          "replaced the table under this statement"))
      chain += (x -> dml)
      x = dml.base
    }
    if (x != h) throw conflict(
      s"the head v=$h2 does not descend from this statement's base")
    // a concurrent MERGE-ON-READ statement moved the head to an MoR
    // version this copy-on-write statement cannot re-stage against
    // (and its 'v=N/rel'-namespaced tombstone keys can never
    // intersect CoW rel paths, so the overlap check below would
    // misreport it as disjoint) — abort with the honest diagnosis
    // instead of retrying into the fold-first require
    chain.find(_._2.op.startsWith("mor_")).foreach { case (v, _) =>
      throw conflict(s"concurrent merge-on-read DML v=$v under this " +
        "copy-on-write statement — fold the tombstones (MergeOnRead.fold), " +
        "then re-run")
    }
    val touchedByOthers = chain.flatMap(_._2.touched).toSet
    val overlap = affected.filter(touchedByOthers)
    if (overlap.nonEmpty) throw conflict(
      s"concurrent DML (v=${chain.map(_._1).reverse.mkString(",")}) " +
        s"rewrote files this statement also admits: " +
        overlap.take(4).mkString(", ") +
        (if (overlap.size > 4) ", …" else ""))
  }

  /** MERGE INTO as a copy-on-write snapshot commit — the K1 full-row
    * upsert at FILE granularity: source rows REPLACE same-key table
    * rows and unmatched source rows INSERT, but only files that can
    * possibly contain a source key are decoded and rewritten. Routing
    * uses the leading key column's sidecars: the source's distinct
    * keys are collected driver-side (bounded by `maxRoutedKeys` —
    * CDC batches are small relative to the table; above the bound
    * every file is rewritten, which is plain K1) and a file is
    * affected only if its [min,max] admits some key AND, when a
    * bloom sidecar exists, its filter admits that key too — so a
    * scattered-key CDC batch against a clustered table still rewrites
    * only the hit files. The source is conformed to the table schema
    * first (schema evolution applies); the caller owns source-side
    * key dedup (K5 last-write-wins upstream). PARTITIONED layouts
    * route through directory-encoded partition values when the
    * leading key IS a partition column, and rewritten+inserted rows
    * re-route through `partitionBy`; epochs carry forward. */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], maxRoutedKeys: Int = 100000,
      maxRetries: Int = 3, publishWaitMs: Long = 30000L)
      : (Long, RewriteStats) = {
    require(keys.nonEmpty, "mergeInto needs at least one key column")
    val f = fs(spark, dir)
    // the Rebase policy like every DML statement: a commit landing
    // during the (potentially long) merge rewrite is never silently
    // reverted — the stage is withdrawn, intervening versions are
    // validated (disjoint DML → re-stage on the new head; overlap or
    // non-DML → loud abort), and the version publishes with its
    // provenance so CONCURRENT statements validate against this merge
    commitStaged(spark, dir, Rebase(maxRetries, publishWaitMs)) { h =>
      require(h > 0, s"$dir has no committed version")
      require(!MergeOnRead.isMorVersion(spark, dir, h),
        "mergeInto on a merge-on-read head — fold the tombstones " +
          "first (MergeOnRead.fold), then merge")
      stageMerge(spark, dir, h, source, keys, maxRoutedKeys) match {
        case None => Left(RewriteStats(0, 0, 0, 0))
        case Some((stage, affected, rs)) =>
          Right(Staged(stage, rs,
            validateIntervening(f, dir, h, _, affected)))
      }
    }
  }

  /** MERGE file admission, shared by [[mergeInto]] and [[mergeApply]]:
    * the distinct values of `sourceKeys` (one column, already cast to
    * the sidecars' string domain) are collected driver-side, bounded by
    * `maxRoutedKeys`, and a file is affected only when its [min,max]
    * of `routeCol` — manifest stats first, a partition-encoded
    * directory value as point stats otherwise — admits some key AND,
    * when a bloom sidecar exists, its filter admits that key too. A
    * file with no bounds for the column stays affected; with no stats
    * and no partition column to route on, or above the key bound,
    * every file is. Returns (affected, untouched). */
  private def routeByKeys(dataFiles: Seq[String],
      sidecars: FileStats.Sidecars, routeCol: String,
      sourceKeys: DataFrame, maxRoutedKeys: Int)
      : (Seq[String], Seq[String]) = {
    val (stats, blooms) = sidecars
    val statsByRel = stats.map(e => e.relPath -> e).toMap
    val bloom = blooms.get(routeCol).map(_.map(b => b.relPath -> b).toMap)
    val routedKeys: Option[Seq[String]] =
      if (stats.isEmpty && !pcolsOf(dataFiles).contains(routeCol)) None
      else {
        val ks = sourceKeys.na.drop().distinct().limit(maxRoutedKeys + 1)
          .collect().map(_.getString(0)).toSeq
        if (ks.size > maxRoutedKeys) None else Some(ks)
      }
    routedKeys match {
      case None => (dataFiles, Seq.empty[String])
      case Some(ks) =>
        dataFiles.partition { rel =>
          statsByRel.get(rel).flatMap(_.cols.get(routeCol).flatten)
            .orElse(partStats(rel).get(routeCol).flatten) match {
            case None => true
            case Some((mn, mx)) =>
              ks.exists(k => FileStats.pointInRange(mn, mx, k) &&
                bloom.forall(bm => bm.get(rel)
                  .forall(BloomStats.admits(_, k))))
          }
        }
    }
  }

  /** Build (but do NOT commit) the [[mergeInto]] rewrite of version
    * `v`: key-routed admission, anti-join + union of the affected
    * files, spliced sidecars, byte-copied untouched files, and
    * provenance sealed into the stage's record. Returns None for
    * an empty source (a no-op merge publishes nothing). */
  private def stageMerge(spark: SparkSession, dir: String, v: Long,
      source: DataFrame, keys: Seq[String], maxRoutedKeys: Int)
      : Option[(Path, Seq[String], RewriteStats)] = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, dir)
    val vDir = s"$dir/v=$v"
    val vPath = f.makeQualified(new Path(vDir))
    val schema = readFileSet(spark, vDir).schema
    val conformed = conform(source, schema)
    val dataFiles = listDataRel(f, vPath).map(_._1)
    val pcols = pcolsOf(dataFiles)
    val sidecars = sidecarsOf(spark, vDir)
    val (affected, untouched) = routeByKeys(dataFiles, sidecars,
      keys.head, conformed.select(col(keys.head).cast("string")),
      maxRoutedKeys)
    val rowsChanged = conformed.count()
    // an empty source is a no-op merge: publish nothing (and never
    // hand the parquet writer an empty frame to stage) — zero stats,
    // matching deleteWhere's published-nothing contract (nothing was
    // rewritten AND nothing was copied)
    if (rowsChanged == 0L) return None
    // the kept-row count rides the WRITE as an Observation: counting
    // the anti-join separately evaluated the whole join TWICE (once
    // for the count, once inside the union write) — the join of the
    // affected files is the merge's dominant cost at scale
    val obs = new org.apache.spark.sql.Observation()
    val (newData, observedKept) =
      if (affected.isEmpty) (conformed, false)
      else {
        val base = readFileSet(spark, vDir, affected)
        val anti = base.join(conformed, keys, "left_anti")
          .observe(obs,
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("__kept"))
        (anti.unionByName(conformed), true)
      }
    val st = stage(spark, dir)(writeFrame(newData, _, pcols,
      rebalance = true))
    val rowsKept =
      if (!observedKept) 0L
      else observedOrNone(obs)
        .map(_("__kept").asInstanceOf[Long])
        .getOrElse {
          // re-runs the merge's dominant anti-join (and re-evaluates
          // `conformed`) — rare by construction (Row.empty race), but
          // when it fires it must be visible, and a non-deterministic
          // source could make the recount disagree with what was
          // written; surface both facts in the log
          log.warn("stageMerge: kept-count observation unavailable — " +
            "falling back to re-running the anti-join count")
          readFileSet(spark, vDir, affected)
            .join(conformed, keys, "left_anti").count()
        }
    Some((seal(spark, dir, st,
      cowSeal(dir, v, sidecars, schema, untouched, "merge", affected)),
      affected,
      RewriteStats(affected.size.toLong, untouched.size.toLong,
        rowsChanged, rowsKept)))
  }

  // ---- generalized MERGE (the full Delta clause surface) -------------

  /** One WHEN clause of a generalized [[mergeApply]]. Conditions and
    * SET/VALUES expressions are Columns over the JOINED row — target
    * columns resolve through [[tcol]], source columns through
    * [[scol]]. Clauses apply IN ORDER: the first whose condition
    * holds wins (SQL MERGE semantics); a row matching no clause is
    * kept (target side) or dropped (source side). */
  sealed trait MergeClause { def condition: Option[Column] }
  /** WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN UPDATE SET … */
  final case class MergeUpdate(condition: Option[Column],
      sets: Map[String, Column]) extends MergeClause
  /** WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN DELETE */
  final case class MergeDelete(condition: Option[Column])
      extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT … — table columns
    * absent from `values` land as typed NULLs. */
  final case class MergeInsert(condition: Option[Column],
      values: Map[String, Column]) extends MergeClause

  /** Target-side column reference inside a [[MergeClause]]. */
  def tcol(name: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.col(s"__t.`$name`")
  /** Source-side column reference inside a [[MergeClause]]. */
  def scol(name: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.col(s"__s.`$name`")

  /** Accounting for [[mergeApply]] — the Delta num_affected_rows
    * decomposition plus the file-routing census. */
  final case class MergeApplyStats(filesRewritten: Long,
      filesCopied: Long, rowsUpdated: Long, rowsDeleted: Long,
      rowsInserted: Long) {
    def rowsAffected: Long = rowsUpdated + rowsDeleted + rowsInserted
  }

  /** MERGE with the FULL clause surface — conditional and multiple
    * `WHEN MATCHED [AND …] THEN UPDATE/DELETE`, `WHEN NOT MATCHED
    * THEN INSERT`, and `WHEN NOT MATCHED BY SOURCE THEN
    * UPDATE/DELETE` — as a copy-on-write snapshot commit through the
    * same Rebase commit policy as every DML statement
    * (provenance recorded, disjoint concurrent DML retries, overlap
    * aborts). [[mergeInto]] remains the fast path for the canonical
    * full-row upsert (anti-join, no wide outer join).
    *
    * `on` is the equi-join pair list ((targetCol, sourceCol), …);
    * the leading target column routes file admission through the
    * stats/bloom sidecars exactly like [[mergeInto]] — UNLESS a
    * `WHEN NOT MATCHED BY SOURCE` clause is present, which can touch
    * ANY target row, so every file is admitted (the inherent cost of
    * that clause, same as Delta). Execution is one full-outer join
    * of the admitted files against the source with per-clause CASE
    * routing — pure Column algebra, fully codegen. A target row matched
    * by MORE than one source row refuses with the SQL-standard MERGE
    * cardinality error (never silent duplication).
    */
  def mergeApply(spark: SparkSession, dir: String, source: DataFrame,
      on: Seq[(String, String)], matched: Seq[MergeClause] = Nil,
      notMatched: Seq[MergeClause] = Nil,
      notMatchedBySource: Seq[MergeClause] = Nil,
      maxRoutedKeys: Int = 100000, maxRetries: Int = 3,
      publishWaitMs: Long = 30000L): (Long, MergeApplyStats) = {
    require(on.nonEmpty, "mergeApply needs at least one ON pair")
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "mergeApply needs a WHEN clause")
    matched.foreach {
      case _: MergeInsert => throw new IllegalArgumentException(
        "WHEN MATCHED supports UPDATE and DELETE, not INSERT")
      case _ => ()
    }
    notMatched.foreach {
      case _: MergeInsert => ()
      case c => throw new IllegalArgumentException(
        s"WHEN NOT MATCHED supports INSERT only, got $c")
    }
    notMatchedBySource.foreach {
      case _: MergeInsert => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE supports UPDATE and DELETE, " +
          "not INSERT")
      case _ => ()
    }
    // a typo'd SET/VALUES key would otherwise become a silent no-op
    // that still counts as an affected row (the SQL path is guarded
    // by the analyzer; the library API must refuse too)
    val schemaNames = tableSchema(spark, dir).fieldNames.toSeq
    def knownCols(m: Map[String, Column], what: String): Unit =
      m.keys.filterNot(k =>
        schemaNames.exists(_.equalsIgnoreCase(k))).toList match {
        case Nil => ()
        case bad => throw new IllegalArgumentException(
          s"mergeApply: $what columns ${bad.mkString(", ")} not in " +
            s"the table schema (${schemaNames.mkString(", ")})")
      }
    (matched ++ notMatchedBySource).foreach {
      case u: MergeUpdate => knownCols(u.sets, "UPDATE SET")
      case _ => ()
    }
    notMatched.foreach {
      case i: MergeInsert => knownCols(i.values, "INSERT")
      case _ => ()
    }
    val f = fs(spark, dir)
    commitStaged(spark, dir, Rebase(maxRetries, publishWaitMs)) { h =>
      require(h > 0, s"$dir has no committed version")
      require(!MergeOnRead.isMorVersion(spark, dir, h),
        "mergeApply on a merge-on-read head — fold the tombstones " +
          "first (MergeOnRead.fold), then merge")
      stageMergeApply(spark, dir, h, source, on, matched, notMatched,
        notMatchedBySource, maxRoutedKeys) match {
        case None => Left(MergeApplyStats(0, 0, 0, 0, 0))
        case Some((stage, affected, st)) =>
          Right(Staged(stage, st,
            validateIntervening(f, dir, h, _, affected)))
      }
    }
  }

  private def stageMergeApply(spark: SparkSession, dir: String,
      v: Long, source: DataFrame, on: Seq[(String, String)],
      matched: Seq[MergeClause], notMatched: Seq[MergeClause],
      notMatchedBySource: Seq[MergeClause], maxRoutedKeys: Int)
      : Option[(Path, Seq[String], MergeApplyStats)] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum,
      when}
    val f = fs(spark, dir)
    val vDir = s"$dir/v=$v"
    val vPath = f.makeQualified(new Path(vDir))
    val schema = readFileSet(spark, vDir).schema
    val dataFiles = listDataRel(f, vPath).map(_._1)
    val pcols = pcolsOf(dataFiles)
    // file admission: NOT-MATCHED-BY-SOURCE reads everything; else
    // the leading ON pair routes through sidecars like mergeInto
    val (routeT, routeS) = on.head
    val sidecars = sidecarsOf(spark, vDir)
    val (affected, untouched) =
      if (notMatchedBySource.nonEmpty) (dataFiles, Seq.empty[String])
      else routeByKeys(dataFiles, sidecars, routeT,
        source.select(col(s"`$routeS`").cast("string")), maxRoutedKeys)
    // the joined frame: admitted target rows × source, full outer on
    // the ON pairs, presence flags deciding matched / target-only /
    // source-only (null join keys never match — SQL semantics)
    val base =
      if (affected.isEmpty)
        readFileSet(spark, vDir).limit(0)
      else readFileSet(spark, vDir, affected)
    val tA = base.withColumn("__t_present", lit(true))
      .withColumn("__tid",
        org.apache.spark.sql.functions.monotonically_increasing_id())
      .alias("__t")
    val sA = source.withColumn("__s_present", lit(true)).alias("__s")
    val joinCond = on.map { case (tc, sc) =>
      col(s"__t.`$tc`") === col(s"__s.`$sc`")
    }.reduce(_ && _)
    val joined = tA.join(sA, joinCond, "full_outer")
    val tPresent = coalesce(col("__t.__t_present"), lit(false))
    val sPresent = coalesce(col("__s.__s_present"), lit(false))
    val isMatched = tPresent && sPresent
    val tOnly = tPresent && !sPresent
    val sOnly = !tPresent && sPresent
    def cOf(cl: MergeClause): Column =
      cl.condition.map(c => coalesce(c, lit(false)))
        .getOrElse(lit(true))
    // clause discriminators — first matching clause wins, 0 = none.
    // matched clauses take ids 1.., NOT-MATCHED-BY-SOURCE 101..
    val targetClauses: Seq[(Int, MergeClause)] =
      matched.zipWithIndex.map { case (c, i) => (i + 1, c) } ++
        notMatchedBySource.zipWithIndex.map { case (c, i) =>
          (101 + i, c)
        }
    val act = targetClauses.foldLeft(when(lit(false), 0)) {
      case (acc, (id, cl)) =>
        val guard = if (id > 100) tOnly else isMatched
        acc.when(guard && cOf(cl), id)
    }.otherwise(0)
    val ins = notMatched.zipWithIndex
      .foldLeft(when(lit(false), 0)) { case (acc, (cl, i)) =>
        acc.when(sOnly && cOf(cl), i + 1)
      }.otherwise(0)
    val updateIds = targetClauses.collect {
      case (id, _: MergeUpdate) => id
    }
    val deleteIds = targetClauses.collect {
      case (id, _: MergeDelete) => id
    }
    val withAct = joined
      .withColumn("__act", act).withColumn("__ins", ins)
    // accounting pass (the Delta num_affected_rows decomposition) —
    // same extra-pass cost class as mergeInto's anti.count()
    def hits(c: Column): Column =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val acctRow = withAct.agg(
      hits(col("__act").isInCollection(updateIds.map(Int.box))),
      hits(col("__act").isInCollection(deleteIds.map(Int.box))),
      hits(col("__ins") =!= 0),
      hits(isMatched),
      org.apache.spark.sql.functions.countDistinct(
        when(isMatched, col("__t.__tid")))).head()
    val (nUpd, nDel, nIns) =
      (acctRow.getLong(0), acctRow.getLong(1), acctRow.getLong(2))
    // MERGE cardinality (the Delta/SQL-standard error): a target row
    // matched by MORE than one source row would be emitted once per
    // pair — silent duplication under legal-looking SQL. Refuse.
    val (matchedPairs, matchedRows) =
      (acctRow.getLong(3), acctRow.getLong(4))
    if (matchedPairs > matchedRows)
      throw new IllegalStateException(
        s"MERGE: ${matchedPairs - matchedRows} source rows matched " +
          "already-matched target rows — the ON clause must match " +
          "each target row to at most one source row; dedupe the " +
          "source")
    if (nUpd == 0L && nDel == 0L && nIns == 0L) return None
    // target-side survivors: per-column CASE over the winning clause
    def setsOf(id: Int): Map[String, Column] = targetClauses
      .collectFirst { case (`id`, u: MergeUpdate) => u.sets }
      .getOrElse(Map.empty)
    val targetOut = withAct.filter(tPresent)
      .filter(!col("__act").isInCollection(deleteIds.map(Int.box)))
      .select(schema.fields.toSeq.map { fd =>
        val base0: Column = col(s"__t.`${fd.name}`")
        updateIds.foldLeft(when(lit(false), base0)) { (acc, id) =>
          setsOf(id).collectFirst {
            case (k, e) if k.equalsIgnoreCase(fd.name) => e
          } match {
            case Some(e) => acc.when(col("__act") === id, e)
            case None => acc
          }
        }.otherwise(base0).cast(fd.dataType).as(fd.name)
      }: _*)
    def valuesOf(id: Int): Map[String, Column] = notMatched
      .lift(id - 1).collect { case i: MergeInsert => i.values }
      .getOrElse(Map.empty)
    val insertOut = withAct.filter(col("__ins") =!= 0)
      .select(schema.fields.toSeq.map { fd =>
        notMatched.indices.map(_ + 1)
          .foldLeft(when(lit(false), lit(null))) { (acc, id) =>
            valuesOf(id).collectFirst {
              case (k, e) if k.equalsIgnoreCase(fd.name) => e
            } match {
              case Some(e) => acc.when(col("__ins") === id, e)
              case None => acc
            }
          }.otherwise(lit(null)).cast(fd.dataType).as(fd.name)
      }: _*)
    val newData = targetOut.unionByName(insertOut)
    // a merge that empties the table still needs one schema-carrying
    // file (same rule as a full-table delete)
    val st = stage(spark, dir)(writeFrame(newData, _, pcols,
      rebalance = true, keepSchema = untouched.isEmpty))
    Some((seal(spark, dir, st,
      cowSeal(dir, v, sidecars, schema, untouched, "merge", affected)),
      affected, MergeApplyStats(affected.size.toLong,
      untouched.size.toLong, nUpd, nDel, nIns)))
  }
}
