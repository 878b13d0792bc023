package graft.plans

import org.apache.spark.sql.{GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeReference, Cast, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment,
  DeleteFromTable, InsertAction, InsertIntoStatement, LogicalPlan,
  MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{
  InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.LongType

import graft.operators.Snapshots

/** SQL DML for `USING snapshot` tables — the write half of the
  * zero-code SQL story (the read half is the registered
  * `format("snapshot")` connector; the reference's whole consumption
  * model is plain SQL over views —
  * YayoiHabami/Jobcan-Data-Integrator README.md:3,
  * jobcan_di/database/create_views.sql — and a BI user who can read
  * a table must be able to correct it without Scala):
  *
  *   DELETE FROM t WHERE k < 100
  *   UPDATE t SET s = 'x', n = n + 1 WHERE k = 7
  *   MERGE INTO t USING src ON t.k = src.k
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *
  *
  * INTEGRATION POINT — a post-hoc resolution rule, deliberately:
  * Spark's parser already produces `DeleteFromTable` / `UpdateTable`
  * / `MergeIntoTable` and the analyzer fully resolves them against
  * the connector's V1 relation; only the EXECUTION check rejects
  * non-v2 tables. This rule intercepts the resolved statements whose
  * target is a snapshot catalog table and rewrites them into eagerly
  * executed commands over the library DML — the same rewrite shape
  * Delta's DeltaAnalysis uses (public precedent: delta-io/delta,
  * DeleteFromTable → DeleteCommand). Statements over any OTHER table
  * pass through untouched and fail exactly as before.
  *
  * CONCURRENCY: every library statement commits through the store's
  * Rebase policy — a SQL user gets commit-time conflict detection by
  * default. MoR vs CoW is a TABLE option: `CREATE
  * TABLE t USING snapshot OPTIONS (path '…', dmlMode 'mor')` makes
  * DELETE/UPDATE merge-on-read (tombstone sidecars, zero data bytes
  * moved); the default 'cow' rewrites files. MERGE is always
  * copy-on-write (its routing rewrites only key-admitting files).
  *
  * Each statement returns a single `affected_rows` row (the Delta
  * convention), so `spark.sql("DELETE …").head.getLong(0)` is the
  * statement's row count.
  */
/** Per-query FRESHNESS for catalog snapshot tables — the analog of
  * Delta's per-query `DeltaLog.update`. Spark caches a data source
  * table's resolved relation on first use (FindDataSourceTable's
  * relation cache), which freezes a `USING snapshot` table at the
  * version it was first queried: a session that SELECTs, commits (or
  * runs SQL DML), then SELECTs again would silently read the OLD
  * version. This rule compares the cached relation's served version
  * (parsed from its `v=N` root path, or [[SnapshotPlanRelation]]'s
  * `servedVersion`) against the store head — one pointer read — and
  * on staleness drops the cache entry and rebuilds the relation at
  * the current head, keeping the statement's resolved output
  * attributes. Explicitly pinned tables (versionAsOf / timestampAsOf
  * / tag / branch / endingVersion options) are never stale by
  * definition. If the head's SCHEMA evolved, the in-flight statement
  * keeps its resolved shape (this query runs at its old version) and
  * only the cache is invalidated — the next statement re-resolves
  * with the new schema. */
case class SnapshotFreshnessRule(spark: SparkSession)
    extends Rule[LogicalPlan] {

  private val pins = Seq("versionasof", "timestampasof", "tag",
    "branch", "endingversion")

  private def servedVersion(lr: LogicalRelation): Long =
    lr.relation match {
      case h: org.apache.spark.sql.execution.datasources
          .HadoopFsRelation =>
        h.location.rootPaths.map(_.getName).collectFirst {
          case n if n.startsWith("v=") =>
            try n.stripPrefix("v=").toLong
            catch { case _: NumberFormatException => -1L }
        }.getOrElse(-1L)
      case p: graft.sources.SnapshotPlanRelation => p.servedVersion
      case _ => -1L
    }

  // NOT resolveOperators: a relation served from FindDataSourceTable's
  // cache can arrive ALREADY marked analyzed (the cached instance is
  // shared with the query that first resolved it), and resolve* prunes
  // analyzed subtrees — the stale node would simply never be visited.
  // collect has no such pruning, and the identity-based mapChildren
  // rewrite below replaces the node wherever it sits, preserving its
  // resolved output attributes.
  override def apply(plan: LogicalPlan): LogicalPlan = {
    // one refresh per DIR per statement: a self-join over a stale
    // table has two relation instances — both get the SAME rebuilt
    // BaseRelation (each keeps its own resolved output attributes)
    val freshByDir = scala.collection.mutable.Map
      .empty[String, Option[org.apache.spark.sql.sources.BaseRelation]]
    rewrite(plan, freshByDir)
  }

  private def rewrite(plan: LogicalPlan,
      freshByDir: scala.collection.mutable.Map[String,
        Option[org.apache.spark.sql.sources.BaseRelation]])
      : LogicalPlan = {
    val stale: Seq[(LogicalRelation, LogicalRelation)] = plan.collect {
      case lr: LogicalRelation if lr.catalogTable.exists(
          _.provider.exists(_.equalsIgnoreCase("snapshot"))) =>
        refreshIfStale(lr, freshByDir).map(lr -> _)
    }.flatten
    val replaced =
      if (stale.isEmpty) plan
      else {
        def replace(p: LogicalPlan): LogicalPlan =
          stale.find(_._1 eq p).map(_._2)
            .getOrElse(p.mapChildren(replace))
        replace(plan)
      }
    // collect/mapChildren never descend into EXPRESSION plans, so a
    // stale cached relation inside a scalar/IN/EXISTS subquery would
    // keep serving the old version while the main scan refreshed —
    // one statement mixing two versions of the same table. Recurse
    // explicitly; freshByDir still rebuilds each dir once per
    // statement, so main scan and subquery get the SAME fresh head.
    replaced.transformAllExpressions {
      case sq: SubqueryExpression =>
        val r = rewrite(sq.plan, freshByDir)
        if (r eq sq.plan) sq else sq.withNewPlan(r)
    }
  }

  private def refreshIfStale(lr: LogicalRelation,
      freshByDir: scala.collection.mutable.Map[String,
        Option[org.apache.spark.sql.sources.BaseRelation]])
      : Option[LogicalRelation] = {
    val ct = lr.catalogTable.get
    val props = ct.storage.properties
      .map { case (k, v) => (k.toLowerCase, v) }
    if (pins.exists(props.contains)) return None
    val dir = props.get("path")
      .orElse(ct.storage.locationUri.map(_.toString))
      .getOrElse(return None)
    val served = servedVersion(lr)
    if (served <= 0) return None
    val freshOpt = freshByDir.getOrElseUpdate(dir, {
      val latest = Snapshots.latestVersion(spark, dir)
      if (latest <= 0 || latest == served) None
      else {
        // stale: drop the cached plan (the next statement re-resolves
        // and re-caches at the new head) and rebuild the relation ONCE
        spark.sessionState.catalog.refreshTable(ct.identifier)
        Some(new graft.sources.SnapshotDataSource().createRelation(
          spark.sqlContext,
          org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(
            ct.storage.properties + ("path" -> dir))))
      }
    })
    freshOpt.flatMap { fresh =>
      val shape = (s: org.apache.spark.sql.types.StructType) =>
        s.fields.toSeq.map(f => (f.name, f.dataType))
      if (shape(fresh.schema) != shape(lr.relation.schema)) None
      else Some(lr.copy(relation = fresh))
    }
  }
}

case class SnapshotDmlRule(spark: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case d @ DeleteFromTable(SnapshotDml.Target(dir, mor), cond)
          if d.resolved =>
        SnapshotDml.refuseSubquery(Option(cond))
        SnapshotDeleteCommand(dir, mor, Option(cond))
      case u @ UpdateTable(SnapshotDml.Target(dir, mor), assigns, cond)
          if u.resolved =>
        SnapshotDml.refuseSubquery(cond ++ assigns.map(_.value))
        SnapshotUpdateCommand(dir, mor,
          SnapshotDml.namedAssignments(assigns, "UPDATE"), cond)
      case m: MergeIntoTable if m.resolved &&
          SnapshotDml.Target.unapply(m.targetTable).isDefined =>
        val (dir, _) = SnapshotDml.Target.unapply(m.targetTable).get
        SnapshotDml.toMergeCommand(dir, m)
      // backstop only — SnapshotInsertRule (main resolution batch)
      // intercepts INSERT before DataSourceAnalysis can lower it.
      // If this shape ever appears anyway, executing it would write
      // parquet STRAIGHT INTO the published v=N directory (history
      // mutated in place, no new version) — route it, never run it.
      case i: InsertIntoHadoopFsRelationCommand
          if i.catalogTable.exists(
            _.provider.exists(_.equalsIgnoreCase("snapshot"))) =>
        require(i.staticPartitions.isEmpty,
          "snapshot INSERT: static PARTITION specs are not " +
            "supported — include the partition columns in the data")
        SnapshotInsertCommand(SnapshotDml.dirOf(i.catalogTable.get),
          i.query,
          overwrite = i.mode == org.apache.spark.sql.SaveMode.Overwrite)
    }
}

/** SQL `INSERT INTO` / `INSERT OVERWRITE` on `USING snapshot`
  * tables — the most common SQL write, and the one statement that
  * CANNOT wait for the post-hoc batch: DataSourceAnalysis (a
  * post-hoc rule that runs before any injected one) lowers the
  * statement over the connector's V1 file relation into a command
  * whose output path is the CURRENT VERSION DIRECTORY — executing
  * that writes parquet straight into a published `v=N`, silently
  * mutating history in place — and its `verifyNotReadPath` refuses
  * the perfectly-versioned `INSERT OVERWRITE t SELECT … FROM t`.
  * This rule runs in the MAIN resolution batch and rewrites the
  * resolved statement onto the versioned write path first. The
  * source plan gets the same per-query freshness treatment a
  * standalone SELECT would (the post-hoc freshness rule never sees
  * it — commands hide their query in innerChildren). */
case class SnapshotInsertRule(spark: SparkSession)
    extends Rule[LogicalPlan] {

  private lazy val freshness = SnapshotFreshnessRule(spark)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case ins @ InsertIntoStatement(SnapshotDml.Target(dir, _),
          partSpec, userCols, query, overwrite, _, _)
          if query.resolved =>
        require(partSpec.isEmpty,
          "snapshot INSERT: static PARTITION specs are not " +
            "supported — include the partition columns in the data")
        require(!ins.ifPartitionNotExists,
          "snapshot INSERT: IF NOT EXISTS partitions are not " +
            "supported")
        SnapshotInsertCommand(dir, freshness(query), overwrite,
          userCols, ins.byName)
    }
}

object SnapshotDml {

  /** Store dir of a snapshot catalog table — the catalog promotes
    * the `path` OPTION to storage.locationUri and drops it from the
    * property map, so both spellings are checked. */
  private[plans] def dirOf(
      ct: org.apache.spark.sql.catalyst.catalog.CatalogTable): String =
    ct.storage.properties.map { case (k, v) => (k.toLowerCase, v) }
      .get("path").orElse(ct.storage.locationUri.map(_.toString))
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot table ${ct.identifier} has no path"))

  /** Matches the RESOLVED target relation of a `USING snapshot`
    * catalog table: (store dir, dmlMode == mor). Covers both relation
    * shapes the connector serves (the pruning HadoopFsRelation and
    * the MoR-head SnapshotPlanRelation) — the match is on the catalog
    * table's provider, not the relation class. */
  object Target {
    def unapply(plan: LogicalPlan): Option[(String, Boolean)] =
      plan match {
        case SubqueryAlias(_, child) => unapply(child)
        case lr: LogicalRelation =>
          lr.catalogTable.flatMap { ct =>
            if (!ct.provider.exists(_.equalsIgnoreCase("snapshot"))) None
            else {
              val props = ct.storage.properties
                .map { case (k, v) => (k.toLowerCase, v) }
              val mode = props.getOrElse("dmlmode", "cow")
              require(mode.equalsIgnoreCase("cow") ||
                  mode.equalsIgnoreCase("mor"),
                s"snapshot: dmlMode must be 'cow' or 'mor', got '$mode'")
              // the catalog promotes the `path` option to locationUri
              // and drops it from the property map — check both
              props.get("path")
                .orElse(ct.storage.locationUri.map(_.toString))
                .map(p => (p, mode.equalsIgnoreCase("mor")))
            }
          }
        case _ => None
      }
  }

  /** Subqueries in DELETE/UPDATE expressions are refused at REWRITE
    * time (their plans are bound to the statement's relation instance
    * and cannot re-resolve against the engine's fresh scan) — and
    * refusing here, in the rule, puts THIS message in front of the
    * user instead of checkAnalysis's generic subquery complaint. */
  private[plans] def refuseSubquery(es: Iterable[Expression]): Unit =
    if (es.exists(SubqueryExpression.hasSubquery))
      throw new UnsupportedOperationException(
        "snapshot DML: subqueries in DELETE/UPDATE are not " +
          "supported — rewrite as MERGE INTO with the subquery as " +
          "the source")

  /** A resolved condition/value expression, rebuilt to apply against
    * a FRESH scan of the table: the statement's attribute ids belong
    * to the analyzer's relation instance, the DML engine reads its
    * own — so references go back to unresolved by-name form and
    * re-resolve inside the library call. Names round-trip exactly. */
  private[plans] def rebind(e: Expression)
      : org.apache.spark.sql.Column =
    GraftColumnBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  /** UPDATE/MERGE assignments keyed by TOP-LEVEL column name; nested
    * field assignment is refused (a partial struct write is a
    * different operation than the column replace the engine runs). */
  private[plans] def namedAssignments(assigns: Seq[Assignment],
      stmt: String): Seq[(String, Expression)] =
    assigns.map { a =>
      a.key match {
        case ar: AttributeReference => ar.name -> a.value
        case other => throw new UnsupportedOperationException(
          s"snapshot $stmt: only top-level columns can be SET " +
            s"(got ${other.sql}) — rewrite the struct column whole")
      }
    }

  private def stripCasts(e: Expression): Expression = e match {
    case c: Cast => stripCasts(c.child)
    case a: Alias => stripCasts(a.child)
    case x => x
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Maps a resolved MERGE onto the library merge engines. The
    * canonical CDC upsert — equi-join on SAME-named columns, single
    * unconditional `WHEN MATCHED THEN UPDATE SET *` + `WHEN NOT
    * MATCHED THEN INSERT *` — takes the [[Snapshots.mergeInto]] fast
    * path (anti-join, no wide outer join). Everything else in the
    * full Delta clause surface — conditional and multiple matched
    * actions, `WHEN MATCHED THEN DELETE`, partial SET lists,
    * conditional INSERT, `WHEN NOT MATCHED BY SOURCE` — lowers onto
    * [[Snapshots.mergeApply]]. Only a non-equi ON clause and
    * subqueries inside clause expressions are refused. */
  private[plans] def toMergeCommand(dir: String,
      m: MergeIntoTable): LeafRunnableCommand = {
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"snapshot MERGE: $what")
    val targetOut = m.targetTable.outputSet
    val sourceOut = m.sourceTable.outputSet
    // ON: a conjunction of target-column = source-column equalities —
    // the routing/join keys, leading pair first as written
    val pairs: Seq[(String, String)] = conjuncts(m.mergeCondition)
      .map {
        case c @ EqualTo(l, r) =>
          (stripCasts(l), stripCasts(r)) match {
            case (a: AttributeReference, b: AttributeReference)
                if targetOut.contains(a) && sourceOut.contains(b) =>
              (a.name, b.name)
            case (b: AttributeReference, a: AttributeReference)
                if targetOut.contains(a) && sourceOut.contains(b) =>
              (a.name, b.name)
            case _ => unsupported(
              s"ON clause term '${c.sql}' is not target.col = src.col")
          }
        case other =>
          unsupported(s"ON clause term '${other.sql}' is not an " +
            "equality — non-equi merges have no keyed routing")
      }
    // canonical upsert → the fast path
    def isStar(assigns: Seq[Assignment]): Boolean =
      assigns.forall { a =>
        (a.key, stripCasts(a.value)) match {
          case (k: AttributeReference, v: AttributeReference) =>
            k.name.equalsIgnoreCase(v.name) && sourceOut.contains(v)
          case _ => false
        }
      }
    val canonical = pairs.forall(p => p._1.equalsIgnoreCase(p._2)) &&
      m.notMatchedBySourceActions.isEmpty &&
      (m.matchedActions match {
        case Seq(u: UpdateAction) =>
          u.condition.isEmpty && isStar(u.assignments)
        case _ => false
      }) &&
      (m.notMatchedActions match {
        case Seq(i: InsertAction) =>
          i.condition.isEmpty && isStar(i.assignments)
        case _ => false
      })
    if (canonical)
      return SnapshotMergeCommand(dir, m.sourceTable, pairs.map(_._1))
    // general path: lower every clause; expressions are rebound to
    // the __t/__s aliases mergeApply's joined frame exposes
    def qualify(e: Expression): Expression = {
      SnapshotDml.refuseSubquery(Seq(e))
      e.transform {
        case a: AttributeReference if targetOut.contains(a) =>
          UnresolvedAttribute(Seq("__t", a.name))
        case a: AttributeReference if sourceOut.contains(a) =>
          UnresolvedAttribute(Seq("__s", a.name))
      }
    }
    def assigns(as: Seq[Assignment], what: String)
        : Seq[(String, Expression)] =
      namedAssignments(as, what).map { case (k, v) => k -> qualify(v) }
    def target(cl: Seq[org.apache.spark.sql.catalyst.plans.logical
        .MergeAction], what: String): Seq[SqlMergeClause] =
      cl.map {
        case u: UpdateAction =>
          SqlMergeUpdate(u.condition.map(qualify),
            assigns(u.assignments, what))
        case d: org.apache.spark.sql.catalyst.plans.logical
            .DeleteAction =>
          SqlMergeDelete(d.condition.map(qualify))
        case other => unsupported(
          s"$what action ${other.getClass.getSimpleName}")
      }
    val notMatched: Seq[SqlMergeClause] = m.notMatchedActions.map {
      case i: InsertAction =>
        SqlMergeInsert(i.condition.map(qualify),
          assigns(i.assignments, "WHEN NOT MATCHED"))
      case other => unsupported(
        s"not-matched action ${other.getClass.getSimpleName}")
    }
    SnapshotMergeApplyCommand(dir, m.sourceTable, pairs,
      target(m.matchedActions, "WHEN MATCHED"), notMatched,
      target(m.notMatchedBySourceActions,
        "WHEN NOT MATCHED BY SOURCE"))
  }
}

/** A lowered MERGE clause carried inside
  * [[SnapshotMergeApplyCommand]] — expressions already rebound to
  * the `__t`/`__s` aliases of [[Snapshots.mergeApply]]'s joined
  * frame. */
sealed trait SqlMergeClause
final case class SqlMergeUpdate(cond: Option[Expression],
    sets: Seq[(String, Expression)]) extends SqlMergeClause
final case class SqlMergeDelete(cond: Option[Expression])
    extends SqlMergeClause
final case class SqlMergeInsert(cond: Option[Expression],
    values: Seq[(String, Expression)]) extends SqlMergeClause

/** `DELETE FROM t [WHERE …]` on a snapshot table → the library
  * delete (conflict-detected); `dmlMode 'mor'` tombstones instead of
  * rewriting. Returns the affected row count. */
case class SnapshotDeleteCommand(dir: String, mor: Boolean,
    cond: Option[Expression]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("affected_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val pred = cond.map(SnapshotDml.rebind).getOrElse(lit(true))
    val n =
      if (mor) Snapshots.deleteWhereMor(spark, dir, pred)._2
        .tombstonesAdded
      else Snapshots.deleteWhere(spark, dir, pred)._2.rowsChanged
    Seq(Row(n))
  }
}

/** `UPDATE t SET … [WHERE …]` on a snapshot table → the library
  * update; `dmlMode 'mor'` writes tombstones + updated images only. */
case class SnapshotUpdateCommand(dir: String, mor: Boolean,
    assigns: Seq[(String, Expression)], cond: Option[Expression])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("affected_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val pred = cond.map(SnapshotDml.rebind).getOrElse(lit(true))
    val sets = assigns.map { case (k, v) =>
      k -> SnapshotDml.rebind(v)
    }.toMap
    val n =
      if (mor) Snapshots.updateWhereMor(spark, dir, pred, sets)._2
        .tombstonesAdded
      else Snapshots.updateWhere(spark, dir, pred, sets)._2.rowsChanged
    Seq(Row(n))
  }
}

/** `MERGE INTO t USING src ON … WHEN MATCHED THEN UPDATE SET * WHEN
  * NOT MATCHED THEN INSERT *` → [[Snapshots.mergeInto]] (stats/bloom
  * file routing: only key-admitting files rewrite). Returns the
  * source row count (every source row either replaced or inserted —
  * the upsert contract). */
case class SnapshotMergeCommand(dir: String, source: LogicalPlan,
    keys: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("affected_rows", LongType, nullable = false)())

  // the source plan rides along for execution, but as a COMMAND this
  // node is a leaf to the analyzer (already fully resolved)
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    // persisted: the count here and mergeInto's key-routing +
    // rewrite re-read the SAME materialized source — an expensive
    // (or non-deterministic) source plan executes once, and the
    // reported affected_rows always matches the rows merged
    val src = GraftColumnBridge.ofRows(spark, source)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = src.count()
      Snapshots.mergeInto(spark, dir, src, keys)
      Seq(Row(n))
    } finally { src.unpersist(); () }
  }
}

/** The general MERGE (beyond the canonical upsert): conditional /
  * multiple matched actions, `WHEN MATCHED THEN DELETE`, partial SET
  * lists, conditional INSERT, `WHEN NOT MATCHED BY SOURCE` — lowered
  * onto [[Snapshots.mergeApply]] (key-routed full-outer join with
  * per-clause CASE routing, Rebase commit). Returns the Delta
  * num_affected_rows (updated + deleted + inserted). */
case class SnapshotMergeApplyCommand(dir: String, source: LogicalPlan,
    on: Seq[(String, String)], matched: Seq[SqlMergeClause],
    notMatched: Seq[SqlMergeClause],
    notMatchedBySource: Seq[SqlMergeClause])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("affected_rows", LongType, nullable = false)())

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  private def toLib(cl: SqlMergeClause): Snapshots.MergeClause = {
    def c(e: Expression) = GraftColumnBridge.column(e)
    cl match {
      case SqlMergeUpdate(cond, sets) => Snapshots.MergeUpdate(
        cond.map(c), sets.map { case (k, v) => k -> c(v) }.toMap)
      case SqlMergeDelete(cond) => Snapshots.MergeDelete(cond.map(c))
      case SqlMergeInsert(cond, values) => Snapshots.MergeInsert(
        cond.map(c), values.map { case (k, v) => k -> c(v) }.toMap)
    }
  }

  override def run(spark: SparkSession): Seq[Row] = {
    // persisted: routing (distinct source keys), accounting, and the
    // rewrite all read ONE materialization of the source
    val src = GraftColumnBridge.ofRows(spark, source)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (_, st) = Snapshots.mergeApply(spark, dir, src, on,
        matched.map(toLib), notMatched.map(toLib),
        notMatchedBySource.map(toLib))
      Seq(Row(st.rowsAffected))
    } finally { src.unpersist(); () }
  }
}

/** `INSERT INTO t …` / `INSERT OVERWRITE t …` on a snapshot table —
  * the most common SQL write: append publishes a NEW version through
  * [[Snapshots.appendVersion]] (delta write + metadata-speed carry,
  * commit-race safe); overwrite replaces the HEAD through
  * [[Snapshots.overwriteVersion]] (old versions stay
  * time-travelable, sidecar configuration carried forward). Column
  * mapping follows SQL semantics: positional by default (with casts
  * to the table types), `INSERT INTO t (a, b)` routes through the
  * column list with unlisted columns NULL, and `BY NAME` matches the
  * query's output names. Returns the inserted row count. */
case class SnapshotInsertCommand(dir: String, query: LogicalPlan,
    overwrite: Boolean, userCols: Seq[String] = Nil,
    byName: Boolean = false) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("affected_rows", LongType, nullable = false)())

  override def innerChildren: Seq[LogicalPlan] = Seq(query)

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, lit}
    val schema = Snapshots.tableSchema(spark, dir)
    val src0 = GraftColumnBridge.ofRows(spark, query)
    val srcNames = src0.columns.toSeq
    // positional handles — duplicate output names in the source
    // (SELECT a.x, b.x …) must not break the mapping
    val tmp = src0.toDF(srcNames.indices.map(i => s"__ins_c$i"): _*)
    def pick(i: Int) = col(s"__ins_c$i")
    // the names the i-th query column claims to fill: BY NAME = its
    // own output name, a column list = the list, positional = the
    // table schema in order
    val claims: Seq[String] =
      if (byName) srcNames
      else if (userCols.nonEmpty) {
        require(userCols.size == srcNames.size,
          s"snapshot INSERT: column list has ${userCols.size} " +
            s"names but the query produces ${srcNames.size} columns")
        userCols
      } else {
        require(srcNames.size == schema.size,
          s"snapshot INSERT: query produces ${srcNames.size} " +
            s"columns, table has ${schema.size} " +
            s"(${schema.fieldNames.mkString(", ")})")
        schema.fieldNames.toSeq
      }
    claims.filterNot(c =>
      schema.fieldNames.exists(_.equalsIgnoreCase(c))).toList match {
      case Nil => ()
      case unknown => throw new IllegalArgumentException(
        s"snapshot INSERT: ${unknown.mkString(", ")} " +
          s"not in the table schema " +
          s"(${schema.fieldNames.mkString(", ")})")
    }
    // a duplicate claimant would silently win by list position and
    // DROP the other value — Spark rejects duplicate column lists,
    // and so do we
    val dup = claims.groupBy(_.toLowerCase).collect {
      case (_, v) if v.size > 1 => v.head
    }
    require(dup.isEmpty,
      s"snapshot INSERT: duplicate column ${dup.mkString(", ")} in " +
        (if (byName) "the query's output names" else "the column list"))
    val mapped = tmp.select(schema.fields.toSeq.map { fd =>
      claims.indexWhere(_.equalsIgnoreCase(fd.name)) match {
        case -1 => lit(null).cast(fd.dataType).as(fd.name)
        case i => pick(i).cast(fd.dataType).as(fd.name)
      }
    }: _*)
    // persisted: the count and the versioned write read ONE
    // materialization — an expensive or non-deterministic source
    // executes once, and affected_rows always matches what landed
    val src = mapped
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = src.count()
      if (overwrite) Snapshots.overwriteVersion(spark, dir = dir,
        df = src)
      else Snapshots.appendVersion(spark, src, dir)
      Seq(Row(n))
    } finally { src.unpersist(); () }
  }
}
