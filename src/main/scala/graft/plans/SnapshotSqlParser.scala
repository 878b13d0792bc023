package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier,
  TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
  SubqueryAlias}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DataType, LongType,
  StringType, StructType}

import graft.operators.{MergeOnRead, SnapshotMaintenance, Snapshots}

/** The delegating SQL parser (seventh `SparkSessionExtensions`
  * surface — the `injectParser` rung, Delta's `DeltaSqlParser`
  * pattern): completes the zero-code SQL story with the statements
  * Spark's grammar either lacks or refuses for V1 tables.
  *
  *   SELECT * FROM t VERSION AS OF 3          -- time travel
  *   SELECT * FROM t TIMESTAMP AS OF '…'      --   (Spark parses
  *     these but ResolveRelations throws UNSUPPORTED_FEATURE for
  *     non-TableCatalog tables; the parser resolves the pinned
  *     relation itself for USING-snapshot targets)
  *   VACUUM t [RETAIN 5 VERSIONS]             -- returns reclaimed
  *   OPTIMIZE t                               -- compact (folds MoR)
  *   OPTIMIZE t ZORDER BY (x, y[, z])         -- 2-/3-D Morton cluster
  *   OPTIMIZE t PURGE                         -- apply deletion
  *                                               vectors only (dirty
  *                                               files rewrite, clean
  *                                               files by reference)
  *   DESCRIBE HISTORY t                       -- the version log
  *
  * Everything else — including these statements against NON-snapshot
  * tables — delegates verbatim to Spark's parser, so no existing
  * syntax changes behavior. Maintenance statements are matched
  * against the trimmed whole text (never inside a larger statement).
  */
class SnapshotSqlParser(spark: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  import SnapshotSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    maintenancePlan(spark, sqlText)
      .getOrElse(rewriteTimeTravel(spark,
        delegate.parsePlan(sqlText)))

  override def parseQuery(sqlText: String): LogicalPlan =
    rewriteTimeTravel(spark, delegate.parseQuery(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String)
      : FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object SnapshotSqlParser {

  /** The store directory of a `USING snapshot` CATALOG table, or
    * None (unknown table, other provider, temp view, lookup error) —
    * None always means "leave the statement to Spark". */
  private def snapshotDir(spark: SparkSession,
      ident: Seq[String]): Option[String] =
    try {
      val cat = spark.sessionState.catalog
      // a TEMP VIEW shadows any catalog table of the same name — the
      // statement must resolve (or error) against the view exactly as
      // unadorned SQL would, never against the shadowed table
      if (cat.isTempView(ident)) return None
      val ti = ident match {
        case Seq(t) => TableIdentifier(t)
        case Seq(db, t) => TableIdentifier(t, Some(db))
        case Seq(c, db, t) if c.equalsIgnoreCase("spark_catalog") =>
          TableIdentifier(t, Some(db))
        case _ => return None
      }
      if (ti.table.isEmpty || !cat.tableExists(ti)) return None
      val meta = cat.getTableMetadata(ti)
      if (!meta.provider.exists(_.equalsIgnoreCase("snapshot"))) None
      else meta.storage.properties
        .map { case (k, v) => (k.toLowerCase, v) }.get("path")
        .orElse(meta.storage.locationUri.map(_.toString))
    } catch { case _: Exception => None }

  /** `VERSION AS OF` / `TIMESTAMP AS OF` on a snapshot table: the
    * parser resolves the PINNED relation itself (through the
    * connector, so pin semantics / MoR assembly / pruning all apply)
    * — by the time ResolveRelations would throw UNSUPPORTED_FEATURE,
    * the node is already a resolved subtree it leaves alone. */
  private def rewriteTimeTravel(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan = plan transformUp {
    case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel =>
      val pinned = for {
        u <- Some(tt.relation).collect {
          case u: org.apache.spark.sql.catalyst.analysis
            .UnresolvedRelation => u
        }
        dir <- snapshotDir(spark, u.multipartIdentifier)
        opt <- (tt.version, tt.timestamp) match {
          case (Some(v), _) => Some("versionAsOf" -> v)
          case (_, Some(l: Literal)) =>
            // string, TIMESTAMP '…', and DATE '…' literal forms all
            // pin; anything non-literal keeps Spark's own error
            l.dataType match {
              case StringType =>
                Some("timestampAsOf" -> l.value.toString)
              case org.apache.spark.sql.types.TimestampType =>
                // micros since epoch → millis (UTC, the store's clock)
                Some("timestampAsOf" ->
                  (l.value.asInstanceOf[Long] / 1000L).toString)
              case org.apache.spark.sql.types.DateType =>
                Some("timestampAsOf" ->
                  (l.value.asInstanceOf[Int].toLong * 86400000L)
                    .toString)
              case _ => None
            }
          case _ => None
        }
      } yield {
        val df = spark.read.format("snapshot")
          .option(opt._1, opt._2).load(dir)
        SubqueryAlias(u.multipartIdentifier.last,
          df.queryExecution.analyzed)
      }
      pinned.getOrElse(tt)
  }

  // ---- maintenance statements ---------------------------------------

  // one identifier segment, then \.segment repeats — NO nested star
  // (a starred alternation inside a starred group backtracks
  // exponentially on malformed tails: measured >60 s at 36 chars)
  private val Ident = """((?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))*)"""
  private val VacuumR =
    ("""(?is)\s*VACUUM\s+""" + Ident +
      """(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*;?\s*""").r
  private val OptimizeR =
    ("""(?is)\s*OPTIMIZE\s+""" + Ident +
      """(?:\s+(PURGE)|\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*;?\s*""").r
  private val HistoryR =
    ("""(?is)\s*DESCRIBE\s+HISTORY\s+""" + Ident + """\s*;?\s*""").r

  /** Backtick-aware tokenization — `String.split('.')` would cut a
    * quoted name with an embedded dot (`` `a.b` ``) into db a /
    * table b and run maintenance against the WRONG table. */
  private def parts(ident: String): Seq[String] =
    """`[^`]+`|\w+""".r.findAllIn(ident).toSeq
      .map(_.stripPrefix("`").stripSuffix("`"))

  /** The whole statement as one of ours — or None to delegate. A
    * matching statement whose target is NOT a snapshot table also
    * delegates (Spark then produces its own error/behavior). */
  /** Re-read the store's CURRENT schema and update the catalog
    * entry when maintenance evolved it (ZORDER materializes its
    * bucket column): a catalog data source table re-resolves with
    * its SAVED schema as the user-specified one, and a mismatch is a
    * hard AnalysisException on the very next SELECT. Best-effort —
    * an unknown/temp/path-only target is simply left alone. */
  private[plans] def syncCatalogSchema(spark: SparkSession,
      ident: Seq[String], dir: String): Unit = try {
    val cat = spark.sessionState.catalog
    if (ident.isEmpty || cat.isTempView(ident)) return
    val ti = ident match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case Seq(c, db, t) if c.equalsIgnoreCase("spark_catalog") =>
        TableIdentifier(t, Some(db))
      case _ => return
    }
    if (!cat.tableExists(ti)) return
    val actual = Snapshots.tableSchema(spark, dir)
    val meta = cat.getTableMetadata(ti)
    def shape(st: org.apache.spark.sql.types.StructType) =
      st.fields.toSeq.map(f => (f.name, f.dataType))
    if (shape(meta.schema) != shape(actual)) {
      cat.alterTableDataSchema(ti, actual)
      cat.refreshTable(ti)
    }
  } catch { case _: Exception => () }

  private def maintenancePlan(spark: SparkSession,
      sqlText: String): Option[LogicalPlan] = sqlText match {
    case VacuumR(ident, retain) =>
      snapshotDir(spark, parts(ident)).map { dir =>
        VacuumSnapshotCommand(dir,
          Option(retain).map(_.toInt).getOrElse(2))
      }
    case OptimizeR(ident, purge, zorder) =>
      snapshotDir(spark, parts(ident)).map { dir =>
        val zcols = Option(zorder).toSeq.flatMap(
          _.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
            .filter(_.nonEmpty))
        // ZORDER BY () must not silently degrade to plain compaction
        require(zorder == null || zcols.nonEmpty,
          "OPTIMIZE ZORDER BY needs column names, got an empty list")
        OptimizeSnapshotCommand(dir, purge != null, zcols,
          ident = parts(ident))
      }
    case HistoryR(ident) =>
      snapshotDir(spark, parts(ident))
        .map(DescribeHistoryCommand(_))
    case _ => None
  }
}

/** `VACUUM t [RETAIN n VERSIONS]` → [[SnapshotMaintenance.vacuum]];
  * one row per reclaimed version (ref-pinned / dv-pinned versions
  * never appear — the library's fixpoint applies unchanged). */
case class VacuumSnapshotCommand(dir: String, keepLast: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("reclaimed_version", LongType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    SnapshotMaintenance.vacuum(spark, dir, keepLast).map(Row(_))
}

/** `OPTIMIZE t [PURGE | ZORDER BY (x, y[, z])]`: plain = compaction
  * via [[SnapshotMaintenance.compact]] (folds an MoR head, bins every
  * data directory of any other layout); PURGE = apply deletion
  * vectors only ([[MergeOnRead.purge]]); ZORDER BY = Morton
  * clustering, 2-D or 3-D ([[SnapshotMaintenance.optimizeClustered]]). */
case class OptimizeSnapshotCommand(dir: String, purge: Boolean,
    zorderCols: Seq[String], targetBytes: Long = 128L << 20,
    ident: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(!(purge && zorderCols.nonEmpty),
      "OPTIMIZE: PURGE and ZORDER BY are mutually exclusive")
    if (purge) {
      val (v, _) = MergeOnRead.purge(spark, dir)
      Seq(Row(v, "purge"))
    } else if (zorderCols.nonEmpty) {
      require(zorderCols.size == 2 || zorderCols.size == 3,
        "OPTIMIZE ZORDER BY takes two or three columns " +
          s"(got ${zorderCols.mkString(", ")})")
      val (v, _) = SnapshotMaintenance.optimizeClustered(spark, dir,
        zorderCols)
      // the cluster id MATERIALIZES as a table column — keep the
      // catalog's stored schema in sync, or the table's next
      // resolution fails Spark's user-specified-schema check
      SnapshotSqlParser.syncCatalogSchema(spark, ident, dir)
      Seq(Row(v, "zorder"))
    } else {
      val (v, _) = SnapshotMaintenance.compact(spark, dir, targetBytes)
      Seq(Row(v, "compact"))
    }
  }
}

/** `DESCRIBE HISTORY t` → [[Snapshots.history]] as rows. */
case class DescribeHistoryCommand(dir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("published", BooleanType, nullable = false)(),
    AttributeReference("data_files", LongType, nullable = false)(),
    AttributeReference("data_bytes", LongType, nullable = false)(),
    AttributeReference("rows", LongType, nullable = true)(),
    AttributeReference("epochs", StringType, nullable = false)(),
    AttributeReference("stats_manifest", BooleanType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Snapshots.history(spark, dir).map { v =>
      Row(v.version, v.published, v.nDataFiles, v.bytes,
        v.rows.map(Long.box).orNull, v.epochs.mkString(","),
        v.hasStats)
    }
}
