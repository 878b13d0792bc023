package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types._

import graft.operators.{BloomStats, FileStats, Snapshots}
import graft.operators.FileStats.{NumRange, StatsPred, StrRange}

/** Planner-integrated file skipping: a [[FileIndex]] that consults a
  * version directory's `_stats.json` manifest AT LISTING TIME, so a
  * PLAIN `spark.read.parquet(versionDir).filter(...)` — or
  * [[graft.operators.Snapshots.table]] — skips files whose min/max
  * provably exclude the predicate, with zero query rewriting and the
  * standard parquet scan (PushedFilters, whole-stage codegen, AQE)
  * untouched downstream. The planner hands `listFiles` the query's
  * own data filters and [[StatsFilters.refuted]] — the same decision
  * snapshot DML admits files by — names the files that never enter
  * the scan; the census of that decision is [[lastPrune]].
  *
  * The index DELEGATES to the relation's original [[FileIndex]]
  * (partition discovery, partition pruning, directory layout all
  * inherited) and intersects the listing with the manifest's keep
  * set. Files the manifest does not cover are kept conservatively —
  * pruning is always a superset guarantee.
  */
final class StatsFileIndex(
    val underlying: FileIndex,
    versionRoot: Path,
    manifest: Seq[FileStats.FileStat],
    blooms: Map[String, Seq[BloomStats.FileBloom]] = Map.empty)
    extends FileIndex {

  private val rootPathStr = versionRoot.toUri.getPath

  /** Census of the last listing decision — observable accounting for
    * tests and operators; a skipped file is never silence. */
  @volatile var lastPrune: Option[FileStats.PruneStats] = None

  override def rootPaths: Seq[Path] = underlying.rootPaths
  override def partitionSchema: StructType = underlying.partitionSchema
  override def inputFiles: Array[String] = underlying.inputFiles
  override def sizeInBytes: Long = underlying.sizeInBytes
  override def refresh(): Unit = underlying.refresh()

  private def relOf(p: Path): String =
    p.toUri.getPath.stripPrefix(rootPathStr).stripPrefix("/")

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val listed = underlying.listFiles(partitionFilters, dataFilters)
    // census over the files the delegate actually LISTED (partition
    // pruning may already have removed whole directories) — the
    // skipped count is what THIS layer skipped, never an overstated
    // whole-manifest figure
    val listedRels = listed
      .flatMap(_.files.map(f => relOf(f.getPath))).toSet
    val visible = manifest.filter(m => listedRels(m.relPath))
    val skipped = StatsFilters.refuted(dataFilters, (visible, blooms))
    val (kept, gone) = visible.partition(m => !skipped(m.relPath))
    lastPrune = Some(FileStats.PruneStats(kept.size.toLong,
      gone.size.toLong, kept.map(_.rows).sum, gone.map(_.rows).sum))
    if (skipped.isEmpty) listed
    else listed.map { pd =>
      PartitionDirectory(pd.values,
        pd.files.filter(f => !skipped(relOf(f.getPath))))
    }.filter(_.files.nonEmpty)
  }
}

object StatsFileIndex {

  /** Swap a resolved parquet relation's [[FileIndex]] for the
    * manifest-consulting one. No-op when the plan has no
    * [[HadoopFsRelation]] or the index is already stats-backed. */
  def attach(spark: SparkSession, df: DataFrame, versionRoot: Path,
      manifest: Seq[FileStats.FileStat],
      blooms: Map[String, Seq[BloomStats.FileBloom]] = Map.empty)
      : DataFrame = {
    val swapped = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation
          if lr.relation.isInstanceOf[HadoopFsRelation] &&
            !lr.relation.asInstanceOf[HadoopFsRelation].location
              .isInstanceOf[StatsFileIndex] =>
        val h = lr.relation.asInstanceOf[HadoopFsRelation]
        val idx = new StatsFileIndex(h.location, versionRoot, manifest,
          blooms)
        lr.copy(relation = h.copy(location = idx)(h.sparkSession))
    }
    GraftColumnBridge.ofRows(spark, swapped)
  }

  /** The stats index embedded in `df`'s plan, if any — the handle to
    * [[StatsFileIndex.lastPrune]] after an action has run. Inspects
    * the OPTIMIZED plan: the attach() path swaps at analysis but the
    * injected StatsPruneRule swaps during optimization. */
  def indexOf(df: DataFrame): Option[StatsFileIndex] =
    df.queryExecution.optimizedPlan.collectFirst {
      case lr: LogicalRelation
          if lr.relation.isInstanceOf[HadoopFsRelation] &&
            lr.relation.asInstanceOf[HadoopFsRelation].location
              .isInstanceOf[StatsFileIndex] =>
        lr.relation.asInstanceOf[HadoopFsRelation].location
          .asInstanceOf[StatsFileIndex]
    }
}

/** Catalyst → [[FileStats.StatsPred]] extraction: the range-shaped
  * conjuncts of a scan's data filters, conservatively. Anything not
  * provably a single-column range against literals (ORs, casts,
  * functions, unsupported types) contributes NO predicate — the file
  * is read and the row-level filter still applies, so extraction can
  * only ever widen the read set, never lose a row.
  */
object StatsFilters {

  /** A filter-side column reference as a dotted stats path: a bare
    * attribute, or a GetStructField chain over one (nested predicate
    * pushdown hands the planner `detail.amount`-shaped conjuncts as
    * extraction expressions). The rendered path matches the manifest
    * key [[graft.operators.FileStats.writeManifest]] writes for the
    * same dotted statsCols entry. Anything else (array/map access,
    * casts, functions) contributes no path — conservative, like every
    * other refusal here. */
  private[plans] def pathOf(e: Expression): Option[(String, DataType)] =
    e match {
      case a: AttributeReference => Some((a.name, a.dataType))
      case g: GetStructField =>
        pathOf(g.child).map { case (p, _) =>
          (s"$p.${g.extractFieldName}", g.dataType)
        }
      case _ => None
    }

  /** Extractor sugar: matches a prunable column path + leaf type.
    * Shared with [[StatsAggRule]] (metadata-only min/max/count over
    * the same dotted manifest keys). */
  private[plans] object PathRef {
    def unapply(e: Expression): Option[(String, DataType)] = pathOf(e)
  }
  private val P = PathRef

  def extract(filters: Seq[Expression]): Seq[StatsPred] =
    filters.flatMap(splitConj).flatMap(toPred)

  /** THE keep/skip decision: the relative paths of the files whose
    * sidecars prove that no row satisfies `filters` — min/max and
    * non-null counts refuting a conjunct of [[extract]], or a bloom
    * filter admitting none of an [[extractEquals]] conjunct's values
    * (a bloom proof holds even for files the manifest does not
    * cover). The planner's listing ([[StatsFileIndex]]) and snapshot
    * DML admission both decide through it, so a read and a statement
    * with the same predicate skip the same files. */
  def refuted(filters: Seq[Expression],
      sidecars: FileStats.Sidecars): Set[String] = {
    val (manifest, blooms) = sidecars
    val preds = extract(filters)
    val ranged =
      if (preds.isEmpty || manifest.isEmpty) Seq.empty
      else FileStats.prune(manifest, preds)._2.map(_.relPath)
    (ranged ++ extractEquals(filters).flatMap { case (c, vals) =>
      blooms.getOrElse(c, Nil)
        .filterNot(fb => vals.exists(BloomStats.admits(fb, _)))
        .map(_.relPath)
    }).toSet
  }

  /** Equality probes for bloom sidecars: (column, candidate values in
    * canonical string form). Only types whose Spark cast-to-string
    * rendering is unambiguous participate (string, integrals, dates);
    * doubles/decimals are skipped — a rendering mismatch would prune
    * wrongly, not just weakly. An IN list keeps the file when ANY
    * value is admitted. */
  def extractEquals(filters: Seq[Expression])
      : Seq[(String, Seq[String])] =
    filters.flatMap(splitConj).flatMap {
      case EqualTo(P(n, dt), l: Literal) =>
        canon(dt, l.value).map(v => (n, Seq(v)))
      case EqualTo(l: Literal, P(n, dt)) =>
        canon(dt, l.value).map(v => (n, Seq(v)))
      case EqualNullSafe(P(n, dt), l: Literal)
          if l.value != null =>
        canon(dt, l.value).map(v => (n, Seq(v)))
      case EqualNullSafe(l: Literal, P(n, dt))
          if l.value != null =>
        canon(dt, l.value).map(v => (n, Seq(v)))
      case In(P(n, dt), vs)
          if vs.nonEmpty && vs.size <= 64 &&
            vs.forall(_.isInstanceOf[Literal]) =>
        // NULLs can't equal anything and drop out; one unrenderable
        // NON-null value poisons the whole proof (all-or-nothing)
        val nn = vs.map(_.asInstanceOf[Literal].value).filter(_ != null)
        val cs = nn.map(v => canon(dt, v))
        if (nn.isEmpty || cs.exists(_.isEmpty)) None
        else Some((n, cs.flatten))
      case InSet(P(n, dt), vs)
          if vs.nonEmpty && vs.size <= 64 =>
        val nn = vs.toSeq.filter(_ != null)
        val cs = nn.map(v => canon(dt, v))
        if (nn.isEmpty || cs.exists(_.isEmpty)) None
        else Some((n, cs.flatten))
      case _ => None
    }.filter(_._2.nonEmpty)

  private def canon(dt: DataType, v: Any): Option[String] =
    if (v == null) None
    else dt match {
      case StringType => Some(v.toString)
      case LongType | IntegerType | ShortType | ByteType =>
        Some(v.toString)
      case DateType => dateStr(v)
      case _ => None
    }

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case other => Seq(other)
  }

  private def toPred(e: Expression): Option[StatsPred] = e match {
    case GreaterThan(P(n, dt), l: Literal) =>
      bound(n, dt, Some(l), None)
    case GreaterThanOrEqual(P(n, dt), l: Literal) =>
      bound(n, dt, Some(l), None)
    case LessThan(P(n, dt), l: Literal) =>
      bound(n, dt, None, Some(l))
    case LessThanOrEqual(P(n, dt), l: Literal) =>
      bound(n, dt, None, Some(l))
    // literal-first mirror: `5 < x` bounds x from below, etc.
    case GreaterThan(l: Literal, P(n, dt)) =>
      bound(n, dt, None, Some(l))
    case GreaterThanOrEqual(l: Literal, P(n, dt)) =>
      bound(n, dt, None, Some(l))
    case LessThan(l: Literal, P(n, dt)) =>
      bound(n, dt, Some(l), None)
    case LessThanOrEqual(l: Literal, P(n, dt)) =>
      bound(n, dt, Some(l), None)
    case EqualTo(P(n, dt), l: Literal) =>
      bound(n, dt, Some(l), Some(l))
    case EqualTo(l: Literal, P(n, dt)) =>
      bound(n, dt, Some(l), Some(l))
    case EqualNullSafe(P(n, dt), l: Literal)
        if l.value != null =>
      bound(n, dt, Some(l), Some(l))
    case EqualNullSafe(l: Literal, P(n, dt))
        if l.value != null =>
      bound(n, dt, Some(l), Some(l))
    case In(P(n, dt), vs)
        if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      inBound(n, dt, vs.map(_.asInstanceOf[Literal].value))
    case InSet(P(n, dt), vs) if vs.nonEmpty =>
      inBound(n, dt, vs.toSeq)
    // null predicates decide on the manifest's non-null counts —
    // IsNotNull is injected by constraint propagation on virtually
    // every filter, so all-null files skip for free on any filtered
    // read; IsNull skips files provably null-free. Nested paths
    // match Spark's count(col) semantics: a NULL parent struct is a
    // NULL leaf, exactly what the manifest's nested nn counted.
    case IsNotNull(P(n, _)) =>
      Some(FileStats.NotNullPred(n))
    case IsNull(P(n, _)) =>
      Some(FileStats.IsNullPred(n))
    // LIKE 'p%' (the optimizer rewrites it to StartsWith): matches
    // live in [p, incremented-prefix) — the same bound shape as a
    // truncated max. Empty prefix matches everything: no predicate.
    case StartsWith(P(n, dt), l: Literal)
        if dt == StringType && l.value != null &&
          l.value.toString.nonEmpty =>
      val p = l.value.toString
      Some(StrRange(n, Some(p),
        FileStats.truncateUpper(p + " ",
          p.codePointCount(0, p.length))))
    case _ => None
  }

  /** An IN list bounds the column by [min(values), max(values)].
    * NULLs in the list can never equal a row value — they drop out of
    * the bounds; an all-NULL list matches nothing but pruning still
    * conservatively keeps (Catalyst folds that case anyway). */
  private def inBound(n: String, dt: DataType,
      vs0: Seq[Any]): Option[StatsPred] = {
    val vs = vs0.filter(_ != null)
    if (vs.isEmpty) None
    else dt match {
      case _: NumericType =>
        val bs = vs.map(toBig)
        if (bs.exists(_.isEmpty)) None
        else {
          val b = bs.flatten
          Some(NumRange(n, Some(b.min), Some(b.max)))
        }
      case StringType =>
        val ss = vs.map(_.toString)
        Some(StrRange(n,
          Some(ss.min(strOrd)), Some(ss.max(strOrd))))
      case DateType =>
        val ds = vs.map(dateStr)
        if (ds.exists(_.isEmpty)) None
        else {
          val d = ds.flatten
          Some(StrRange(n, Some(d.min), Some(d.max)))
        }
      case _ => None
    }
  }

  private val strOrd: Ordering[String] =
    (a, b) => FileStats.utf8Compare(a, b)

  private def bound(n: String, dt: DataType, lo: Option[Literal],
      hi: Option[Literal]): Option[StatsPred] = {
    if (lo.exists(_.value == null) || hi.exists(_.value == null)) None
    else dt match {
      case _: NumericType =>
        // an unconvertible requested bound (NaN/∞) drops to open —
        // wider range, still sound
        Some(NumRange(n,
          lo.flatMap(l => toBig(l.value)),
          hi.flatMap(l => toBig(l.value))))
      case StringType =>
        Some(StrRange(n,
          lo.map(_.value.toString), hi.map(_.value.toString)))
      case DateType =>
        // date stats were cast to ISO strings by the manifest writer;
        // render the literal (days since epoch) the same way. Years
        // outside 1..9999 format differently between LocalDate and
        // Spark's cast — refuse to prune there rather than compare
        // apples to oranges
        val l = lo.map(x => dateStr(x.value))
        val h = hi.map(x => dateStr(x.value))
        if (l.exists(_.isEmpty) || h.exists(_.isEmpty)) None
        else Some(StrRange(n, l.flatten, h.flatten))
      case _ => None
    }
  }

  private def toBig(v: Any): Option[BigDecimal] = v match {
    case b: Byte => Some(BigDecimal(b.toInt))
    case s: Short => Some(BigDecimal(s.toInt))
    case i: Int => Some(BigDecimal(i))
    case l: Long => Some(BigDecimal(l))
    case f: Float =>
      if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.toDouble))
    case d: Double =>
      if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
    case d: Decimal => Some(d.toBigDecimal)
    case _ => None
  }

  private def dateStr(v: Any): Option[String] = v match {
    case days: Int if days >= -719162 && days <= 2932896 =>
      Some(java.time.LocalDate.ofEpochDay(days.toLong).toString)
    case _ => None
  }
}

/** The extension surface ([[graft.expressions.GraftExtensions]]
  * injects this): every resolved parquet relation whose SINGLE root
  * directory carries a `_stats.json` manifest gets its file index
  * swapped for the manifest-consulting [[StatsFileIndex]] — plain
  * `spark.read.parquet(versionDir)` prunes with no API call at all.
  * Published version directories are immutable, so the manifest is
  * cached by (path, modification time); directories WITHOUT a
  * manifest are negative-cached by path and invalidated by
  * [[FileStats.writeManifest]] via [[StatsPruneRule.invalidate]].
  */
object StatsPruneRule extends Rule[LogicalPlan] {

  private type Cached = (Long, FileStats.Sidecars)

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[Cached]]()

  private[graft] def invalidate(rootPath: String): Unit = {
    cache.remove(rootPath); ()
  }

  /** The sidecars of `root` when it carries a non-empty stats
    * manifest. An unreadable sidecar counts as no manifest: the
    * relation keeps its plain index and reads every file. */
  private[plans] def manifestFor(spark: SparkSession, root: Path)
      : Option[FileStats.Sidecars] = {
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = new Path(root, FileStats.ManifestName)
    val key = root.toString
    val cached = Option(cache.get(key))
    val mtime =
      try Some(f.getFileStatus(mf).getModificationTime)
      catch { case _: java.io.IOException => None }
    (cached, mtime) match {
      case (Some(None), None) => None // negative-cached, still absent
      case (Some(Some((t, sc))), Some(t2)) if t == t2 => Some(sc)
      case (_, None) => cache.put(key, None); None
      case (_, Some(t2)) =>
        val loaded =
          try Some(Snapshots.sidecarsOf(spark, root.toString))
          catch { case _: Exception => None }
        val usable = loaded.filter(_._1.nonEmpty)
        cache.put(key, usable.map(t2 -> _))
        usable
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case lr: LogicalRelation
        if lr.relation.isInstanceOf[HadoopFsRelation] &&
          !lr.relation.asInstanceOf[HadoopFsRelation].location
            .isInstanceOf[StatsFileIndex] &&
          lr.relation.asInstanceOf[HadoopFsRelation].location
            .rootPaths.size == 1 =>
      val h = lr.relation.asInstanceOf[HadoopFsRelation]
      val root = h.location.rootPaths.head
      manifestFor(h.sparkSession, root) match {
        case Some((m, b)) =>
          val qualified = root.getFileSystem(
            h.sparkSession.sparkContext.hadoopConfiguration)
            .makeQualified(root)
          val idx = new StatsFileIndex(h.location, qualified, m, b)
          lr.copy(relation = h.copy(location = idx)(h.sparkSession))
        case None => lr
      }
  }
}
