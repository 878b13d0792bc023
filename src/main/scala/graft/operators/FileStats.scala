package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.json4s.{JArray, JLong, JNull, JObject, JString, JValue}

/** Per-file min/max statistics manifests — the file-skipping layer a
  * parquet lake needs to make clustered layout (ZOrder/SilverLayout)
  * actually pay at read time. Writing 100 TB Z-ordered and then
  * listing-and-opening every parquet footer per query wastes the
  * layout: the scan planner touches every file's metadata even when
  * 99% of files can't match. A manifest is ONE small sidecar the
  * driver reads instead — the same design as Delta's add-file stats
  * and Iceberg's manifest min/max (public formats; this is the
  * minimal from-scratch version for the Snapshots store).
  *
  * Format: `_stats.json` inside the version directory (the `_` prefix
  * makes it invisible to parquet directory reads), one JSON line per
  * data file: relative path, row count, and per-column [min,max].
  * Numeric/temporal stats are DECIMAL/ISO STRINGS — exact for every
  * integral/decimal value (a double round-trip would corrupt longs
  * above 2^53). STRING-typed stats are stored verbatim (the store's
  * JSON codec, [[StoreJson]], escapes them) and TRUNCATED to
  * `maxStatLen` code points: the min
  * truncates to a prefix (a prefix is ≤ the true min in binary
  * order, so it stays a sound lower bound) and the max truncates to
  * a prefix with its last code point incremented (strictly > the
  * true max — a sound upper bound; Iceberg's truncate(L) transform
  * is the public precedent). All-null, missing, or untruncatable
  * stats for a column mean the file is always KEPT (pruning must be
  * conservative, never lossy).
  *
  * The manifest is computed by one extra scan of the freshly staged
  * files (grouped by `input_file_name`) — distributed, one pass,
  * map-side-combined — and written by the driver (the manifest is
  * files-count-sized: ~100k lines at 100 TB, the same driver-bounded
  * metadata every table format keeps). It lands in the STAGE before
  * the atomic slot rename, so a published version and its stats are
  * inseparable: readers never see a version without its manifest.
  */
object FileStats {

  val ManifestName = "_stats.json"

  /** One data file's stats: path relative to the version root, rows,
    * per-column (min, max) as strings (None when the file's column is
    * all-null or its stats were untruncatable), and per-column
    * NON-NULL counts (`nonNull` — Delta's nullCount analog; absent
    * for manifests written before the field existed and for
    * synthetic partition-value stats, and "absent" always means
    * "unknown", never "zero"). Null counts are what make null-aware
    * decisions PROOFS: `count(col)` from metadata, IS [NOT] NULL
    * file skipping, and guaranteed-value counts for top-k pruning —
    * min/max alone cannot distinguish "all null" from "untrackable".
    */
  case class FileStat(relPath: String, rows: Long,
      cols: Map[String, Option[(String, String)]],
      nonNull: Map[String, Long] = Map.empty)

  /** A version directory's pruning sidecars: its stats manifest and
    * its bloom filters by column (see `Snapshots.sidecarsOf`). */
  type Sidecars = (Seq[FileStat], Map[String, Seq[BloomStats.FileBloom]])

  /** Pruning census — surfaced by the planner's stats index and the
    * top-k / join readers, so a skipped file is always visible
    * accounting, never silence. */
  case class PruneStats(filesRead: Long, filesSkipped: Long,
      rowsInRead: Long, rowsInSkipped: Long)

  /** A range predicate against a stats column; `None` bounds are
    * open. [[NumRange]] compares stats as exact BigDecimal;
    * [[StrRange]] compares in UTF-8 BINARY order — the same ordering
    * Spark's default UTF8_BINARY collation gives `min`/`max` on a
    * string column, so text-typed incremental predicates (the
    * reference's `applied_date`, a TEXT column consumed as an
    * `applied_after` pushdown — jobcan_di/database/requests/
    * _table_init.py:57, jobcan_di/gateway/api_client.py:569) prune
    * files instead of always reading everything. */
  sealed trait StatsPred { def column: String }
  final case class NumRange(column: String, lo: Option[BigDecimal],
      hi: Option[BigDecimal]) extends StatsPred
  final case class StrRange(column: String, lo: Option[String],
      hi: Option[String]) extends StatsPred
  /** `col IS NOT NULL`: skips a file whose non-null count is KNOWN
    * zero. Sound for every type — unlike "bounds absent", which for
    * strings can also mean untruncatable stats. */
  final case class NotNullPred(column: String) extends StatsPred
  /** `col IS NULL`: skips a file whose non-null count is KNOWN equal
    * to its row count (provably no nulls). */
  final case class IsNullPred(column: String) extends StatsPred

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- string-stat ordering and truncation -------------------------

  /** UTF-8 binary comparison — matches UTF8String.binaryCompare, the
    * ordering Spark's default-collation min/max used to produce the
    * stats being compared (String.compareTo differs for
    * supplementary characters: UTF-16 surrogates sort below some BMP
    * code points). */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Lower-bound truncation: the first `maxLen` code points. A
    * proper prefix sorts strictly below the full string in binary
    * order, so the result is always a sound lower bound. */
  private[graft] def truncateLower(s: String, maxLen: Int): String =
    if (s.codePointCount(0, s.length) <= maxLen) s
    else s.substring(0, s.offsetByCodePoints(0, maxLen))

  /** Upper-bound truncation: the first `maxLen` code points with the
    * last incrementable code point bumped (and the tail after it
    * dropped) — strictly greater than every string sharing the
    * prefix, in both code-point and UTF-8 binary order (UTF-8
    * preserves code-point ordering). Increments landing in the
    * surrogate range jump to U+E000 (still an upper bound — no valid
    * string contains unpaired surrogates). None when every prefix
    * code point is already U+10FFFF — the caller drops the stat and
    * the file is kept conservatively. */
  private[graft] def truncateUpper(s: String,
      maxLen: Int): Option[String] = {
    if (s.codePointCount(0, s.length) <= maxLen) Some(s)
    else {
      val cps = s.substring(0, s.offsetByCodePoints(0, maxLen))
        .codePoints.toArray
      var i = cps.length - 1
      while (i >= 0 && cps(i) >= 0x10FFFF) i -= 1
      if (i < 0) None
      else {
        var next = cps(i) + 1
        if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
        val out = cps.take(i + 1)
        out(i) = next
        Some(new String(out, 0, out.length))
      }
    }
  }

  /** The leaf type of a (possibly dotted NESTED) stats path against a
    * schema: an exact top-level field name wins first (a column
    * literally named "a.b" — discouraged for stats, but not
    * misresolved), then dotted struct traversal
    * (`detail.expense.total_amount`-shaped paths). None when the path
    * resolves to nothing. */
  private[graft] def leafType(schema: org.apache.spark.sql.types.StructType,
      path: String): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.StructType
    if (schema.fieldNames.contains(path))
      return Some(schema(path).dataType)
    path.split('.').toSeq.foldLeft(
      Option(schema: org.apache.spark.sql.types.DataType)) {
      case (Some(st: StructType), seg) if st.fieldNames.contains(seg) =>
        Some(st(seg).dataType)
      case _ => None
    }
  }

  /** Compute per-file stats for `statsCols` over the parquet files
    * under `dataDir` and write `_stats.json` there. One distributed
    * scan reading ONLY the stats columns (column-pruned at the
    * parquet footer), one file-keyed aggregate. String-typed columns
    * get truncated bounds (`maxStatLen` code points — long document
    * bodies must not bloat a 100k-line manifest); every other type is
    * stored exactly as its cast-to-string rendering. A stats column
    * may be a NESTED struct path (`detail.total` — the
    * document-shaped silver Dataset's fields), keyed in the manifest
    * by the dotted path; nested non-null counts follow Spark's
    * `count(col)` semantics (a NULL parent struct counts as null).
    */
  def writeManifest(spark: SparkSession, dataDir: String,
      statsCols: Seq[String], maxStatLen: Int = 64): Unit = {
    require(statsCols.nonEmpty, "statsCols must be non-empty")
    require(maxStatLen > 0, "maxStatLen must be positive")
    val rootUri = fs(spark, dataDir)
      .makeQualified(new Path(dataDir)).toUri.getPath
    val src = Snapshots.readFileSet(spark, dataDir)
    // A TOP-LEVEL column literally named "a.b" would share its
    // manifest key with the nested struct path a.b — and the filter
    // side (StatsFilters.pathOf renders GetStructField chains dotted)
    // could then prune nested predicates against the FLAT column's
    // stats, skipping files that hold matching nested rows. Refuse
    // the ambiguity at write time rather than mis-prune at read time.
    statsCols.filter(_.contains('.')).foreach { c =>
      require(!src.schema.fieldNames.contains(c),
        s"statsCols: '$c' is a top-level column whose NAME contains " +
          "a dot — its manifest key would alias the nested struct " +
          "path of the same spelling on the pruning side; rename the " +
          "column or drop it from statsCols")
    }
    val stringCols = statsCols.filter(c =>
      leafType(src.schema, c).contains(StringType)).toSet
    // alias every stats path to its dotted name up front, then
    // aggregate over the BACKTICKED alias — nested paths stay one
    // column-pruned scan, and min/max/count see a flat column
    def q(c: String) = col(s"`$c`")
    val aggs = count(lit(1L)).as("__rows") +:
      statsCols.flatMap(c => Seq(
        min(q(c)).cast("string").as(s"__min_$c"),
        max(q(c)).cast("string").as(s"__max_$c"),
        count(q(c)).as(s"__nn_$c")))
    val perFile = src
      .select((input_file_name().as("__file") +:
        statsCols.map(c => col(c).as(c))): _*)
      .groupBy(col("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val entries = perFile.toSeq.map { r =>
      val full = new java.net.URI(r.getString(0)).getPath
      val rel = full.stripPrefix(rootUri).stripPrefix("/")
      val cols = statsCols.map { c =>
        val mn0 = r.getAs[String](s"__min_$c")
        val mx0 = r.getAs[String](s"__max_$c")
        val bounds =
          if (mn0 == null || mx0 == null) None
          else if (stringCols(c))
            truncateUpper(mx0, maxStatLen)
              .map(mx => (truncateLower(mn0, maxStatLen), mx))
          else Some((mn0, mx0))
        c -> bounds
      }.toMap
      val nn = statsCols.map(c => c -> r.getAs[Long](s"__nn_$c")).toMap
      FileStat(rel, r.getAs[Long]("__rows"), cols, nn)
    }
    writeEntries(spark, dataDir, entries)
  }

  /** A manifest line: `{"file":…,"rows":…,"nn":{col:count,…},
    * "cols":{col:["min","max"] or null,…}}`, columns sorted by name,
    * `nn` absent when no non-null count is known. Stats stay strings,
    * so numbers keep every digit. */
  private[operators] def toJson(e: FileStat): JValue = {
    def obj[A](m: Map[String, A])(v: A => JValue) =
      JObject(m.toList.sortBy(_._1).map { case (k, a) => k -> v(a) })
    val nn =
      if (e.nonNull.isEmpty) Nil else List("nn" -> obj(e.nonNull)(JLong(_)))
    val cols = obj(e.cols)(_.fold[JValue](JNull) { case (mn, mx) =>
      JArray(List(JString(mn), JString(mx))) })
    JObject(List("file" -> JString(e.relPath), "rows" -> JLong(e.rows)) ++
      nn :+ ("cols" -> cols))
  }

  /** The entry of one manifest line ([[toJson]]'s format). */
  private[operators] def fromJson(j: JValue): FileStat = {
    import StoreJson.formats
    def fields(k: String) = j \ k match {
      case JObject(fs) => fs
      case _ => Nil
    }
    FileStat((j \ "file").extract[String], (j \ "rows").extract[Long],
      fields("cols").map {
        case (c, JArray(List(JString(mn), JString(mx)))) =>
          c -> Some((mn, mx))
        case (c, _) => c -> None
      }.toMap,
      fields("nn").map { case (c, n) => c -> n.extract[Long] }.toMap)
  }

  /** Write a manifest from pre-computed entries — the splice path for
    * copy-on-write rewrites, where untouched files keep their old
    * (already correct) stats and only new files were scanned. */
  def writeEntries(spark: SparkSession, dataDir: String,
      entries: Seq[FileStat]): Unit = {
    val f = fs(spark, dataDir)
    StoreJson.write(f, new Path(dataDir, ManifestName), entries.map(toJson))
    // a prior manifest-less read of this directory may have
    // negative-cached it in the planner rule — drop that entry
    graft.plans.StatsPruneRule.invalidate(
      new Path(dataDir).toString)
    graft.plans.StatsPruneRule.invalidate(
      f.makeQualified(new Path(dataDir)).toString)
  }

  /** Parse `_stats.json` under `dataDir` ([[toJson]]'s format). */
  def readManifest(spark: SparkSession, dataDir: String): Seq[FileStat] =
    StoreJson.read(fs(spark, dataDir), new Path(dataDir, ManifestName))
      .map(fromJson)

  /** Split the manifest into (kept, skipped) for a CONJUNCTION of
    * typed range predicates: a file is skipped when ANY predicate's
    * stats PROVE no row can match (max < lo or min > hi — BigDecimal
    * for [[NumRange]], UTF-8 binary order for [[StrRange]]).
    * Predicates on columns a file has no stats for — absent,
    * all-null, or numeric parse failure on a [[NumRange]] — keep the
    * file conservatively. Truncated string bounds stay sound: the
    * stored min is ≤ the true min and the stored max is ≥ the true
    * max, so both skip tests remain proofs. Multi-column
    * conjunctions are where a Z-ordered layout beats a single-column
    * sort: each Morton tile is tight on BOTH dimensions, so both
    * ranges prune multiplicatively.
    */
  def prune(manifest: Seq[FileStat], preds: Seq[StatsPred])
      : (Seq[FileStat], Seq[FileStat]) = {
    require(preds.nonEmpty, "at least one range predicate")
    // stats that don't parse as BigDecimal under a numeric predicate
    // (a string column queried numerically) keep the file, never
    // throw: pruning must degrade to reading, not to failing
    def num(s: String): Option[BigDecimal] =
      try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
    manifest.partition { fstat =>
      preds.forall {
        // null predicates decide on the NON-NULL COUNT, not bounds —
        // "bounds absent" can't distinguish all-null from
        // untruncatable; an unknown count always keeps
        case NotNullPred(c) => !fstat.nonNull.get(c).contains(0L)
        case IsNullPred(c) =>
          !fstat.nonNull.get(c).contains(fstat.rows)
        case p =>
          fstat.cols.get(p.column).flatten match {
            case None => true
            case Some((mn, mx)) => p match {
              case NumRange(_, lo, hi) =>
                (num(mn), num(mx)) match {
                  case (Some(nmn), Some(nmx)) =>
                    !(hi.exists(h => nmn > h) || lo.exists(l => nmx < l))
                  case _ => true
                }
              case StrRange(_, lo, hi) =>
                !(hi.exists(h => utf8Compare(mn, h) > 0) ||
                  lo.exists(l => utf8Compare(mx, l) < 0))
              case _ => true
            }
          }
      }
    }
  }

  /** Can a file whose stats bracket is [mn, mx] contain point value
    * `v` (all three in the manifest's cast-to-string rendering)?
    * Numeric when all three parse (so "1" meets "1.0"), UTF-8 binary
    * otherwise — the same domain rules [[prune]] applies. */
  private[graft] def pointInRange(mn: String, mx: String,
      v: String): Boolean = {
    def num(s: String): Option[BigDecimal] =
      try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
    (num(mn), num(mx), num(v)) match {
      case (Some(a), Some(b), Some(x)) => x >= a && x <= b
      case _ =>
        utf8Compare(v, mn) >= 0 && utf8Compare(v, mx) <= 0
    }
  }
}
