package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import Snapshots._

/** Stats-pruned side readers of a snapshot version that the planner's
  * file index cannot express: dynamic file pruning for a key
  * equi-join ([[readJoinPruned]]) and top-k pruning
  * ([[readTopK]]). Both return the pruned frame with its census; a
  * merge-on-read head serves its full assembly unpruned. */
object PrunedReads {

  /** Dynamic file pruning for a key equi-join (the API-level analog
    * of Delta's dynamic file pruning): collect the BUILD side's
    * distinct join keys (driver-bounded by `maxKeys` — the dimension
    * side of a star join is small by definition; above the bound
    * everything is read) and read only fact files whose stats bounds
    * admit at least one key AND, when a bloom sidecar exists for the
    * column, whose filter admits that key too. The caller joins the
    * pruned frame as usual — pruning is a superset guarantee, the
    * join still applies row-level. On a 100 TB fact table clustered
    * on the join key this turns a selective dimension filter into
    * reading a handful of fact files — the scan reduction a
    * broadcast join alone cannot give (it still scans everything).
    * `dimKeys`' FIRST column is the key, cast to its canonical
    * string form (the sidecars' domain). */
  def readJoinPruned(spark: SparkSession, dir: String, column: String,
      dimKeys: DataFrame, maxKeys: Int = 100000, version: Long = -1L)
      : (DataFrame, FileStats.PruneStats) = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version")
    if (MergeOnRead.isMorVersion(spark, dir, v))
      return MergeOnRead.unprunedRead(spark, dir, v)
    val vDir = s"$dir/v=$v"
    val f = fs(spark, dir)
    val vPath = f.makeQualified(new Path(vDir))
    val dataFiles = listDataRel(f, vPath).map(_._1)
    val pcols = pcolsOf(dataFiles)
    val (stats, blooms) = sidecarsOf(spark, vDir)
    val statsByRel = stats.map(e => e.relPath -> e).toMap
    val bloom = blooms.get(column).map(_.map(b => b.relPath -> b).toMap)
    val ks = dimKeys
      .select(col(dimKeys.columns.head).cast("string"))
      .na.drop().distinct().limit(maxKeys + 1)
      .collect().map(_.getString(0)).toSeq
    // keys pre-sorted numerically once: each file then range-scans the
    // candidates inside its bounds instead of testing every key —
    // O(files × log keys + candidates) driver work, not files × keys
    val numKeys: Option[Array[(BigDecimal, String)]] = {
      val parsed = ks.map(k => num(k).map(_ -> k))
      if (parsed.exists(_.isEmpty)) None
      else Some(parsed.flatten.sortBy(_._1).toArray)
    }
    def candidates(mn: String, mx: String): Iterator[String] =
      (num(mn), num(mx), numKeys) match {
        case (Some(lo), Some(hi), Some(sorted)) =>
          // binary search the first key >= lo, scan to hi
          var i = 0; var j = sorted.length
          while (i < j) {
            val m = (i + j) >>> 1
            if (sorted(m)._1 < lo) i = m + 1 else j = m
          }
          sorted.iterator.drop(i).takeWhile(_._1 <= hi).map(_._2)
        case _ =>
          ks.iterator.filter(k => FileStats.pointInRange(mn, mx, k))
      }
    // a partition-encoded join column routes even with no sidecars
    // (mergeInto's rule) — only a truly statless column reads all
    val unroutable =
      stats.isEmpty && bloom.isEmpty && !pcols.contains(column)
    val (kept, skipped) =
      if (ks.size > maxKeys || unroutable)
        (dataFiles, Seq.empty[String])
      else dataFiles.partition { rel =>
        statsByRel.get(rel).flatMap(_.cols.get(column).flatten)
          .orElse(partStats(rel).get(column).flatten) match {
          case None =>
            // no bounds: the bloom alone can still prove a miss
            bloom.flatMap(_.get(rel)) match {
              case Some(fb) => ks.exists(BloomStats.admits(fb, _))
              case None => true
            }
          case Some((mn, mx)) =>
            candidates(mn, mx).exists(k =>
              bloom.forall(bm => bm.get(rel)
                .forall(BloomStats.admits(_, k))))
        }
      }
    val rowsOf = (rels: Seq[String]) =>
      rels.flatMap(statsByRel.get).map(_.rows).sum
    val ps = FileStats.PruneStats(kept.size.toLong, skipped.size.toLong,
      rowsOf(kept), rowsOf(skipped))
    val df =
      if (kept.isEmpty) readFileSet(spark, vDir).filter(lit(false))
      else readFileSet(spark, vDir, kept)
    (df, ps)
  }

  /** Stats-driven TOP-K file pruning: read only the files that can
    * possibly contribute to `ORDER BY column DESC|ASC LIMIT k`. A
    * file is provably irrelevant when at least `k` NON-NULL values
    * are guaranteed to beat everything in it — for descending order,
    * when Σ nonNull(g) over files g with min(g) > max(f) reaches k
    * (ascending mirrors with max(g) < min(f)). The guarantee NEEDS
    * the manifest's non-null counts: row counts alone can't promise
    * k beating values when nulls hide among them. Files without
    * parseable numeric bounds or without a non-null count keep
    * conservatively and guarantee nothing. On a clustered layout
    * this turns "top 100 of 100 TB" into reading the one tail file —
    * the census says exactly what was skipped. The caller still
    * applies `orderBy(...).limit(k)`; pruning is a superset
    * guarantee. Numeric columns only (BigDecimal bound order).
    *
    * NULL-ORDERING CONTRACT: `nullsFirst` must match the caller's
    * ORDER BY. The default `false` is Spark's default for DESC
    * (`NULLS LAST`) — nulls sort after every value and never beat
    * anything, so the beat-count proof above is sound as stated.
    * Note Spark's ASC default is NULLS FIRST, so an ascending caller
    * using plain `asc(column)` needs `nullsFirst = true` (or
    * `asc_nulls_last`). Under `nullsFirst = true` (`DESC NULLS
    * FIRST` / plain ASC) a skipped file may NOT hide nulls — nulls
    * head the result — so the proof tightens: a file is skipped only
    * when it is provably null-free AND the guaranteed beaters
    * (other files' PROVEN null rows, which all precede it, plus
    * non-null values strictly beating its best) reach k. Files whose
    * null count is unknown are never skipped in that mode.
    */
  def readTopK(spark: SparkSession, dir: String, column: String,
      k: Int, desc: Boolean = true, version: Long = -1L,
      nullsFirst: Boolean = false)
      : (DataFrame, FileStats.PruneStats) = {
    require(k > 0, "k must be positive")
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version")
    // a merge-on-read head first: its local files are NOT the table
    // (references dropped, tombstones ignored) and a pure-delete MoR
    // version has no local files at all — serve the full assembly
    if (MergeOnRead.isMorVersion(spark, dir, v))
      return MergeOnRead.unprunedRead(spark, dir, v)
    val vDir = s"$dir/v=$v"
    val manifest = sidecarsOf(spark, vDir)._1
    // no manifest: nothing is provable — keep everything, like the
    // other pruned readers (row counts unknown without a scan)
    if (manifest.isEmpty) {
      val n = listDataRel(fs(spark, dir), new Path(vDir)).size
      return (readFileSet(spark, vDir),
        FileStats.PruneStats(n.toLong, 0L, 0L, 0L))
    }
    // (entry, Option[(lo, hi, guaranteedNonNull)])
    val typed = manifest.map { e =>
      val parsed = for {
        (mn, mx) <- e.cols.get(column).flatten
        lo <- num(mn); hi <- num(mx)
        nn <- e.nonNull.get(column)
      } yield (lo, hi, nn)
      (e, parsed)
    }
    // beat(f) = Σ nn(g) over files g whose WHOLE range beats f's best
    // value — computed in O(F log F): sort the guaranteed bounds once,
    // prefix-sum the non-null counts, binary-search per file
    val bounds = typed.flatMap(_._2)
      .map { case (lo, hi, nn) => (if (desc) lo else -hi, nn) }
      .sortBy(_._1)
    val cum = bounds.scanLeft(0L)(_ + _._2).toArray // cum(i) = Σ nn(<i)
    val keysArr = bounds.map(_._1).toArray
    val totalNn = if (cum.isEmpty) 0L else cum.last
    def beatAbove(x: BigDecimal): Long = {
      // Σ nn over entries with key > x
      var lo = 0; var hi = keysArr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keysArr(mid) <= x) lo = mid + 1 else hi = mid
      }
      totalNn - cum(lo)
    }
    // nulls-first mode: every PROVEN null row (rows − nonNull, both
    // known) precedes every value, so they all count as beaters — but
    // only a provably NULL-FREE file may be skipped (its own hidden
    // nulls would otherwise belong at the head of the result)
    val provenNulls: Long =
      if (!nullsFirst) 0L
      else typed.map { case (e, _) =>
        e.nonNull.get(column).map(nn => math.max(0L, e.rows - nn))
          .getOrElse(0L)
      }.sum
    val skippedRel: Set[String] = typed.flatMap { case (e, p) =>
      p.flatMap { case (lo, hi, nn) =>
        val best = if (desc) hi else -lo
        val nullFree = nn == e.rows
        val beaters =
          if (nullsFirst) provenNulls + beatAbove(best)
          else beatAbove(best)
        if ((!nullsFirst || nullFree) && beaters >= k)
          Some(e.relPath)
        else None
      }
    }.toSet
    val (kept, skipped) = manifest.partition(e => !skippedRel(e.relPath))
    val stats = FileStats.PruneStats(kept.size.toLong,
      skipped.size.toLong, kept.map(_.rows).sum, skipped.map(_.rows).sum)
    val df =
      if (kept.isEmpty)
        readFileSet(spark, vDir)
          .filter(org.apache.spark.sql.functions.lit(false))
      else readFileSet(spark, vDir, kept.map(_.relPath))
    (df, stats)
  }

  /** A sidecar bound or key as a number, None when it is not one. */
  private def num(s: String): Option[BigDecimal] =
    try Some(BigDecimal(s))
    catch { case _: NumberFormatException => None }
}
