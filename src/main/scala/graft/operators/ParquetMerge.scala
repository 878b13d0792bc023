package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation,
  FileTable}
import org.apache.spark.sql.types.StructType

/** Shared read-merge-overwrite mechanics for parquet-backed silver
  * tables — used by both the batch Integrator and the streaming
  * BronzeStream so merge semantics can't drift between them.
  *
  * Reads take a declared schema where one exists, so no Spark job runs
  * to infer it from the footers: [[mergeTable]] reads the old table
  * with the incoming batch's schema (the union needs exactly that
  * schema anyway), and `Integrator.readTable` passes the silver
  * table's declared schema (`NormalizeTables.schemas`). A column the
  * schema names but the files lack — a table written by an older
  * shred — reads as null. Bookkeeping tables (`_watermarks`, `_dlq`,
  * …) have no declared schema and are inferred.
  *
  * Overwrite-in-place over parquet needs two guards (learned the hard
  * way, see Integrator history): materialize the merged result BEFORE
  * clobbering its own input files, and drop Spark's cached file
  * listing afterwards or later same-session reads resolve to deleted
  * part files. [[write]] takes the first guard — a local checkpoint —
  * only when the plan it writes scans the target path, decided from
  * the analyzed plan's file relations: a merge into an existing table
  * pays it, a bootstrap (no old table, nothing to clobber) is one
  * write job. At scale this whole object is replaced by MERGE INTO on
  * a transactional table format; call sites don't change shape.
  *
  * Each [[mergeTable]] commits one table; [[mergeTables]] commits a
  * phase's tables concurrently, so a crash mid-phase can leave any
  * subset of them merged, not only a prefix. Resume is safe after a
  * failed merge, or after a kill between table commits: each
  * per-table merge is idempotent — re-merging the same batch into a
  * table that already holds it yields the same table — and the
  * watermark commits last. It is NOT safe after a kill during
  * [[write]]: the overwrite deletes the old files before the new ones
  * land, so that table loses its history, and an incremental re-run
  * only re-fetches the delta. With concurrent merges one kill can hit
  * up to `defaultParallelism` writes at once. Making a kill mid-write
  * safe is the open item of ROADMAP direction 3.
  */
object ParquetMerge {

  /** The table at `path`, or None iff the table genuinely does not
    * exist yet (first run — caller bootstraps from the batch alone).
    * ONLY path-absence maps to None: a transient read failure
    * (store throttling, permissions blip, corrupt footer) must
    * PROPAGATE, because every caller answers None by overwriting the
    * accumulated table with just the incoming batch — a swallowed
    * transient would silently wipe the table.
    *
    * With a `schema` the read runs no job; without one, Spark infers
    * it from the footers in a job.
    */
  def read(spark: SparkSession, path: String,
      schema: Option[StructType] = None): Option[DataFrame] =
    try Some(schema.fold(spark.read)(s => spark.read.schema(s))
      .parquet(path))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" => None
    }

  /** Overwrite the table at `path` with `df`. */
  def write(spark: SparkSession, path: String, df: DataFrame): Unit = {
    // localCheckpoint(eager = true), NOT cache(): cache is a soft
    // barrier — evicted blocks recompute through the original lineage,
    // which after the overwrite below points at deleted part files.
    // A local checkpoint TRUNCATES lineage, so the overwrite can never
    // re-read its own input. (On a real cluster a lost executor fails
    // the job instead of corrupting it; a transactional table format
    // with MERGE INTO replaces this whole object at scale.)
    val cut = readsPath(df, path)
    val out = if (cut) df.localCheckpoint(true) else df
    out.write.mode("overwrite").parquet(path)
    spark.catalog.refreshByPath(path)
    // the checkpoint blocks served their one purpose (the overwrite);
    // without this they'd pin executor memory/disk until GC across the
    // ~30 table writes of a run
    if (cut) out.unpersist()
  }

  /** True when `df`'s analyzed plan (subqueries included) scans files
    * at, under or above `path` — the plans an overwrite of `path`
    * would pull the files from under. A plan that reads the path only
    * through a local checkpoint has no file relation left for it. */
  private[graft] def readsPath(df: DataFrame, path: String): Boolean = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    def qualified(p: Path) = p.getFileSystem(conf).makeQualified(p)
      .toString.stripSuffix("/")
    val target = qualified(new Path(path))
    df.queryExecution.analyzed.collectWithSubqueries {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => h.location.rootPaths
        case _ => Nil
      }
      case r: DataSourceV2Relation => r.table match {
        case t: FileTable => t.fileIndex.rootPaths
        case _ => Nil
      }
    }.flatten.map(qualified).exists(p =>
      p == target || p.startsWith(target + "/") ||
        target.startsWith(p + "/"))
  }

  /** K1 full-row upsert into the table at `path`. */
  def mergeFull(spark: SparkSession, path: String, incoming: DataFrame,
      keys: Seq[String]): Unit =
    write(spark, path, read(spark, path, Some(incoming.schema))
      .map(Upsert.fullRow(_, incoming, keys)).getOrElse(incoming))

  /** K4 replace-children-per-parent into the table at `path`. */
  def replaceChildren(spark: SparkSession, path: String,
      incoming: DataFrame, parentKeys: Seq[String]): Unit =
    write(spark, path, read(spark, path, Some(incoming.schema))
      .map(Upsert.reconcileChildren(_, incoming, parentKeys))
      .getOrElse(incoming))

  /** Apply a table's canonical merge strategy
    * (NormalizeTables.mergeStrategy). */
  def mergeTable(spark: SparkSession, path: String, table: String,
      incoming: DataFrame): Unit =
    graft.normalize.NormalizeTables.mergeStrategy(table) match {
      case Left(pk) => mergeFull(spark, path, incoming, pk)
      case Right(parents) => replaceChildren(spark, path, incoming, parents)
    }

  /** Merge a phase's `(table, incoming)` pairs into `dir/<table>`
    * concurrently (the merges are independent). A failed merge is
    * rethrown only after the others have finished, so the caller
    * commits its watermark only if every table landed. */
  def mergeTables(spark: SparkSession, dir: String,
      tables: Iterable[(String, DataFrame)]): Unit =
    Parallelism.concurrently(spark)(tables.toSeq.map {
      case (name, df) => () => mergeTable(spark, s"$dir/$name", name, df)
    })
}
