package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Versioned snapshot tables — the minimal transaction protocol a
  * parquet lake needs before a real table format arrives: every
  * commit writes a COMPLETE new version directory and then publishes
  * it by atomically replacing a tiny `_latest` pointer file. Readers
  * resolve the pointer first, so they only ever see fully-written
  * versions (a crashed writer leaves an orphan directory the vacuum
  * reclaims — never a torn table), and a published version is
  * immutable, which is exactly what makes time travel trivial: an
  * older version is just another directory to read.
  *
  * This complements the Upsert family (which computes WHAT the next
  * version contains): at 100 TB the same protocol holds — the pointer
  * is O(1) regardless of table size, and the full-rewrite `commit`
  * becomes a manifest-reusing incremental commit under a real table
  * format.
  *
  * Every writer commits through ONE pipeline — stage → seal → claim →
  * publish — described (with its policies and invariants) at
  * [[commitStaged]]. Layout: `dir/v=N/…parquet` + `dir/_latest`
  * (ASCII version number); each `v=N/_version.json` is the version's
  * one metadata record ([[VersionRecord]]: read schema, provenance,
  * epochs, ZORDER columns, merge-on-read references and deletion
  * vectors), so reading a version never infers its schema from
  * parquet footers ([[readFileSet]]). The per-file pruning manifests
  * `_stats.json` and `_bloom_<col>.json` sit beside it. The row-level
  * statements live in
  * [[CopyOnWrite]] and [[MergeOnRead]], compaction, ZORDER and vacuum
  * in [[SnapshotMaintenance]]; all of them commit through this
  * object's pipeline.
  */
object Snapshots {

  private[operators] val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private[operators] def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pointer(dir: String) = new Path(dir, "_latest")

  /** The committed version, 0 if the table has never been published.
    *
    * Retries on ChecksumException: on the local FS the new publish
    * protocol deletes the pointer's crc sidecars (no mismatch is
    * possible), but a STORE WRITTEN BEFORE that change may still
    * carry a `._latest.crc` whose deletion races the first new-style
    * publish, and checksummed remote FSs replace pointer and sidecar
    * in two steps — the bounded backoff rereads past both transients
    * (readers never see a torn VALUE — the pointer rename itself is
    * atomic — only a transiently mismatched sidecar). */
  def latestVersion(spark: SparkSession, dir: String): Long = {
    val f = fs(spark, dir)
    val p = pointer(dir)
    var attempt = 0
    while (true) {
      if (!f.exists(p)) return 0L
      try {
        val in = f.open(p)
        try return new String(org.apache.commons.io.IOUtils
          .toByteArray(in), "US-ASCII").trim.toLong
        finally in.close()
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          if (attempt >= 8) throw e
          attempt += 1
          Thread.sleep(2L << attempt)
      }
    }
    0L // unreachable
  }

  // ---- the on-disk layout ---------------------------------------------

  /** `N` of a version directory name `v=N`, None for any other name —
    * the one parse of a version name. */
  private[graft] def versionOf(name: String): Option[Long] =
    numbered("v=", name)

  /** `N` of a `<prefix>N` name, None for any other name. */
  private def numbered(prefix: String, name: String): Option[Long] =
    if (name.startsWith(prefix)) name.drop(prefix.length).toLongOption
    else None

  /** One parse of ONE listing of a table root — every decision that
    * reads the root reads it through [[Root.of]], listed at the point
    * of the decision (no listing outlives a pipeline step). A missing
    * root reads as empty. */
  private[operators] final class Root(f: FileSystem,
      entries: Seq[FileStatus]) {
    private def byNumber(ss: Seq[FileStatus], n: String => Option[Long]) =
      ss.flatMap(s => n(s.getPath.getName).map(_ -> s)).toMap
    private val (dirs, files) = entries.partition(_.isDirectory)
    /** `v=N` version directories. */
    val versions: Map[Long, FileStatus] = byNumber(dirs, versionOf)
    /** Live slot claims `_claim.N`. */
    val claims: Map[Long, FileStatus] =
      byNumber(files, numbered("_claim.", _))
    /** Retired claims `_claim.N.stale-<uuid>` — they occupy no slot. */
    val retired: Seq[FileStatus] = files.filter { s =>
      val n = s.getPath.getName
      n.startsWith("_claim.") && n.contains(".stale-")
    }
    /** Publication records `_pubtime.N` ([[publish]]). */
    val pubs: Map[Long, FileStatus] =
      byNumber(files, numbered("_pubtime.", _))
    /** The entries of `_staging/` — listed only when asked for. */
    lazy val stages: Seq[FileStatus] =
      dirs.filter(_.getPath.getName == StagingDir)
        .flatMap(s => f.listStatus(s.getPath))
    /** Main's history at or below `head` holds `v`: the version
      * exists and carries a publication record — a crashed Replace
      * committer's orphan has none. A store with no record at all
      * predates them: every version counts. */
    def published(v: Long, head: Long): Boolean =
      v <= head && versions.contains(v) && (pubs.isEmpty || pubs.contains(v))
  }

  private[operators] object Root {
    def of(f: FileSystem, dir: String): Root = new Root(f,
      try f.listStatus(new Path(dir)).toSeq
      catch { case _: java.io.FileNotFoundException => Nil })
  }

  /** A row-level statement's provenance: the version it staged from,
    * its op, and the files whose rows it rewrote or tombstoned — what
    * commit-time conflict detection validates against. */
  private[operators] final case class Provenance(base: Long, op: String,
      touched: Seq[String])

  /** A deletion vector serving a version: the parquet `file` in the
    * `_dv/` directory of its home version `src` (None: the version
    * itself), its row count and the data-file keys it tombstones. */
  private[operators] final case class Dv(src: Option[Long], file: String,
      rows: Long, keys: Seq[String])

  /** One version's metadata — `v=N/_version.json`, sealed with its data
    * by the slot rename ([[seal]]):
    *  - `schema`: the read schema ([[readFileSet]]); None for a version
    *    with no data file of its own;
    *  - `dml`: a row-level statement's [[Provenance]];
    *  - `epochs`: the exactly-once fence's epoch ids
    *    ([[commitWithEpoch]]);
    *  - `zorder`: the bucket columns OPTIMIZE ZORDER manages;
    *  - `refs`: the (home version, file) data files a merge-on-read
    *    version serves by reference — a version is MoR when it has any;
    *  - `dvs`: the deletion vectors applied to them. */
  private[graft] final case class VersionRecord(
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      dml: Option[Provenance] = None, epochs: Seq[Long] = Nil,
      zorder: Seq[String] = Nil, refs: Seq[(Long, String)] = Nil,
      dvs: Seq[Dv] = Nil) {

    def isMor: Boolean = refs.nonEmpty

    /** One JSON document; empty fields are left out, and the
      * provenance's `base`, `op` and `touched` sit at the top level. */
    def toJson: org.json4s.JValue = {
      import org.json4s.JsonDSL._
      def some[A](as: Seq[A]) = Option(as).filter(_.nonEmpty)
      ("schema" -> schema.map(s => StoreJson.parse(s.json))) ~
        ("base" -> dml.map(_.base)) ~ ("op" -> dml.map(_.op)) ~
        ("touched" -> dml.map(_.touched)) ~
        ("epochs" -> some(epochs)) ~ ("zorder" -> some(zorder)) ~
        ("refs" -> some(refs.map { case (src, file) =>
          ("src" -> src) ~ ("file" -> file) })) ~
        ("dvs" -> some(dvs.map(d => ("src" -> d.src) ~
          ("file" -> d.file) ~ ("rows" -> d.rows) ~ ("keys" -> d.keys))))
    }
  }

  private[graft] object VersionRecord {
    val Name = "_version.json"

    def fromJson(j: org.json4s.JValue): VersionRecord = {
      import StoreJson.formats
      VersionRecord(
        (j \ "schema").toOption.map(s => org.apache.spark.sql.types.DataType
          .fromJson(StoreJson.render(s))
          .asInstanceOf[org.apache.spark.sql.types.StructType]),
        (j \ "op").extractOpt[String].map(op => Provenance(
          (j \ "base").extract[Long], op,
          (j \ "touched").extract[Seq[String]])),
        (j \ "epochs").extractOrElse[Seq[Long]](Nil),
        (j \ "zorder").extractOrElse[Seq[String]](Nil),
        (j \ "refs").children.map(r =>
          ((r \ "src").extract[Long], (r \ "file").extract[String])),
        (j \ "dvs").children.map(d => Dv((d \ "src").extractOpt[Long],
          (d \ "file").extract[String], (d \ "rows").extract[Long],
          (d \ "keys").extract[Seq[String]])))
    }
  }

  /** One parse of ONE listing of a version directory (a missing one
    * reads as empty): its [[VersionRecord]], the columns with
    * `_bloom_<col>.json` sidecars, and whether it carries a stats
    * manifest — the manifests stay files of their own, which specs
    * also write outside [[seal]]. */
  private[graft] final case class VersionDir(record: VersionRecord,
      bloomCols: Seq[String], hasStats: Boolean)

  private[graft] object VersionDir {
    def of(f: FileSystem, vDir: Path): VersionDir = {
      val entries =
        try f.listStatus(vDir).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      val names = entries.filter(_.isFile).map(_.getPath.getName)
      val record =
        if (names.contains(VersionRecord.Name))
          VersionRecord.fromJson(
            StoreJson.read(f, new Path(vDir, VersionRecord.Name)).head)
        else {
          refuseOldLayout(vDir, entries.map(_.getPath.getName))
          VersionRecord()
        }
      VersionDir(record,
        names.collect { case n if n.startsWith("_bloom_") &&
          n.endsWith(".json") =>
            n.stripPrefix("_bloom_").stripSuffix(".json") }.sorted,
        names.contains(FileStats.ManifestName))
    }

    /** A version directory with no record but a sidecar of the layout
      * the record replaced was written by that layout: reading it
      * without its references would silently lose a merge-on-read
      * version's rows, so it is refused, never read. */
    private def refuseOldLayout(vDir: Path, names: Seq[String]): Unit = {
      val retired = names.filter(n => Set("_schema.json", "_dml.json",
        "_refs.json", "_dvrefs.json", "_dv")(n) ||
        n.startsWith("_epoch.") || n.startsWith("_zcluster."))
      if (retired.nonEmpty)
        throw new IllegalStateException(
          s"$vDir holds ${retired.sorted.mkString(", ")} but no " +
            s"${VersionRecord.Name}: it was written by the snapshot " +
            "layout before one metadata record per version (the " +
            "_schema.json, _dml.json, _refs.json, _dvrefs.json, " +
            "_dv/index.json, _epoch.N and _zcluster.<col> sidecars), " +
            "which this store no longer reads — read the table with a " +
            "build of that layout and commit its rows to a fresh one")
    }
  }

  /** First unoccupied version slot — the Replace policy's claim
    * target: above the pointer, above every existing `v=` directory,
    * AND above every live `_claim.N` marker — a crashed orphan or a
    * committer that has claimed-but-not-yet-renamed may own slots
    * past the pointer, and `latest+1` would silently overwrite them
    * (on the local FS a rename onto an occupied slot MERGES instead
    * of failing). Retired markers (`.stale-` suffix) do not occupy a
    * slot. */
  private[operators] def nextFreeVersion(spark: SparkSession,
      dir: String): Long = {
    val root = Root.of(fs(spark, dir), dir)
    (latestVersion(spark, dir) +:
      (root.versions.keys ++ root.claims.keys).toSeq).max + 1
  }

  /** Claim version slot `v` via an exclusive-create `_claim.$v`
    * marker (atomic on HDFS/posix; object stores substitute an
    * if-none-match put) — of N racing claimants, one succeeds.
    * LOCAL-FS CAVEAT: Hadoop's LocalFileSystem (ChecksumFileSystem)
    * implements create(overwrite=false) as check-then-create, so two
    * LOCAL racers can both "win" the claim; [[occupySlot]]'s
    * post-rename nested-merge check backstops it, so claim
    * non-atomicity degrades to a retry/conflict — never to a corrupt
    * merged version directory. */
  private def tryClaimSlot(f: FileSystem, dir: String, v: Long): Boolean =
    try { f.create(new Path(dir, s"_claim.$v"), false).close(); true }
    catch { case _: java.io.IOException => false }

  /** Allocate AND claim the next free slot, retrying the probe when a
    * concurrent claimant takes the candidate first. */
  private def claimNextFree(spark: SparkSession, dir: String,
      maxAttempts: Int = 64): Long = {
    val f = fs(spark, dir)
    var attempt = 0
    while (attempt < maxAttempts) {
      val v = nextFreeVersion(spark, dir)
      if (tryClaimSlot(f, dir, v)) return v
      attempt += 1
    }
    throw new IllegalStateException(
      s"could not claim a version slot in $maxAttempts attempts: $dir")
  }

  /** Retire a claim marker to the vacuumable `.stale-` form (a
    * retired marker no longer occupies its slot for the allocator). */
  private def retireClaim(f: FileSystem, dir: String, v: Long): Unit =
    f.rename(new Path(dir, s"_claim.$v"), new Path(dir,
      s"_claim.$v.stale-${java.util.UUID.randomUUID()}"))

  /** Move a sealed stage into CLAIMED slot `v=$v` atomically. Returns
    * true when the slot now holds exactly the staged directory. If the
    * rename MERGED into a pre-existing `v=$v` (pre-claim-era leftover
    * never vacuumed, or a local-FS claim race — Hadoop's rename onto
    * an existing directory nests the source inside it and returns
    * true): pulls the stage back out INTACT (its contents are
    * slot-independent, so a retry can reuse it against a fresh slot),
    * retires the claim, and returns false — never publish a corrupt
    * merged directory. */
  private def occupySlot(f: FileSystem,
      dir: String, stage: Path, v: Long): Boolean = {
    val dst = new Path(dir, s"v=$v")
    val nested = new Path(dst, stage.getName)
    if (f.rename(stage, dst) && !f.exists(nested)) true
    else {
      if (f.exists(nested)) f.rename(nested, stage)
      retireClaim(f, dir, v)
      false
    }
  }

  // ---- the commit pipeline -------------------------------------------

  /** THE COMMIT PIPELINE — every version this store publishes goes
    * through the same four steps, modelled on Delta Lake's
    * optimistic-concurrency commit (Armbrust et al., VLDB 2020):
    *
    *  1. STAGE ([[stage]]) — the statement's bytes land in a
    *     writer-unique `dir/_staging/<uuid>` directory, the only
    *     staging path this store ever names. Racing writers never
    *     share bytes; a crash leaves an orphan stage vacuum reclaims.
    *  2. SEAL ([[seal]]) — every sidecar the version needs lands
    *     INSIDE the stage: the `_version.json` record (schema,
    *     provenance, epochs and ZORDER columns carried from the base
    *     version plus the statement's own, merge-on-read references
    *     and deletion vectors), the stats manifest and bloom sidecars
    *     (fresh, or spliced with the entries of byte-carried files).
    *  3. CLAIM — an exclusive-create `_claim.N` marker reserves slot N
    *     ([[tryClaimSlot]]), then the stage is renamed into `v=N`
    *     ([[occupySlot]]).
    *  4. PUBLISH — the `_latest` pointer is replaced atomically
    *     ([[publish]]).
    *
    * Claim-and-publish ([[commitStaged]]) runs one of three POLICIES
    * for a head that moved while the statement staged:
    *  - [[Replace]] — plain and epoch commits: claim the next FREE
    *    slot and publish it over whatever happened meanwhile; when the
    *    head already passed the slot, its bytes re-land above the head.
    *  - [[Rebase]] — every row-level statement (DELETE, UPDATE, MERGE,
    *    INSERT, OVERWRITE; copy-on-write and merge-on-read): claim the
    *    slot above the head it staged from; on a moved head withdraw,
    *    run the statement's validation against the new head (it throws
    *    to abort) and re-stage there, up to `maxRetries` times.
    *  - [[Abort]] — every maintenance rewrite (fold, purge, compact,
    *    ZORDER): like Rebase, but a moved head withdraws
    *    and throws ConcurrentModificationException — a rewrite built
    *    from an old head would silently revert the commit that moved
    *    it, and maintenance is always safe to re-run.
    *
    * Invariants:
    *  - `v=N` only ever comes into existence through the
    *    all-or-nothing rename of a COMPLETE, sealed stage — never via
    *    in-place writes — which is what lets crashed-winner recovery
    *    treat "v=N exists" as "complete, roll it forward";
    *  - no publish moves the pointer backwards: a Rebase or Abort
    *    commit publishes only while the head is still the one it
    *    staged from ([[publishIfHead]]), a Replace commit only above
    *    the head;
    *  - a failure at any step leaves the table at its old version: the
    *    stage is deleted, a won claim retired, an occupied slot
    *    withdrawn.
    *
    * Layout: `dir/v=N/` versions (data files, `_version.json`,
    * `_stats.json`, `_bloom_<col>.json`, merge-on-read `_dv/`),
    * `dir/_latest` pointer, `dir/_claim.N` slot claims,
    * `dir/_pubtime.N` publication records, `dir/_staging/<uuid>`
    * stages. */
  private[operators] sealed trait Policy
  private[operators] case object Replace extends Policy
  private[operators] final case class Rebase(maxRetries: Int, waitMs: Long)
      extends Policy
  private[operators] final case class Abort(op: String, base: Long)
      extends Policy

  /** A sealed stage, the statement's result, and (Rebase) the
    * validation run with the NEW head when another commit won. */
  private[operators] final case class Staged[T](stage: Path, result: T,
      validate: Long => Unit = (_: Long) => ())

  private[operators] val StagingDir = "_staging"

  private val hooks =
    new java.util.concurrent.ConcurrentHashMap[String, String => Unit]()

  private def hookKey(dir: String): String = new Path(dir).toUri.getPath

  /** TEST SEAM: run `body` with `hook` called after every pipeline
    * step on table `dir` — "stage", "seal", "claim", and "occupy"
    * (before the publish). A hook that commits to the same table is a
    * deterministic race; a hook that throws is an injected fault. */
  private[operators] def withHook[A](dir: String, hook: String => Unit)(
      body: => A): A = {
    hooks.put(hookKey(dir), hook)
    try body finally { hooks.remove(hookKey(dir)); () }
  }

  private def step(dir: String, name: String): Unit =
    if (!hooks.isEmpty) {
      val h = hooks.get(hookKey(dir))
      if (h != null) h(name)
    }

  /** STAGE: a writer-unique directory under `dir/_staging/` that
    * `write` fills. Its last segment does not start with `_`, so the
    * sealer's scans read it like any parquet directory (no `All paths
    * were ignored` warnings). A failing write leaves nothing behind. */
  private[operators] def stage(spark: SparkSession, dir: String)(
      write: Path => Unit): Path = {
    val p = new Path(dir, s"$StagingDir/${java.util.UUID.randomUUID()}")
    try { write(p); step(dir, "stage") }
    catch { case e: Throwable => fs(spark, dir).delete(p, true); throw e }
    p
  }

  /** The one way a frame lands in a stage. `rebalance` adds an AQE
    * REBALANCE keyed on the partition columns (size-aware — hot
    * partitions split, small ones coalesce) so each writer task owns
    * whole partition values: a stage write from an unclustered frame
    * (a merge's anti-join ∪ source, a fold's assembly) otherwise opens
    * one file per (task × partition value) — measured 520 files /
    * 4.5 s where the clustered write stages 8 files in 0.6 s — and
    * every later statement pays the small files again at scan time.
    * `keepSchema`: a version needs at least one data file (a bare
    * `spark.read.parquet` of it, and [[seal]]'s schema record, infer
    * from one), so a write that produced none — a statement that
    * emptied the table — adds one schema-carrying zero-row file,
    * unpartitioned (a dynamic-partition write of an empty frame writes
    * nothing). */
  private[operators] def writeFrame(df: DataFrame, stage: Path,
      pcols: Seq[String] = Nil, rebalance: Boolean = false,
      keepSchema: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.col
    val balanced =
      if (!rebalance) df
      else if (pcols.nonEmpty) df.hint("rebalance", pcols.map(col): _*)
      else df.hint("rebalance")
    val w = balanced.write.mode("overwrite").options(NoSuccessMarker)
    (if (pcols.nonEmpty) w.partitionBy(pcols: _*) else w)
      .parquet(stage.toString)
    if (keepSchema) {
      val f = stage.getFileSystem(
        df.sparkSession.sparkContext.hadoopConfiguration)
      if (listDataRel(f, stage).isEmpty)
        df.limit(0).coalesce(1).write.mode("overwrite")
          .options(NoSuccessMarker).parquet(stage.toString)
    }
  }

  /** The write option every store write passes: no `_SUCCESS` marker
    * in a version directory — the slot rename, not a marker, is what
    * publishes a version, and nothing reads one. */
  private[operators] val NoSuccessMarker =
    Map("mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** What [[seal]] writes into a stage. `statsCols`/`bloomCols` are
    * computed over the stage's own data files; `carry` (source file,
    * stage-relative name) is byte-copied in AFTER that scan, and its
    * existing entries `keptStats`/`keptBlooms` are spliced in (carried
    * files are never re-scanned). The rest is the version's
    * [[VersionRecord]]: `base` is the version whose record's epochs and
    * ZORDER columns carry forward, plus `epochs` and `zorder`; `dml`
    * the statement's provenance; `refs` and `dvs` a merge-on-read
    * version's references and deletion vectors. `schema` is the read
    * schema of the version the statement read or conformed its rows
    * to, which the new version keeps; None for a write that brings its
    * own (a commit, an overwrite, a ZORDER layout). */
  private[operators] final case class Seal(statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      keptStats: Seq[FileStats.FileStat] = Nil,
      keptBlooms: Map[String, Seq[BloomStats.FileBloom]] = Map.empty,
      carry: Seq[(Path, String)] = Nil,
      base: Option[Path] = None,
      epochs: Seq[Long] = Nil,
      zorder: Seq[String] = Nil,
      dml: Option[Provenance] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      refs: Seq[(Long, String)] = Nil,
      dvs: Seq[Dv] = Nil)

  /** SEAL: write every sidecar of `s` into `stage` — the one place a
    * version's metadata is produced, sealed with its data by the slot
    * rename (a reader can never resolve a version whose record or
    * manifest is missing or half-written). The first sidecar is the
    * version's record, `_version.json`, so the stage scans below read
    * through its schema: `s.schema` when the statement has a base
    * version, else inferred from the stage's data files. A base's
    * schema is kept, not re-inferred, because the partition
    * directories a statement writes or carries are a subset of the
    * version's values and can type a column differently (`region=001`
    * alone reads as an integer). A stage with no data file at all (an
    * MoR version of references and tombstones, read through its home
    * versions' records) records no schema, and a stage with no
    * metadata at all no record. A failure deletes the stage. */
  private[operators] def seal(spark: SparkSession, dir: String, stage: Path,
      s: Seal): Path = {
    val f = fs(spark, dir)
    try {
      val st = stage.toString
      val rels = listDataRel(f, stage).map(_._1)
      // a statement that rewrote nothing new (every row deleted from
      // the rewritten files) keeps only the carried files' entries
      val empty = rels.isEmpty
      // dropping the base's epochs would reopen the exactly-once
      // fence, dropping its ZORDER columns the proof that OPTIMIZE
      // ZORDER's bucket column is store-managed
      val base = s.base.fold(VersionRecord())(VersionDir.of(f, _).record)
      val record = VersionRecord(
        if (empty && s.carry.isEmpty) None
        else s.schema.orElse(inferSchema(spark, stage, rels)),
        s.dml, (base.epochs ++ s.epochs).distinct.sorted,
        (base.zorder ++ s.zorder).distinct.sorted, s.refs, s.dvs)
      if (record != VersionRecord())
        StoreJson.write(f, new Path(stage, VersionRecord.Name),
          Seq(record.toJson))
      if (s.statsCols.nonEmpty) {
        if (empty) FileStats.writeEntries(spark, st, s.keptStats)
        else {
          FileStats.writeManifest(spark, st, s.statsCols)
          if (s.keptStats.nonEmpty) FileStats.writeEntries(spark, st,
            FileStats.readManifest(spark, st) ++ s.keptStats)
        }
      }
      s.bloomCols.foreach { c =>
        val kept = s.keptBlooms.getOrElse(c, Nil)
        if (empty) BloomStats.writeEntries(spark, st, c, kept)
        else {
          BloomStats.writeManifest(spark, st, c)
          if (kept.nonEmpty) BloomStats.writeEntries(spark, st, c,
            BloomStats.readManifest(spark, st, c) ++ kept)
        }
      }
      val conf = spark.sparkContext.hadoopConfiguration
      s.carry.foreach { case (src, rel) =>
        FileUtil.copy(f, src, f, new Path(stage, rel), false, conf)
      }
      step(dir, "seal")
      stage
    } catch { case e: Throwable => f.delete(stage, true); throw e }
  }

  /** Stage `df` (partitioned by `pcols`) and seal it with `s`. */
  private def stageFrame(spark: SparkSession, dir: String, df: DataFrame,
      s: Seal = Seal(), pcols: Seq[String] = Nil): Path =
    seal(spark, dir, stage(spark, dir)(writeFrame(df, _, pcols)), s)

  /** CLAIM-AND-PUBLISH: `prepare(head)` stages and seals the statement
    * against the current head — `Left(result)` for a provable no-op
    * (nothing published, the head comes back), `Right(staged)`
    * otherwise — and [[land]] claims, occupies and publishes under
    * `policy`. Replace and Abort prepare once; Rebase re-prepares on
    * the new head after its validation passes. */
  private[operators] def commitStaged[T](spark: SparkSession, dir: String,
      policy: Policy)(prepare: Long => Either[T, Staged[T]]): (Long, T) = {
    @annotation.tailrec
    def attempt(retries: Int): (Long, T) = {
      val h = latestVersion(spark, dir)
      prepare(h) match {
        case Left(result) => (h, result)
        case Right(st) => land(spark, dir, h, st.stage, policy) match {
          case Some(v) => (v, st.result)
          case None =>
            val h2 = latestVersion(spark, dir)
            policy match {
              case Rebase(maxRetries, _) =>
                st.validate(h2)
                if (retries >= maxRetries)
                  throw new IllegalStateException(
                    s"conflict: lost the commit race ${retries + 1} " +
                      s"times in $dir — retry budget exhausted")
                attempt(retries + 1)
              case Abort(op, base) =>
                throw new java.util.ConcurrentModificationException(
                  s"conflict: the head moved past v=$base (now v=$h2) " +
                    s"while $op was staging — nothing was published; " +
                    s"re-run $op on the new head")
              case Replace => // land always publishes a Replace
                throw new IllegalStateException("unreachable")
            }
        }
      }
    }
    attempt(0)
  }

  /** Commit one stage under a policy that never re-stages. */
  private[operators] def commitNew(spark: SparkSession, dir: String,
      policy: Policy = Replace)(st: => Path): Long =
    commitStaged(spark, dir, policy)(_ => Right(Staged(st, ())))._1

  /** Claim, occupy and publish `stage` under `policy`, `h` being the
    * head it was staged from. Some(version) once published; None when
    * another commit moved the head first (stage and claim already
    * withdrawn). Any failure withdraws everything and rethrows. */
  private def land(spark: SparkSession, dir: String, h: Long,
      staged: Path, policy: Policy): Option[Long] = {
    val f = fs(spark, dir)
    var stage = staged
    var slot = -1L
    var claimed = false
    var occupied = false
    def withdraw(): Unit = {
      if (occupied) f.delete(new Path(dir, s"v=$slot"), true)
      else f.delete(stage, true)
      if (claimed) retireClaim(f, dir, slot)
      claimed = false
      occupied = false
    }
    // a failed occupy pulled the stage back out and retired the claim
    def occupy(): Boolean = {
      occupied = occupySlot(f, dir, stage, slot)
      claimed = occupied
      if (occupied) step(dir, "occupy")
      occupied
    }
    try policy match {
      case Replace =>
        // squatted slots (pre-claim-era leftovers, local-FS claim
        // races) retry with the SAME stage — the Spark write ran once
        val maxAttempts = 3
        var attempt = 0
        var landed = -1L
        while (landed < 0) {
          while (!occupied) {
            if (attempt == maxAttempts)
              throw new IllegalStateException(
                s"could not occupy a version slot in $maxAttempts " +
                  s"attempts: $dir")
            slot = claimNextFree(spark, dir)
            claimed = true
            step(dir, "claim")
            occupy()
            attempt += 1
          }
          if (latestVersion(spark, dir) < slot) {
            publish(spark, dir, slot)
            landed = slot
          } else {
            // another commit published past this slot meanwhile, and
            // publishing it now would move the pointer backwards:
            // re-land a copy of its bytes above the head. The passed
            // slot stays an unpublished orphan — a killed committer's
            // shape, which mainHistory skips; deleting it would leave
            // a hole in the range the ranged readers walk
            stage = new Path(dir,
              s"$StagingDir/${java.util.UUID.randomUUID()}")
            FileUtil.copy(f, new Path(dir, s"v=$slot"), f, stage, false,
              spark.sparkContext.hadoopConfiguration)
            occupied = false
            claimed = false
          }
        }
        Some(landed)
      case _ =>
        val (expected, waitMs) = policy match {
          case Abort(_, base) => (base, 30000L)
          case Rebase(_, w) => (h, w)
          case Replace => throw new IllegalStateException("unreachable")
        }
        slot = slotAbove(f, dir, expected)
        if (!tryClaimSlot(f, dir, slot)) {
          // lost the claim — wait for the winner to publish
          if (waitMs <= 0)
            throw new java.util.ConcurrentModificationException(
              s"conflict: v=$slot already claimed by a concurrent " +
                "committer")
          val deadline = System.currentTimeMillis() + waitMs
          while (latestVersion(spark, dir) == expected &&
              System.currentTimeMillis() < deadline) Thread.sleep(25L)
          if (latestVersion(spark, dir) == expected)
            throw new IllegalStateException(
              s"conflict: v=$slot claimed but never published within " +
                s"${waitMs}ms — crashed committer? reclaim it with " +
                "vacuum(orphanGraceMs)")
          withdraw()
          None
        } else {
          claimed = true
          step(dir, "claim")
          // re-check BEFORE occupying: once v=N exists under a moved
          // head, ranged readers (readAppendsSince, the snapshot-log
          // source) would transiently see a version about to be
          // withdrawn
          if (latestVersion(spark, dir) != expected) { withdraw(); None }
          else if (!occupy())
            throw new java.util.ConcurrentModificationException(
              s"conflict: v=$slot directory already exists in $dir")
          else if (publishIfHead(spark, dir, expected, slot)) Some(slot)
          else {
            // a Replace committer landed ABOVE our slot and published
            // first — publishing now would regress the pointer
            withdraw()
            None
          }
        }
    } catch { case e: Throwable => withdraw(); throw e }
  }

  /** The slot a head-bound (Rebase/Abort) commit claims: the lowest
    * above `h` that is not a SETTLED unpublished version — a `v=N`
    * with no live claim (a leftover of a store written before slots
    * were claimed): no writer will ever publish it, so waiting on it
    * would wedge main. A slot under a live claim is contested, never
    * skipped — that is what serializes head-bound writers on the same
    * head. */
  private[operators] def slotAbove(f: FileSystem, dir: String, h: Long)
      : Long = {
    val root = Root.of(f, dir)
    Iterator.iterate(h + 1)(_ + 1)
      .find(s => !root.versions.contains(s) || root.claims.contains(s)).get
  }

  /** Observation result, or None when Spark's observation manager
    * delivered the EMPTY row: an eagerly-executed write command spawns
    * a wrapper QueryExecution whose logical plan still contains the
    * CollectMetrics node but whose executed plan never runs it, and
    * the manager completes a registered observation with Row.empty
    * for exactly that shape — whether the real write's end-event or
    * the wrapper's reaches the listener bus first is a race. Callers
    * fall back to recounting (two extra cheap jobs) on the unlucky
    * order; the blocking get cannot hang because both events always
    * fire. (Row.empty also surfaces as a null schema inside get —
    * hence the Try.) */
  private[graft] def observedOrNone(obs: org.apache.spark.sql.Observation)
      : Option[Map[String, Any]] =
    scala.util.Try(obs.get).toOption.filter(_.nonEmpty)

  /** Write `df` as the next version and publish it atomically — the
    * Replace policy with no sidecars ([[commitWithStats]] with none).
    * Returns the new version number. */
  def commit(spark: SparkSession, df: DataFrame, dir: String): Long =
    commitWithStats(spark, df, dir, statsCols = Nil)

  /** Main-line history in `(since, to]`, ascending: the versions
    * main's pointer published. A version is main when it carries a
    * publication record (`_pubtime.N`, written by [[publish]]); a
    * crashed Replace committer's orphan (killed between its slot
    * rename and its publish) has none, so the ranged readers
    * ([[readAppendsSince]], [[mirrorAppends]], the snapshot-log
    * stream) never serve one as main history. A store with no record
    * at all predates them: every version counts. A version DIRECTORY
    * missing from the range throws — a silent hole would be data
    * loss. */
  private[graft] def mainHistory(spark: SparkSession, dir: String,
      since: Long, to: Long): Seq[Long] = {
    val root = Root.of(fs(spark, dir), dir)
    val range = (since + 1) to to
    val missing = range.filterNot(root.versions.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"range ($since, $to] of $dir has vacuumed versions: " +
          s"${missing.mkString(",")} — a silent hole would be data " +
          "loss; raise vacuum keepLast for log consumers")
    range.filter(root.published(_, to))
  }

  /** Whether `v` is on main's history at or below `head` — the
    * versions time travel by version may serve ([[mainHistory]]'s
    * rule). */
  private[graft] def isPublished(spark: SparkSession, dir: String,
      v: Long, head: Long): Boolean =
    Root.of(fs(spark, dir), dir).published(v, head)

  /** Epoch ids `v=$v`'s record carries. */
  private def epochsOf(f: FileSystem, dir: String, v: Long): Set[Long] =
    VersionDir.of(f, new Path(dir, s"v=$v")).record.epochs.toSet

  /** Epoch-fenced commit — the exactly-once primitive a STREAMING
    * sink needs when batches are NOT idempotent merges (append logs,
    * aggregation deltas): each committed version carries its epoch id
    * in its record (sealed by the same atomic slot rename as the
    * data, so epoch and bytes are inseparable), and a re-delivered
    * epoch — Structured Streaming re-executes the last uncommitted
    * micro-batch after a crash — is detected and skipped with `Left`. Single writer per table
    * (plain-commit discipline); sequential epochs mean the only
    * possible duplicate is the LAST epoch-marked version.
    *
    * THE FENCE reads the newest PUBLISHED version that carries any
    * epoch — not just the head. The head probe alone was broken by
    * the store's own maintenance ops: compaction publishes a new
    * head, and although it carries the source's epochs forward, a
    * plain `commit` interleaved on the same table does not — the
    * fence must scan back to the newest marked version rather than
    * trust `v=head` specifically. For a pure `versionedSink` table
    * the newest marked version IS the head (compaction preserves
    * epochs), so the scan is one record read in the steady state.
    *
    * Crash matrix: die before the slot rename → nothing published,
    * replay commits normally; die between rename and pointer publish
    * → the orphan `v=N` is COMPLETE (slot renames are all-or-nothing)
    * and carries this epoch, so the replay ROLLS IT FORWARD
    * (publishes the existing bytes instead of re-writing — the
    * previous behavior committed the replay into a fresh slot and
    * left the orphan as sub-head "history" that time travel served as
    * a duplicated epoch); die after publish → replay sees the epoch
    * and skips.
    */
  def commitWithEpoch(spark: SparkSession, df: DataFrame, dir: String,
      epochId: Long, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Either[String, Long] =
    // a streaming table should stay pruning-capable like any other:
    // sidecars seal with the epoch in ONE rename
    epochFenced(spark, dir, epochId)(commitNew(spark, dir)(
      stageFrame(spark, dir, df, Seal(statsCols, bloomCols,
        epochs = Seq(epochId)))))

  /** The exactly-once fence shared by [[commitWithEpoch]] and
    * [[appendWithEpoch]]: `Left` when the epoch is already published;
    * otherwise crashed-attempt recovery — an unpublished v > head
    * carrying THIS epoch is our own prior attempt that died
    * between slot rename and pointer publish, its data complete, so it
    * ROLLS FORWARD instead of duplicating into a fresh slot (which
    * would leave the orphan inside keepLast as time-travel history
    * serving the same epoch twice); a double crash can leave several
    * same-epoch orphans — the oldest publishes, the rest are
    * reclaimed. With no orphan, `commitNew` commits the batch. */
  private def epochFenced(spark: SparkSession, dir: String, epochId: Long)(
      commitNew: => Long): Either[String, Long] = {
    require(epochId >= 0, s"epoch ids are non-negative, got $epochId")
    val f = fs(spark, dir)
    val head = latestVersion(spark, dir)
    val versions = Root.of(f, dir).versions.keys.toSeq
    newestMarked(f, dir, versions, head) match {
      case Some((v, ms)) if ms.contains(epochId) =>
        Left(s"epoch $epochId already published as v=$v")
      case _ =>
        versions.filter(v => v > head &&
          epochsOf(f, dir, v).contains(epochId)).sorted match {
          case v +: rest =>
            rest.foreach { o =>
              f.delete(new Path(dir, s"v=$o"), true)
              retireClaim(f, dir, o)
            }
            publish(spark, dir, v)
            retireClaim(f, dir, v)
            Right(v)
          case _ => Right(commitNew)
        }
    }
  }

  /** The newest PUBLISHED version carrying any epoch, with its epoch
    * set — the fence [[commitWithEpoch]] checks and
    * the offset [[mirrorAppends]] resumes from. */
  private def newestMarked(f: FileSystem, dir: String,
      versions: Seq[Long], head: Long): Option[(Long, Set[Long])] =
    versions.filter(_ <= head).sorted.reverseIterator
      .map(v => (v, epochsOf(f, dir, v)))
      .collectFirst { case (v, ms) if ms.nonEmpty => (v, ms) }

  /** The highest epoch id the table's fence records (None when no
    * published version carries an epoch) — a consumer's durable
    * offset: for an epoch-fenced table the fence IS the progress
    * marker, no separate offsets file to keep transactional with the
    * data. */
  private def lastEpoch(spark: SparkSession, dir: String)
      : Option[Long] = {
    val f = fs(spark, dir)
    val head = latestVersion(spark, dir)
    newestMarked(f, dir, Root.of(f, dir).versions.keys.toSeq, head)
      .map(_._2.max)
  }

  /** Exactly-once change-feed consumption: mirror every source
    * version the destination has not seen yet into the destination
    * as epoch-fenced commits, `transform` applied per batch. The
    * DESTINATION'S OWN EPOCH FENCE is the consumer offset (epoch id =
    * source version), so progress and data commit in the same atomic
    * slot rename — there is no offsets file that can drift from the
    * table, and every crash point replays safely:
    *  - die before a batch's commit → the fence still names the
    *    previous version; the rerun re-reads and re-commits it;
    *  - die between the slot rename and the pointer publish → the
    *    rerun's [[commitWithEpoch]] finds the complete orphan
    *    carrying the epoch and ROLLS IT FORWARD;
    *  - die after publish → the fence refuses the replayed epoch
    *    (`Left`) and the loop moves to the next version.
    * Only main-line source versions mirror ([[mainHistory]]: a crashed
    * orphan inside the range is not main's history), and they must
    * still exist — a vacuumed gap throws loudly (the
    * [[readAppendsSince]] contract: a silent hole is data loss).
    * Batches are conformed to the source's LATEST schema before
    * `transform` (the evolution contract), so a consumer written
    * against the current shape replays old history uniformly. The
    * destination belongs to this consumer (single-writer discipline,
    * like any epoch-fenced table). Returns the destination versions
    * committed this run.
    *
    * This is the Kafka-consumer/Delta-CDF pattern over the snapshot
    * store: under `versionedSink` each source version is one
    * micro-batch of appends, so mirroring version-by-version IS
    * mirroring the stream — downstream tables (a filtered copy, a
    * conformed silver table) stay exactly-once through arbitrary
    * crash/retry, at any scale the underlying commits handle.
    */
  def mirrorAppends(spark: SparkSession, srcDir: String, dstDir: String,
      transform: DataFrame => DataFrame = identity,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Seq[Long] = {
    val from = lastEpoch(spark, dstDir).getOrElse(0L)
    val to = latestVersion(spark, srcDir)
    if (to <= from) return Seq.empty
    val versions = mainHistory(spark, srcDir, from, to)
    val target = tableSchema(spark, srcDir)
    versions.flatMap { v =>
      val batch = transform(conform(read(spark, srcDir, v), target))
      commitWithEpoch(spark, batch, dstDir, epochId = v,
        statsCols = statsCols, bloomCols = bloomCols) match {
        case Right(nv) => Some(nv)
        case Left(_) => None // already mirrored by a prior (crashed) run
      }
    }
  }

  /** [[commit]] + a per-file min/max stats manifest ([[FileStats]]):
    * the staged files are scanned once (stats columns only) and
    * `_stats.json` lands INSIDE the stage before the atomic slot
    * rename, so a published version and its manifest are inseparable
    * — a reader can never resolve a version whose stats are missing
    * or half-written. `partitionByCols` (optional) forwards to the
    * parquet writer so layouts that want a deterministic
    * file-per-cluster shape (ZOrder bucket dirs) get it here.
    * Point-lookup sidecars ([[BloomStats]], `bloomCols`) seal by the
    * same rename — min/max serves clustered ranges, blooms serve
    * equality probes on any other column.
    * Filtered [[table]] reads prune through it — at 100 TB,
    * manifest-based file skipping is the single biggest scan lever
    * this store has:
    * the driver reads one sidecar instead of opening 100k parquet
    * footers, and a clustered layout turns a selective range
    * predicate into reading a handful of files.
    */
  def commitWithStats(spark: SparkSession, df: DataFrame, dir: String,
      statsCols: Seq[String],
      partitionByCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long =
    commitNew(spark, dir)(stageFrame(spark, dir, df,
      Seal(statsCols, bloomCols), partitionByCols))

  /** APPEND as a snapshot commit — what SQL `INSERT INTO` runs: the
    * next version = the current version's files (byte-copied through,
    * names preserved, stats and bloom entries SPLICED — untouched
    * files are never re-scanned) plus the new rows' files (scanned
    * once for their sidecar entries). The input is conformed to the
    * table schema (missing columns become typed NULLs; EXTRA columns
    * are refused — evolving the schema is a full commit's job);
    * partitioned layouts route new rows through the same
    * `partitionBy`. At 100 TB the cost is the delta's write plus a
    * metadata-speed copy of existing files — never a rescan of the
    * table. On an empty table this is just [[commit]]; an append of
    * no rows onto a table publishes nothing and returns the head.
    * Epochs carry forward.
    *
    * Publishes under the Rebase policy: an append COMMUTES with any
    * concurrent commit (it rewrites nothing — its carry is re-staged
    * against whatever the new head holds), so a lost race always
    * re-stages and retries; the version's provenance is op `append`
    * with an empty touched set, so concurrent DML statements validate
    * it as disjoint and retry instead of aborting. */
  def appendVersion(spark: SparkSession, df: DataFrame, dir: String,
      maxRetries: Int = 3, publishWaitMs: Long = 30000L): Long =
    appendEpoch(spark, df, dir, None, Seal(), maxRetries, publishWaitMs)

  /** [[appendVersion]], epoch-marked when `epoch` is set; `first`
    * seals the commit of an EMPTY table (appends inherit the table's
    * sidecars by splicing). */
  private def appendEpoch(spark: SparkSession, df: DataFrame,
      dir: String, epoch: Option[Long], first: Seal, maxRetries: Int,
      publishWaitMs: Long): Long = {
    val f = fs(spark, dir)
    commitStaged(spark, dir, Rebase(maxRetries, publishWaitMs)) { h =>
      if (h == 0L) Right(Staged(stageFrame(spark, dir, df,
        first.copy(epochs = epoch.toSeq)), ()))
      else stageAppend(spark, f, dir, h, df, epoch)
        .map(Staged(_, ())).toRight(())
    }._1
  }

  /** Versioned OVERWRITE — what SQL `INSERT OVERWRITE` runs: replace
    * the HEAD (old versions stay time-travelable) while carrying the
    * table's sidecar configuration forward — statsCols and bloom
    * columns of the head's home versions (an MoR head's version dir
    * carries no manifests of its own), and the partition layout — so
    * an overwrite never silently strips a table of its pruning. A lost
    * race re-stages and retries (replace-the-head semantics hold
    * against any interleaving). The record carries NO provenance: a
    * concurrent DML statement racing an overwrite must abort (its base
    * rows were replaced wholesale), which is exactly how
    * validateIntervening treats a provenance-less version. */
  def overwriteVersion(spark: SparkSession, df: DataFrame, dir: String,
      maxRetries: Int = 3, publishWaitMs: Long = 30000L): Long = {
    val f = fs(spark, dir)
    // an overwrite may CHANGE the schema — carry only the sidecar
    // columns the new data still has (root segment for nested
    // manifest paths), or the manifest write would fail to resolve
    def inNewSchema(c: String): Boolean =
      df.columns.exists(_.equalsIgnoreCase(c.takeWhile(_ != '.')))
    commitStaged(spark, dir, Rebase(maxRetries, publishWaitMs)) { h =>
      if (h == 0L) Right(Staged(stageFrame(spark, dir, df), ()))
      else {
        val phys = MergeOnRead.physicalFiles(f, dir, h)
        val (statsCols, bloomCols) = inheritedSidecars(spark, f,
          phys.map(_._1).distinct.sorted.map(x => s"$dir/v=$x"))
        // an overwrite to EMPTY keeps one schema-carrying file — and
        // its manifests, so the table stays stats-tracked through
        // INSERT OVERWRITE ... WHERE false like any other statement
        val st = stage(spark, dir)(writeFrame(df, _,
          pcolsOf(phys.map(_._2)), rebalance = true, keepSchema = true))
        Right(Staged(seal(spark, dir, st, Seal(
          statsCols.filter(inNewSchema), bloomCols.filter(inNewSchema))),
          ()))
      }
    }._1
  }

  /** The sidecar configuration a rewrite of `homes` inherits: the
    * UNION of the stats columns and the bloom columns those version
    * directories track. */
  private[operators] def inheritedSidecars(spark: SparkSession,
      f: FileSystem, homes: Seq[String]): (Seq[String], Seq[String]) = {
    val dirs = homes.map(h => h -> VersionDir.of(f, new Path(h)))
    (dirs.collect { case (h, d) if d.hasStats =>
        FileStats.readManifest(spark, h).flatMap(_.cols.keys) }
      .flatten.distinct.sorted,
      dirs.flatMap(_._2.bloomCols).distinct.sorted)
  }

  /** The stats manifest and bloom sidecars of version directory
    * `vDir` (empty when it has none) — the one sidecar loader: table
    * reads, the planner rule and DML admission all load through it,
    * once per statement. A sidecar that fails to parse throws. */
  private[graft] def sidecarsOf(spark: SparkSession, vDir: String)
      : FileStats.Sidecars = {
    val d = VersionDir.of(fs(spark, vDir), new Path(vDir))
    (if (d.hasStats) FileStats.readManifest(spark, vDir) else Seq.empty,
     d.bloomCols.map(c => c -> BloomStats.readManifest(spark, vDir, c))
       .toMap)
  }

  /** The [[Seal]] of a copy-on-write statement on version `v` whose
    * base sidecars are `sidecars` and read schema `schema`: the new
    * files are scanned for every column the base tracks, the `carried`
    * files are byte-copied through (names preserved) with their
    * entries spliced, epochs and ZORDER columns carry forward, the
    * schema is kept, and the provenance records (v, op, touched). */
  private[operators] def cowSeal(dir: String, v: Long,
      sidecars: FileStats.Sidecars,
      schema: org.apache.spark.sql.types.StructType, carried: Seq[String],
      op: String, touched: Seq[String]): Seal = {
    val vDir = s"$dir/v=$v"
    val (stats, blooms) = sidecars
    val keep = carried.toSet
    Seal(statsCols = stats.flatMap(_.cols.keys).distinct.sorted,
      bloomCols = blooms.keys.toSeq.sorted,
      keptStats = stats.filter(e => keep(e.relPath)),
      keptBlooms = blooms.map { case (c, es) =>
        c -> es.filter(e => keep(e.relPath)) },
      carry = carried.map(r => (new Path(s"$vDir/$r"), r)),
      base = Some(new Path(vDir)),
      dml = Some(Provenance(v, op, touched)),
      schema = Some(schema))
  }

  /** Stage (but do NOT commit) the append of `df` onto version `v`:
    * the delta's files staged (partition layout preserved), existing
    * files carried — byte-copied on a plain head, by reference on an
    * MoR head — sidecars spliced, epochs handled, and provenance op
    * `append` (empty touched set) sealed in so concurrent DML
    * validates an interleaved append as disjoint. An EPOCH-fenced
    * append records only ITS epoch (the commitWithEpoch convention —
    * the engine can only ever replay the newest epoch, and carrying
    * the whole history would grow a long-lived streaming sink's
    * record by one id per commit); a plain append carries epochs
    * forward so the fence survives interleaved maintenance. None for
    * a plain append of no rows: its stage is deleted and nothing is
    * carried (an epoch-fenced one still publishes its epoch). */
  private def stageAppend(spark: SparkSession,
      f: FileSystem, dir: String, v: Long,
      df: DataFrame, epoch: Option[Long]): Option[Path] = {
    import org.apache.spark.sql.functions.{count, lit}
    val vDir = s"$dir/v=$v"
    val target = read(spark, dir, v).schema
    val extra = df.columns.toSet -- target.fieldNames.toSet
    require(extra.isEmpty,
      s"appendVersion: columns not in the table schema: " +
        s"${extra.toSeq.sorted.mkString(",")} — evolve the schema " +
        "with a full commit first")
    val phys = MergeOnRead.physicalFiles(f, dir, v)
    // the delta's row count rides its stage write
    val obs = new org.apache.spark.sql.Observation()
    val st = stage(spark, dir)(writeFrame(conform(df, target)
      .observe(obs, count(lit(1)).as("n")), _,
      pcolsOf(phys.map(_._2)), rebalance = true))
    if (epoch.isEmpty && stagedRows(spark, obs, st) == 0L) {
      f.delete(st, true)
      return None
    }
    val s =
      if (MergeOnRead.isMorVersion(spark, dir, v))
        MergeOnRead.carrySeal(f, dir, v).copy(
          dml = Some(Provenance(v, "append", Nil)), schema = Some(target))
      else cowSeal(dir, v, sidecarsOf(spark, vDir), target,
        phys.map(_._2), "append", Nil)
    Some(seal(spark, dir, st, s.copy(
      base = if (epoch.isEmpty) Some(new Path(vDir)) else None,
      epochs = epoch.toSeq)))
  }

  /** The rows a stage write observed as `n` through `obs` — or, on
    * Spark's empty-observation race ([[observedOrNone]]), the row
    * counts of the stage's parquet footers, read on the driver: no
    * Spark job either way. */
  private def stagedRows(spark: SparkSession,
      obs: org.apache.spark.sql.Observation, stage: Path): Long =
    observedOrNone(obs).map(_("n").asInstanceOf[Long]).getOrElse {
      val conf = spark.sparkContext.hadoopConfiguration
      val f = stage.getFileSystem(conf)
      listDataRel(f, stage).map { case (rel, _) =>
        org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf,
          new Path(stage, rel),
          org.apache.parquet.format.converter.ParquetMetadataConverter
            .NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
      }.sum
    }

  /** [[appendVersion]] with the epoch fence — the streaming-sink
    * write primitive behind `writeStream.format("snapshot")`: each
    * micro-batch APPENDS to the table (the Delta streaming-sink
    * semantics — the destination is the cumulative table, unlike
    * [[commitWithEpoch]]'s one-version-per-batch log shape). An
    * already-published epoch no-ops (`Left`) — the exactly-once
    * replay contract; a crashed attempt that died between slot
    * rename and pointer publish rolls forward. `statsCols`/
    * `bloomCols` apply only to the FIRST commit of an empty store
    * (appends inherit the table's sidecars by splicing). */
  def appendWithEpoch(spark: SparkSession, df: DataFrame, dir: String,
      epochId: Long, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Either[String, Long] =
    epochFenced(spark, dir, epochId)(appendEpoch(spark, df, dir,
      Some(epochId), Seal(statsCols, bloomCols), 3, 30000L))

  /** The data files of a version directory, recursively, as
    * (relative path, bytes) — `_`-prefixed sidecars and hidden files
    * excluded. The one directory walk of the store: DML routing,
    * compaction, MoR accounting and the version log all list through
    * it. */
  private[operators] def listDataRel(f: FileSystem,
      dir: Path): Seq[(String, Long)] = {
    val root = f.makeQualified(dir).toUri
    def walk(p: Path): Seq[(String, Long)] =
      f.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (s.isDirectory) walk(s.getPath)
        else Seq((root.relativize(s.getPath.toUri).getPath, s.getLen))
      }
    walk(dir)
  }

  /** Partition column names, in nesting order, recovered from data
    * files' relative paths (empty for flat layouts). */
  private[operators] def pcolsOf(rels: Seq[String]): Seq[String] =
    rels.headOption.toSeq.flatMap(_.split("/").dropRight(1).toSeq)
      .map(seg => seg.substring(0, math.max(seg.indexOf('='), 0)))
      .filter(_.nonEmpty)

  /** A file's partition values as synthetic point stats
    * (min = max = the directory-encoded value): lets the SAME
    * [[FileStats.prune]] machinery decide partition pruning. The Hive
    * null sentinel and escaped values (`%xx`) parse to None — kept
    * conservatively. */
  private[operators] def partStats(rel: String)
      : Map[String, Option[(String, String)]] =
    rel.split("/").dropRight(1).toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else {
        val c = seg.substring(0, i)
        val value = seg.substring(i + 1)
        if (value == "__HIVE_DEFAULT_PARTITION__" ||
            value.contains("%")) Some(c -> None)
        else Some(c -> Some((value, value)))
      }
    }.toMap

  /** Publish `v` only if the head is still `expected` — the guard
    * that keeps a Rebase/Abort committer from moving the pointer
    * BACKWARDS over a Replace committer (which allocates the next FREE
    * slot, skipping live claims, so it can land ABOVE a
    * claimed-but-unpublished slot and publish first). A residual
    * check-to-rename window of one metadata read remains against such
    * writers; head-bound writers among themselves are fully
    * serialized by the slot claims. */
  private[operators] def publishIfHead(spark: SparkSession,
      dir: String, expected: Long, v: Long): Boolean = {
    if (latestVersion(spark, dir) != expected) false
    else { publish(spark, dir, v); true }
  }

  // ---- the read schema ------------------------------------------------

  /** The read schema version directory `vDir` recorded when it was
    * sealed; None for a version with no record (a version planted by
    * hand) or no data file of its own. */
  private[operators] def schemaOf(spark: SparkSession, vDir: String)
      : Option[org.apache.spark.sql.types.StructType] =
    VersionDir.of(fs(spark, vDir), new Path(vDir)).record.schema

  /** The schema `spark.read.parquet(dir)` infers when `dir` holds the
    * data files `rels` (paths relative to `dir`), with no Spark job:
    * the data columns from the footer of the file Spark's own
    * inference opens (the first by path), read on the driver; the
    * partition columns typed from the directory names by the file
    * index. None when `rels` is empty. */
  private def inferSchema(spark: SparkSession, dir: Path, rels: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    rels.sorted.headOption.map { rel =>
      val file = new Path(dir, rel)
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark.sparkContext.hadoopConfiguration, file,
        org.apache.parquet.format.converter.ParquetMetadataConverter
          .SKIP_ROW_GROUPS)
      import org.apache.spark.sql.execution.datasources.parquet._
      val data = ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(file, footer),
        new ParquetToSparkSchemaConverter(
          org.apache.spark.sql.internal.SQLConf.get))
      spark.read.schema(data).parquet(dir.toString).schema
    }

  /** THE reader of a version's files: the data files `rels` (paths
    * relative to `vDir`; default: the whole version directory) under
    * `basePath` `vDir`, typed by the schema in the version's record —
    * so no read of a recorded version starts a schema-inference Spark
    * job. A version without a record is read by inference. */
  private[operators] def readFileSet(spark: SparkSession, vDir: String,
      rels: Seq[String] = Nil): DataFrame =
    schemaOf(spark, vDir).fold(spark.read)(spark.read.schema(_))
      .option("basePath", vDir)
      .parquet((if (rels.isEmpty) Seq(vDir)
        else rels.map(r => s"$vDir/$r")): _*)

  // ---- schema evolution ---------------------------------------------
  // Versions are whole-table snapshots, so each version carries its
  // own (internally consistent) schema — but add/drop a column
  // between commits and readers mixing versions (time travel joins,
  // timeline unions) saw raw mixed schemas with no contract. The
  // contract here is the standard lakehouse one: THE table schema is
  // the LATEST committed version's schema, and any version can be
  // served CONFORMED to it — added columns materialize as typed NULLs
  // (or caller-supplied defaults), dropped columns are projected
  // away, matching columns cast when the type widened. A rename has
  // no tracked identity (it is a drop + add, same as Delta without
  // column mapping); at 100 TB add-column is a weekly event and costs
  // O(1) here — no version rewrite, conformance is a projection.

  /** Project/cast `df` onto `target`: columns matched BY NAME
    * (case-sensitive); missing columns become `defaults(name)` or a
    * typed NULL; extra columns drop; present columns cast to the
    * target type (Spark's cast — widening is safe, a narrowing or
    * incompatible cast fails at analysis like any other). */
  def conform(df: DataFrame, target: org.apache.spark.sql.types.StructType,
      defaults: Map[String, org.apache.spark.sql.Column] = Map.empty)
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val present = df.columns.toSet
    val cols = target.fields.toSeq.map { fld =>
      if (present(fld.name)) col(fld.name).cast(fld.dataType).as(fld.name)
      else defaults.get(fld.name)
        .map(_.cast(fld.dataType).as(fld.name))
        .getOrElse(lit(null).cast(fld.dataType).as(fld.name))
    }
    df.select(cols: _*)
  }

  /** The table's CURRENT schema — the latest committed version's. */
  def tableSchema(spark: SparkSession,
      dir: String): org.apache.spark.sql.types.StructType =
    read(spark, dir).schema

  /** Time travel under schema evolution: read `version` conformed to
    * the latest committed schema, so every version of the table—
    * whatever columns it was written with — presents the same shape.
    * `defaults` fills columns added since `version` was written
    * (add-column-with-default); absent ones are typed NULLs. */
  def readConformed(spark: SparkSession, dir: String,
      version: Long = -1L,
      defaults: Map[String, org.apache.spark.sql.Column] = Map.empty)
      : DataFrame =
    // table() not read(): conformed time travel keeps manifest
    // pruning (SimplifyCasts erases the no-op casts, so unchanged
    // columns still reach the stats index as bare attributes)
    conform(table(spark, dir, version), tableSchema(spark, dir),
      defaults)

  /** Point `_latest` at `v` via write-temp-then-rename. The replace
    * is a SINGLE atomic overwrite rename: there is never a window
    * where the pointer is absent, so a concurrent `latestVersion()`
    * always observes either the old or the new version — never 0.
    * On HDFS that is `FileContext.rename(OVERWRITE)` (atomic rename2;
    * object stores substitute a conditional put). On the LOCAL FS the
    * FileContext default is check-delete-rename — which HAS an
    * absence window (it lost a two-writer race in DmlConflictSpec
    * about once in three runs) — so the local branch uses POSIX
    * `rename(2)` via java.nio ATOMIC_MOVE instead, with the pointer's
    * checksum sidecars DELETED (ChecksumFileSystem falls back to a
    * raw read): every crash point leaves either the old or the new
    * pointer, both readable — never absence, never a stale-crc
    * mismatch. */
  private def publish(spark: SparkSession, dir: String, v: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir))
    val tmp = f.makeQualified(new Path(dir, s"_latest.tmp.$v"))
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes("US-ASCII")) finally out.close()
    val dst = f.makeQualified(pointer(dir))
    if (f.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem]) {
      // LOCAL FS: FileContext's OVERWRITE rename is check-delete-
      // rename (AbstractFileSystem.renameInternal default) — a
      // concurrent latestVersion() could observe the pointer ABSENT
      // and report an empty table. POSIX rename(2) replaces the
      // target atomically. The checksum sidecars are DELETED, not
      // moved: a crash between a crc move and the data move would
      // leave new-crc-against-old-bytes — a PERMANENT
      // ChecksumException that bricks every read until manual
      // repair. With no crc at all, ChecksumFileSystem falls back to
      // a raw read; a crash at any point here leaves either the old
      // pointer or the new one, both readable.
      def nio(p: Path) = java.nio.file.Paths.get(p.toUri.getPath)
      def crc(p: Path) =
        new Path(p.getParent, s".${p.getName}.crc")
      java.nio.file.Files.deleteIfExists(nio(crc(tmp)))
      java.nio.file.Files.deleteIfExists(nio(crc(dst)))
      java.nio.file.Files.move(nio(tmp), nio(dst),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      // HDFS (and object-store FSs with atomic rename2): a single
      // atomic overwrite rename — never an absence window
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        tmp.toUri, conf)
      fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    // record the FIRST publication instant (create-exclusive: an
    // existing record is never rewritten) — the lineage
    // fact [[versionAt]] answers timestamp time travel from. Best
    // effort: a failure here degrades timestamp travel, never the
    // publish itself.
    try {
      val out = f.create(new Path(dir, s"_pubtime.$v"), false)
      try out.write(System.currentTimeMillis().toString
        .getBytes("US-ASCII"))
      finally out.close()
    } catch { case _: java.io.IOException => () }
  }

  /** One version-log row for [[history]]. */
  final case class VersionInfo(version: Long, published: Boolean,
      nDataFiles: Long, bytes: Long, rows: Option[Long],
      epochs: Seq[Long], hasStats: Boolean, bloomCols: Seq[String])

  /** DESCRIBE HISTORY: the version log as driver-side metadata — one
    * row per existing `v=` directory (`published` marks main's
    * history up to the head, [[mainHistory]]'s rule; crashed orphans
    * stay visible for forensics), row counts from the stats manifest
    * when one exists (never a data scan), epochs and sidecar
    * presence. Pure metadata reads: O(versions) directory listings. */
  def history(spark: SparkSession, dir: String): Seq[VersionInfo] = {
    val f = fs(spark, dir)
    val head = latestVersion(spark, dir)
    val root = Root.of(f, dir)
    root.versions.keys.toSeq.sorted.map { v =>
      val vPath = new Path(dir, s"v=$v")
      val meta = VersionDir.of(f, vPath)
      // partitioned layouts keep their files in `col=value/` subdirs
      val data = listDataRel(f, vPath)
      val rows =
        if (meta.hasStats)
          Some(FileStats.readManifest(spark, s"$dir/v=$v").map(_.rows).sum)
        else None
      VersionInfo(v, published = root.published(v, head),
        data.size.toLong, data.map(_._2).sum, rows,
        meta.record.epochs, meta.hasStats, meta.bloomCols)
    }
  }

  /** Append-log replay for epoch-fenced streaming tables: under
    * [[commitWithEpoch]]/`versionedSink` each version holds exactly
    * ONE micro-batch's rows, so the ranged union of versions
    * `(sinceVersion, endVersion]` IS the change feed — the Kafka-like
    * replay a downstream consumer needs to catch up or backfill. Each
    * batch is CONFORMED to the latest schema (the evolution contract:
    * a stream that added a column mid-history replays uniformly) and
    * tagged with its `_version`. Only main-line versions replay
    * ([[mainHistory]]). Vacuumed gaps in the range throw — a silent
    * hole in a replay is data loss, not a degraded read; retention
    * for consumers is vacuum's `keepLast`. */
  def readAppendsSince(spark: SparkSession, dir: String,
      sinceVersion: Long, endVersion: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val head =
      if (endVersion > 0) endVersion else latestVersion(spark, dir)
    require(sinceVersion >= 0, s"negative sinceVersion $sinceVersion")
    val want = mainHistory(spark, dir, sinceVersion, head)
    require(want.nonEmpty, s"empty replay range ($sinceVersion, $head]")
    val target = tableSchema(spark, dir)
    want.map { v =>
      conform(read(spark, dir, v), target)
        .withColumn("_version", lit(v))
    }.reduce(_ unionByName _)
  }

  /** Read a specific version (default: the committed latest).
    * Merge-on-read versions ([[MergeOnRead.deleteWhere]]) are assembled
    * transparently: referenced files resolved, tombstones applied. */
  def read(spark: SparkSession, dir: String,
      version: Long = -1L): DataFrame = {
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version")
    if (MergeOnRead.isMorVersion(spark, dir, v))
      MergeOnRead.readAssembled(spark, dir, v, lineage = false)
    else readFileSet(spark, s"$dir/v=$v")
  }

  /** [[read]] with PLANNER-INTEGRATED file skipping: when the version
    * carries a `_stats.json` manifest, the returned frame's file index
    * consults it at listing time, so ordinary `.filter(...)` calls
    * skip files whose min/max or bloom sidecars provably exclude the
    * predicate ([[graft.plans.StatsFileIndex]]; the census of the
    * decision is its `lastPrune`).
    * Sessions built with GraftExtensions get the same behavior on a
    * bare `spark.read.parquet(versionDir)` via the injected
    * StatsPruneRule; this entry point works without the extension.
    * Falls back to a plain read when the version has no manifest. */
  def table(spark: SparkSession, dir: String,
      version: Long = -1L): DataFrame = {
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version")
    val vDir = s"$dir/v=$v"
    val f = fs(spark, dir)
    // an MoR version has no manifest by design (stale counts would
    // poison the metadata-aggregate rewrite) — serve the assembly;
    // MergeOnRead.fold restores the stats-indexed path
    if (MergeOnRead.isMorVersion(spark, dir, v))
      return MergeOnRead.readAssembled(spark, dir, v, lineage = false)
    val plain = readFileSet(spark, vDir)
    val (stats, blooms) = sidecarsOf(spark, vDir)
    if (stats.isEmpty) plain
    else graft.plans.StatsFileIndex.attach(spark, plain,
      f.makeQualified(new Path(vDir)), stats, blooms)
  }

  /** Time travel by TIMESTAMP: the newest version FIRST PUBLISHED at
    * or before `epochMillis` — "the table as the training run saw it
    * at 09:00". Publication times are EXPLICIT records
    * (`_pubtime.$v`, written by [[publish]] with create-exclusive
    * semantics, so a record is never rewritten): crashed orphans and
    * abandoned stages never receive one and can never be served as
    * main-table history, and the recorded instant is the pointer move
    * itself — not a directory mtime, which is set at STAGE time and can
    * predate publication by however long the committer stalled.
    * Vacuumed history narrows the window loudly: a timestamp older
    * than the oldest retained publication throws rather than
    * silently serving a newer state. */
  def versionAt(spark: SparkSession, dir: String,
      epochMillis: Long): Long = {
    val f = fs(spark, dir)
    val head = latestVersion(spark, dir)
    require(head > 0, s"$dir has no committed version")
    val root = Root.of(f, dir)
    val stamped = root.pubs.toSeq.flatMap { case (v, s) =>
      if (v > head || !root.versions.contains(v)) None
      else scala.util.Try {
        val in = f.open(s.getPath)
        try (v, new String(org.apache.commons.io.IOUtils
          .toByteArray(in), "US-ASCII").trim.toLong)
        finally in.close()
      }.toOption
    }
    val eligible = stamped.filter(_._2 <= epochMillis)
    if (eligible.isEmpty) {
      val oldest = stamped.sortBy(_._2).headOption
      throw new IllegalArgumentException(
        s"no version published at or before timestamp $epochMillis " +
          s"in $dir — " + oldest.map { case (v, t) =>
            s"the oldest retained publication is v=$v (published $t); " +
              "earlier history may have been vacuumed"
          }.getOrElse(
            "no publication records (store predates versionAt?)"))
    }
    eligible.maxBy { case (v, t) => (t, v) }._1
  }
}
