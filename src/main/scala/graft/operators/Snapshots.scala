package graft.operators

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Versioned snapshot tables — the minimal transaction protocol a
  * parquet lake needs before a real table format arrives: every
  * commit writes a COMPLETE new version directory and then publishes
  * it by atomically replacing a tiny `_latest` pointer file. Readers
  * resolve the pointer first, so they only ever see fully-written
  * versions (a crashed writer leaves an orphan directory the vacuum
  * reclaims — never a torn table), and a published version is
  * immutable, which is exactly what makes time travel and rollback
  * trivial: both are pointer moves.
  *
  * This complements the Upsert family (which computes WHAT the next
  * version contains) and Compaction (which can rewrite a version's
  * files): at 100 TB the same protocol holds — the pointer is O(1)
  * regardless of table size, and the full-rewrite `commit` becomes a
  * manifest-reusing incremental commit under a real table format.
  *
  * Every writer commits through ONE pipeline — stage → seal → claim →
  * publish — described (with its policies and invariants) at
  * [[commitStaged]]. Layout: `dir/v=N/…parquet` + `dir/_latest`
  * (ASCII version number).
  */
object Snapshots {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def fs(spark: SparkSession, dir: String) =
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

  /** First unoccupied version slot — the Replace policy's claim
    * target: above the pointer, above every existing `v=` directory,
    * AND above every live `_claim.N` marker — a crashed orphan, a
    * branch head, or a committer that has claimed-but-not-yet-renamed
    * may own slots past the pointer, and `latest+1` would silently
    * overwrite them (on the local FS a rename onto an occupied slot
    * MERGES instead of failing). Retired markers (`.stale-` suffix)
    * do not occupy a slot. */
  private def nextFreeVersion(spark: SparkSession, dir: String): Long = {
    val f = fs(spark, dir)
    val d = new Path(dir)
    val occupied = if (!f.exists(d)) Seq.empty[Long]
      else f.listStatus(d).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (s.isDirectory && n.startsWith("v="))
          Some(n.stripPrefix("v=").toLong)
        else if (s.isFile && n.matches("_claim\\.\\d+"))
          Some(n.stripPrefix("_claim.").toLong)
        else None
      }
    (latestVersion(spark, dir) +: occupied).max + 1
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
  private def tryClaimSlot(f: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Long): Boolean =
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
  private def retireClaim(f: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Long): Unit =
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
  private def occupySlot(f: org.apache.hadoop.fs.FileSystem,
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
    *     INSIDE the stage: the stats manifest, bloom sidecars (fresh,
    *     or spliced with the entries of byte-carried files), `_epoch.N`,
    *     `_dml.json` provenance, and the `_epoch.*` / `_zcluster.*`
    *     markers carried from the base version.
    *  3. CLAIM — an exclusive-create `_claim.N` marker reserves slot N
    *     ([[tryClaimSlot]]), then the stage is renamed into `v=N`
    *     ([[occupySlot]]).
    *  4. PUBLISH — the `_latest` pointer is replaced atomically
    *     ([[publish]]).
    *
    * Claim-and-publish ([[commitStaged]]) runs one of three POLICIES
    * for a head that moved while the statement staged:
    *  - [[Replace]] — plain, epoch, WAP, restore and branch commits:
    *    claim the next FREE slot and publish whatever happened
    *    meanwhile (a branch commit moves its ref instead, and retires
    *    its claim — the version is settled, and a live claim on a
    *    slot main never publishes would wedge every head-bound writer).
    *  - [[Rebase]] — every row-level statement (DELETE, UPDATE, MERGE,
    *    INSERT, OVERWRITE; copy-on-write and merge-on-read): claim the
    *    slot above the head it staged from; on a moved head withdraw,
    *    run the statement's validation against the new head (it throws
    *    to abort) and re-stage there, up to `maxRetries` times.
    *  - [[Abort]] — every maintenance rewrite (fold, purge, compact,
    *    ZORDER) and commitCAS: like Rebase, but a moved head withdraws
    *    and throws ConcurrentModificationException — a rewrite built
    *    from an old head would silently revert the commit that moved
    *    it, and maintenance is always safe to re-run.
    *
    * Invariants:
    *  - `v=N` only ever comes into existence through the
    *    all-or-nothing rename of a COMPLETE, sealed stage — never via
    *    in-place writes — which is what lets crashed-winner recovery
    *    treat "v=N exists" as "complete, roll it forward";
    *  - a Rebase or Abort publish never moves the pointer backwards:
    *    it publishes only while the head is still the one it staged
    *    from ([[publishIfHead]]);
    *  - a failure at any step leaves the table at its old version: the
    *    stage is deleted, a won claim retired, an occupied slot
    *    withdrawn.
    *
    * Layout: `dir/v=N/` versions, `dir/_latest` pointer,
    * `dir/_claim.N` slot claims, `dir/_staging/<uuid>` stages. */
  private sealed trait Policy
  private final case class Replace(ref: Option[Long => Unit] = None,
      maxAttempts: Int = 3) extends Policy
  private final case class Rebase(maxRetries: Int, waitMs: Long)
      extends Policy
  /** `exact`: claim slot `base + 1` and never wait (commitCAS). */
  private final case class Abort(op: String, base: Long,
      exact: Boolean = false) extends Policy

  /** A sealed stage, the statement's result, and (Rebase) the
    * validation run with the NEW head when another commit won. */
  private final case class Staged[T](stage: Path, result: T,
      validate: Long => Unit = (_: Long) => ())

  private val StagingDir = "_staging"

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
  private def stage(spark: SparkSession, dir: String)(
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
    * `keepSchema`: a version needs at least one data file (schema
    * inference has nothing to open otherwise), so a write that
    * produced none — a statement that emptied the table — adds one
    * schema-carrying zero-row file, unpartitioned (a dynamic-partition
    * write of an empty frame writes nothing). */
  private def writeFrame(df: DataFrame, stage: Path,
      pcols: Seq[String] = Nil, rebalance: Boolean = false,
      keepSchema: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.col
    val balanced =
      if (!rebalance) df
      else if (pcols.nonEmpty) df.hint("rebalance", pcols.map(col): _*)
      else df.hint("rebalance")
    val w = balanced.write.mode("overwrite")
    (if (pcols.nonEmpty) w.partitionBy(pcols: _*) else w)
      .parquet(stage.toString)
    if (keepSchema) {
      val f = stage.getFileSystem(
        df.sparkSession.sparkContext.hadoopConfiguration)
      if (listDataRel(f, f.makeQualified(stage))._1.isEmpty)
        df.limit(0).coalesce(1).write.mode("overwrite")
          .parquet(stage.toString)
    }
  }

  /** What [[seal]] writes into a stage. `statsCols`/`bloomCols` are
    * computed over the stage's own data files; `carry` (source file,
    * stage-relative name) is byte-copied in AFTER that scan, and its
    * existing entries `keptStats`/`keptBlooms` are spliced in (carried
    * files are never re-scanned). `markersFrom` is the base version
    * whose `_epoch.*`/`_zcluster.*` markers carry forward, `markers`
    * are fresh empty marker files, `dml` the statement's provenance
    * (base version, op, touched files). */
  private final case class Seal(statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      keptStats: Seq[FileStats.FileStat] = Nil,
      keptBlooms: Map[String, Seq[BloomStats.FileBloom]] = Map.empty,
      carry: Seq[(Path, String)] = Nil,
      markersFrom: Option[Path] = None,
      markers: Seq[String] = Nil,
      dml: Option[(Long, String, Seq[String])] = None)

  /** SEAL: write every sidecar of `s` into `stage` — the one place a
    * version's metadata is produced, sealed with its data by the slot
    * rename (a reader can never resolve a version whose manifest is
    * missing or half-written). A failure deletes the stage. */
  private def seal(spark: SparkSession, dir: String, stage: Path,
      s: Seal): Path = {
    val f = fs(spark, dir)
    try {
      val st = stage.toString
      // a statement that rewrote nothing new (every row deleted from
      // the rewritten files) keeps only the carried files' entries
      lazy val empty = listDataRel(f, f.makeQualified(stage))._1.isEmpty
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
      s.markersFrom.foreach(copyEpochMarkers(f, _, stage))
      s.markers.foreach(m => f.create(new Path(stage, m), true).close())
      s.dml.foreach { case (base, op, touched) =>
        writeDml(f, stage, base, op, touched)
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
  private def commitStaged[T](spark: SparkSession, dir: String,
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
              case Abort(op, base, _) =>
                throw new java.util.ConcurrentModificationException(
                  s"conflict: the head moved past v=$base (now v=$h2) " +
                    s"while $op was staging — nothing was published; " +
                    s"re-run $op on the new head")
              case _: Replace => // land always publishes a Replace
                throw new IllegalStateException("unreachable")
            }
        }
      }
    }
    attempt(0)
  }

  /** Commit one stage under a policy that never re-stages. */
  private def commitNew(spark: SparkSession, dir: String,
      policy: Policy = Replace())(st: => Path): Long =
    commitStaged(spark, dir, policy)(_ => Right(Staged(st, ())))._1

  /** Claim, occupy and publish `stage` under `policy`, `h` being the
    * head it was staged from. Some(version) once published; None when
    * another commit moved the head first (stage and claim already
    * withdrawn). Any failure withdraws everything and rethrows. */
  private def land(spark: SparkSession, dir: String, h: Long,
      stage: Path, policy: Policy): Option[Long] = {
    val f = fs(spark, dir)
    var slot = -1L
    var claimed = false
    var occupied = false
    def withdraw(): Unit = {
      if (occupied) {
        f.delete(new Path(dir, s"v=$slot"), true)
        morMemoInvalidate(f, dir, slot)
      } else f.delete(stage, true)
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
      case Replace(ref, maxAttempts) =>
        // squatted slots (pre-claim-era leftovers, local-FS claim
        // races) retry with the SAME stage — the Spark write ran once
        var attempt = 0
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
        ref match {
          case Some(move) =>
            retireClaim(f, dir, slot)
            claimed = false
            move(slot)
          case None => publish(spark, dir, slot)
        }
        Some(slot)
      case _ =>
        val (expected, waitMs, exact) = policy match {
          case Abort(_, base, e) => (base, if (e) 0L else 30000L, e)
          case Rebase(_, w) => (h, w, false)
          case _: Replace => throw new IllegalStateException("unreachable")
        }
        slot = if (exact) expected + 1 else slotAbove(f, dir, expected)
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
                s"${waitMs}ms — crashed committer? recover with " +
                "commitCAS claimGraceMs / vacuum")
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
    * with no live claim (a branch commit, a rolled-back version): no
    * writer will ever publish it, so waiting on it would wedge main.
    * A slot under a live claim is contested, never skipped — that is
    * what serializes head-bound writers on the same head. */
  private def slotAbove(f: org.apache.hadoop.fs.FileSystem, dir: String,
      h: Long): Long = {
    val d = new Path(dir)
    val names =
      if (!f.exists(d)) Set.empty[String]
      else f.listStatus(d).map(_.getPath.getName).toSet
    Iterator.iterate(h + 1)(_ + 1)
      .find(s => !names(s"v=$s") || names(s"_claim.$s")).get
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
  private def observedOrNone(obs: org.apache.spark.sql.Observation)
      : Option[Map[String, Any]] =
    scala.util.Try(obs.get).toOption.filter(_.nonEmpty)

  /** Write `df` as the next version and publish it atomically — the
    * Replace policy with no sidecars ([[commitWithStats]] with none).
    * Returns the new version number. */
  def commit(spark: SparkSession, df: DataFrame, dir: String): Long =
    commitWithStats(spark, df, dir, statsCols = Nil)

  /** Version numbers of every existing `v=` directory. */
  private def existingVersions(f: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[Long] = {
    val d = new Path(dir)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.collect {
      case s if s.isDirectory && s.getPath.getName.startsWith("v=") =>
        s.getPath.getName.stripPrefix("v=").toLong
    }
  }

  /** Epoch ids of the `_epoch.N` markers inside `v=$v` (empty when
    * the version directory is missing or unmarked). */
  private def epochMarkers(f: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Long): Set[Long] = {
    val d = new Path(dir, s"v=$v")
    if (!f.exists(d)) Set.empty
    else f.listStatus(d).toSeq.collect {
      case s if s.isFile && s.getPath.getName.startsWith("_epoch.") =>
        s.getPath.getName.stripPrefix("_epoch.").toLong
    }.toSet
  }

  /** Epoch-fenced commit — the exactly-once primitive a STREAMING
    * sink needs when batches are NOT idempotent merges (append logs,
    * aggregation deltas): each committed version carries its epoch id
    * as an `_epoch.N` marker INSIDE the version directory (sealed by
    * the same atomic slot rename as the data, so marker and bytes are
    * inseparable), and a re-delivered epoch — Structured Streaming
    * re-executes the last uncommitted micro-batch after a crash — is
    * detected and skipped with `Left`. Single writer per table
    * (plain-commit discipline); sequential epochs mean the only
    * possible duplicate is the LAST epoch-marked version.
    *
    * THE FENCE reads the newest PUBLISHED version that carries any
    * epoch marker — not just the head. The head probe alone was
    * broken by the store's own maintenance ops: `compactVersion`
    * publishes a new head, and although it now carries the source's
    * markers forward, a plain `commit`/`commitChecked` interleaved on
    * the same table does not — the fence must scan back to the
    * newest marked version rather than trust `v=head` specifically.
    * For a pure `versionedSink` table the newest marked version IS
    * the head (compaction preserves markers), so the scan is one
    * directory listing in the steady state.
    *
    * Crash matrix: die before the slot rename → nothing published,
    * replay commits normally; die between rename and pointer publish
    * → the orphan `v=N` is COMPLETE (slot renames are all-or-nothing)
    * and carries this epoch's marker, so the replay ROLLS IT FORWARD
    * (publishes the existing bytes instead of re-writing — the
    * previous behavior committed the replay into a fresh slot and
    * left the orphan as sub-head "history" that time travel served as
    * a duplicated epoch); die after publish → replay sees the marker
    * and skips.
    */
  def commitWithEpoch(spark: SparkSession, df: DataFrame, dir: String,
      epochId: Long, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Either[String, Long] =
    // a streaming table should stay pruning-capable like any other:
    // sidecars seal with the epoch marker in ONE rename
    epochFenced(spark, dir, epochId)(commitNew(spark, dir)(
      stageFrame(spark, dir, df, Seal(statsCols, bloomCols,
        markers = Seq(s"_epoch.$epochId")))))

  /** The exactly-once fence shared by [[commitWithEpoch]] and
    * [[appendWithEpoch]]: `Left` when the epoch is already published;
    * otherwise crashed-attempt recovery — an unpublished v > head
    * carrying THIS epoch's marker is our own prior attempt that died
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
    val versions = existingVersions(f, dir)
    newestMarked(f, dir, versions, head) match {
      case Some((v, ms)) if ms.contains(epochId) =>
        Left(s"epoch $epochId already published as v=$v")
      case _ =>
        versions.filter(v => v > head &&
          epochMarkers(f, dir, v).contains(epochId)).sorted match {
          case v +: rest =>
            rest.foreach { o =>
              f.delete(new Path(dir, s"v=$o"), true)
              morMemoInvalidate(f, dir, o)
              retireClaim(f, dir, o)
            }
            publish(spark, dir, v)
            retireClaim(f, dir, v)
            Right(v)
          case _ => Right(commitNew)
        }
    }
  }

  /** The newest PUBLISHED version carrying any `_epoch.*` marker,
    * with its marker set — the fence [[commitWithEpoch]] checks and
    * the offset [[mirrorAppends]] resumes from. */
  private def newestMarked(f: org.apache.hadoop.fs.FileSystem,
      dir: String, versions: Seq[Long], head: Long)
      : Option[(Long, Set[Long])] =
    versions.filter(_ <= head).sorted.reverseIterator
      .map(v => (v, epochMarkers(f, dir, v)))
      .collectFirst { case (v, ms) if ms.nonEmpty => (v, ms) }

  /** The highest epoch id the table's fence records (None when no
    * published version carries a marker) — a consumer's durable
    * offset: for an epoch-fenced table the fence IS the progress
    * marker, no separate offsets file to keep transactional with the
    * data. */
  def lastEpoch(spark: SparkSession, dir: String): Option[Long] = {
    val f = fs(spark, dir)
    val head = latestVersion(spark, dir)
    newestMarked(f, dir, existingVersions(f, dir), head).map(_._2.max)
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
    *    carrying the epoch marker and ROLLS IT FORWARD;
    *  - die after publish → the fence refuses the replayed epoch
    *    (`Left`) and the loop moves to the next version.
    * Source versions must still exist — a vacuumed gap throws loudly
    * (the [[readAppendsSince]] contract: a silent hole is data loss).
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
    val f = fs(spark, srcDir)
    val have = existingVersions(f, srcDir).toSet
    val missing = ((from + 1) to to).filterNot(have)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"mirror range ($from, $to] has vacuumed source versions: " +
          s"${missing.mkString(",")} — a silent hole would be data " +
          "loss; raise vacuum keepLast for log consumers")
    val target = tableSchema(spark, srcDir)
    ((from + 1) to to).flatMap { v =>
      val batch = transform(conform(read(spark, srcDir, v), target))
      commitWithEpoch(spark, batch, dstDir, epochId = v,
        statsCols = statsCols, bloomCols = bloomCols) match {
        case Right(nv) => Some(nv)
        case Left(_) => None // already mirrored by a prior (crashed) run
      }
    }
  }

  /** Recreate the source version's `_epoch.*` markers inside a
    * compaction stage: markers are empty fence files, and
    * [[Compaction.listDataFiles]] rightly skips `_`-prefixed entries
    * when binning — without this copy, compacting a
    * `versionedSink`-fed table silently DROPPED the exactly-once
    * fence and a crash-replay of the last epoch published a
    * duplicate version. `_zcluster.*` markers (the managed-bucket
    * provenance [[optimizeClustered]] writes) carry forward for the
    * same reason: a DML or compaction between two OPTIMIZE runs must
    * not erase the proof that the bucket column is store-managed, or
    * the next OPTIMIZE would refuse (or worse, a marker-less design
    * would silently drop user data that happens to share the name). */
  private def copyEpochMarkers(f: org.apache.hadoop.fs.FileSystem,
      srcVersionDir: Path, stage: Path): Unit =
    f.listStatus(srcVersionDir).toSeq
      .filter(s => s.isFile &&
        (s.getPath.getName.startsWith("_epoch.") ||
          s.getPath.getName.startsWith("_zcluster.")))
      .foreach { s =>
        f.create(new Path(stage, s.getPath.getName), true).close()
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
    * Readers prune via [[readPruned]] — at 100 TB, manifest-based
    * file skipping is the single biggest scan lever this store has:
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
    * table. On an empty table this is just [[commit]]. Epoch markers
    * carry forward.
    *
    * Publishes under the Rebase policy: an append COMMUTES with any
    * concurrent commit (it rewrites nothing — its carry is re-staged
    * against whatever the new head holds), so a lost race always
    * re-stages and retries; the version carries `_dml.json` op
    * `append` with an empty touched set, so concurrent DML statements
    * validate it as disjoint and retry instead of aborting. */
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
      Right(Staged(
        if (h == 0L) stageFrame(spark, dir, df,
          first.copy(markers = epoch.map(e => s"_epoch.$e").toSeq))
        else stageAppend(spark, f, dir, h, df, epoch), ()))
    }._1
  }

  /** Versioned OVERWRITE — what SQL `INSERT OVERWRITE` runs: replace
    * the HEAD (old versions stay time-travelable) while carrying the
    * table's sidecar configuration forward — statsCols and bloom
    * columns of the head's home versions (an MoR head's version dir
    * carries no manifests of its own), and the partition layout — so
    * an overwrite never silently strips a table of its pruning. A lost
    * race re-stages and retries (replace-the-head semantics hold
    * against any interleaving). NO `_dml.json` is written: a
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
        val phys = physicalFiles(spark, f, dir, h)
        val (statsCols, bloomCols) = inheritedSidecars(spark, f,
          phys.map(_._1).distinct.sorted.map(x => s"$dir/v=$x"))
        // an overwrite to EMPTY keeps one schema-carrying file — and
        // its manifests, so the table stays stats-tracked through
        // INSERT OVERWRITE ... WHERE false like any other statement
        val st = stage(spark, dir)(writeFrame(df, _, pcolsOf(phys),
          rebalance = true, keepSchema = true))
        Right(Staged(seal(spark, dir, st, Seal(
          statsCols.filter(inNewSchema), bloomCols.filter(inNewSchema))),
          ()))
      }
    }._1
  }

  /** The sidecar configuration a rewrite of `homes` inherits: the
    * UNION of the stats columns and the bloom columns those version
    * directories track. */
  private def inheritedSidecars(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem, homes: Seq[String])
      : (Seq[String], Seq[String]) =
    (homes.filter(h => f.exists(new Path(h, FileStats.ManifestName)))
      .flatMap(h => FileStats.readManifest(spark, h).flatMap(_.cols.keys))
      .distinct.sorted,
      homes.flatMap(h => bloomColsOf(f, h)).distinct.sorted)

  /** The stats manifest and bloom sidecars of version directory
    * `vDir` (empty when it has none) — read ONCE per statement. */
  private def sidecarsOf(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem, vDir: String)
      : (Seq[FileStats.FileStat], Map[String, Seq[BloomStats.FileBloom]]) =
    (if (f.exists(new Path(vDir, FileStats.ManifestName)))
       FileStats.readManifest(spark, vDir)
     else Seq.empty,
     bloomColsOf(f, vDir)
       .map(c => c -> BloomStats.readManifest(spark, vDir, c)).toMap)

  /** The [[Seal]] of a copy-on-write statement on version `v` whose
    * base sidecars are `sidecars`: the new files are scanned for every
    * column the base tracks, the `carried` files are byte-copied
    * through (names preserved) with their entries spliced, markers
    * carry forward, and the provenance records (v, op, touched). */
  private def cowSeal(dir: String, v: Long,
      sidecars: (Seq[FileStats.FileStat],
        Map[String, Seq[BloomStats.FileBloom]]),
      carried: Seq[String], op: String, touched: Seq[String]): Seal = {
    val vDir = s"$dir/v=$v"
    val (stats, blooms) = sidecars
    val keep = carried.toSet
    Seal(statsCols = stats.flatMap(_.cols.keys).distinct.sorted,
      bloomCols = blooms.keys.toSeq.sorted,
      keptStats = stats.filter(e => keep(e.relPath)),
      keptBlooms = blooms.map { case (c, es) =>
        c -> es.filter(e => keep(e.relPath)) },
      carry = carried.map(r => (new Path(s"$vDir/$r"), r)),
      markersFrom = Some(new Path(vDir)),
      dml = Some((v, op, touched)))
  }

  /** Stage (but do NOT commit) the append of `df` onto version `v`:
    * the delta's files staged (partition layout preserved), existing
    * files carried — byte-copied on a plain head, by reference on an
    * MoR head — sidecars spliced, epoch markers handled, and
    * `_dml.json` op `append` (empty touched set) sealed in so
    * concurrent DML validates an interleaved append as disjoint. An
    * EPOCH-fenced append writes only ITS marker (the commitWithEpoch
    * convention — the engine can only ever replay the newest epoch,
    * and carrying the whole history would make a long-lived streaming
    * sink O(batches) marker files per commit); a plain append carries
    * markers forward so the fence survives interleaved maintenance. */
  private def stageAppend(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem, dir: String, v: Long,
      df: DataFrame, epoch: Option[Long]): Path = {
    val vDir = s"$dir/v=$v"
    val target = tableSchema(spark, dir)
    val extra = df.columns.toSet -- target.fieldNames.toSet
    require(extra.isEmpty,
      s"appendVersion: columns not in the table schema: " +
        s"${extra.toSeq.sorted.mkString(",")} — evolve the schema " +
        "with a full commit first")
    val conformed = conform(df, target)
    val markersFrom = if (epoch.isEmpty) Some(new Path(vDir)) else None
    val markers = epoch.map(e => s"_epoch.$e").toSeq
    // an MoR head appends WITHOUT folding: new rows land as this
    // version's local files, every existing file carries by
    // reference, and the deletion vectors (keyed on physical homes,
    // which do not move) carry by reference too — still zero
    // data-byte movement
    if (isMorVersion(spark, dir, v)) {
      val phys = physicalFiles(spark, f, dir, v)
      val st = stage(spark, dir) { p =>
        writeFrame(conformed, p, pcolsOf(phys), rebalance = true)
        writeRefs(f, p, phys)
        writeDvLines(f, new Path(p, DvRefsName),
          carryDvLines(spark, f, dir, v))
      }
      return seal(spark, dir, st, Seal(markersFrom = markersFrom,
        markers = markers, dml = Some((v, "append", Nil))))
    }
    val (dataFiles, pcols) = listDataRel(f, f.makeQualified(new Path(vDir)))
    val st = stage(spark, dir)(writeFrame(conformed, _, pcols,
      rebalance = true))
    seal(spark, dir, st, cowSeal(dir, v, sidecarsOf(spark, f, vDir),
      dataFiles, "append", Nil)
      .copy(markersFrom = markersFrom, markers = markers))
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

  /** Columns that have `_bloom_<col>.json` sidecars in a version. */
  private def bloomColsOf(f: org.apache.hadoop.fs.FileSystem,
      vDir: String): Seq[String] =
    f.listStatus(new Path(vDir)).toSeq.map(_.getPath.getName).collect {
      case n if n.startsWith("_bloom_") && n.endsWith(".json") =>
        n.stripPrefix("_bloom_").stripSuffix(".json")
    }.sorted

  /** Bloom-pruned POINT lookup of a committed version (default
    * latest): only files whose `_bloom_<column>.json` filter admits
    * `column = value` are read ([[BloomStats]]); the caller still
    * applies the row-level predicate. */
  def readPointLookup(spark: SparkSession, dir: String, column: String,
      value: String, version: Long = -1L)
      : (DataFrame, FileStats.PruneStats) = {
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version")
    // merge-on-read heads have no bloom sidecars and their local
    // files are not the table — full assembly, everything-kept census
    // (same guard as every other pruned reader)
    if (isMorVersion(spark, dir, v))
      return morUnprunedRead(spark, dir, v)
    BloomStats.readEqualsPruned(spark, s"$dir/v=$v", column, value)
  }

  /** Small-file compaction AS a snapshot commit: bin-pack the latest
    * version's files ([[Compaction]] — rewrite volume proportional
    * to the small-file bytes, big files byte-copied through), stage
    * the result, RECOMPUTE the stats manifest over the new file
    * layout (per-file min/max are layout-dependent — carrying the
    * old manifest forward would pin stats to files that no longer
    * exist), and publish as the next version. Readers keep the old
    * version until the pointer moves; vacuum reclaims it later —
    * maintenance never breaks an in-flight read. `statsCols` default
    * to the columns of the source version's manifest, so a
    * stats-tracked table stays stats-tracked through compaction
    * without the maintenance job knowing the schema.
    */
  def compactVersion(spark: SparkSession, dir: String,
      targetBytes: Long, statsCols: Seq[String] = Nil)
      : (Long, Compaction.CompactStats) = {
    val f = fs(spark, dir)
    val v = latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version to compact")
    // an MoR head compacts by FOLDING: the materializing rewrite IS
    // the compaction (tombstones applied, references resolved);
    // bin-packing applies to the folded output on the next run
    if (isMorVersion(spark, dir, v)) {
      val before = physicalFiles(spark, f, dir, v).size
      val nv = foldMor(spark, dir, statsCols)
      val rewritten = countDataFiles(f,
        f.makeQualified(new Path(s"$dir/v=$nv")))
      return (nv, Compaction.CompactStats(before, rewritten.toInt,
        rewritten.toInt, f.getContentSummary(
          new Path(s"$dir/v=$nv")).getLength, 0))
    }
    val vDir = s"$dir/v=$v"
    // partitioned layouts (partitionByCols commits) keep data under
    // key=value subdirectories; Compaction's non-recursive listing
    // would see ZERO files and this would publish an EMPTY version —
    // refuse loudly (use [[compactPartitionedVersion]], which bins
    // per partition directory)
    require(!f.listStatus(new Path(vDir)).exists(_.isDirectory),
      s"compactVersion: $vDir has partition subdirectories — " +
        "use compactPartitionedVersion")
    // bloom sidecars are per-FILE, so the new layout needs them
    // recomputed just like the stats manifest — dropping them would
    // silently turn point lookups back into full scans
    val (carried, blooms) = inheritedSidecars(spark, f, Seq(vDir))
    var stats: Compaction.CompactStats = null
    val st = stage(spark, dir)(p =>
      stats = Compaction.compact(spark, vDir, p.toString, targetBytes))
    (commitNew(spark, dir, Abort("compactVersion", v))(seal(spark, dir,
      st, Seal(if (statsCols.nonEmpty) statsCols else carried, blooms,
        markersFrom = Some(new Path(vDir))))), stats)
  }

  /** Layout-dispatching compaction — what SQL `OPTIMIZE t` means:
    * an MoR head folds (compactVersion's contract), a flat layout
    * bin-packs via [[compactVersion]], and a partitioned layout
    * (`key=value` subdirectories) bins per partition via
    * [[compactPartitionedVersion]]. Callers that know their layout
    * keep calling the specific entry point; this exists so a generic
    * maintenance surface never has to guess — compactVersion REFUSES
    * partitioned trees (its non-recursive listing would publish an
    * empty version), and that refusal must stay a programming-error
    * signal, not something SQL users can hit. */
  def compactAuto(spark: SparkSession, dir: String,
      targetBytes: Long, statsCols: Seq[String] = Nil)
      : (Long, Compaction.CompactStats) = {
    val f = fs(spark, dir)
    val v = latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version to compact")
    val partitioned = !isMorVersion(spark, dir, v) &&
      f.listStatus(new Path(s"$dir/v=$v")).exists(s =>
        s.isDirectory && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
    if (partitioned)
      compactPartitionedVersion(spark, dir, targetBytes, statsCols)
    else compactVersion(spark, dir, targetBytes, statsCols)
  }

  /** [[compactVersion]] for PARTITIONED version layouts
    * (`commitWithStats(partitionByCols = …)`): every partition
    * directory is bin-packed INDEPENDENTLY (files are never merged
    * across partition values — that would corrupt the
    * directory-encoded column), the compacted tree is staged with
    * the same `key=value` structure, the stats manifest is
    * recomputed over the new files, and the result publishes as the
    * next version. Nested multi-level partitioning is handled by
    * recursing into every non-metadata subdirectory; at 100 TB each
    * partition's rewrite is an independent job whose volume is that
    * partition's small-file bytes — the operation parallelizes per
    * partition and never touches already-compact big files.
    */
  def compactPartitionedVersion(spark: SparkSession, dir: String,
      targetBytes: Long, statsCols: Seq[String] = Nil)
      : (Long, Compaction.CompactStats) = {
    val f = fs(spark, dir)
    val v = latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version to compact")
    require(!isMorVersion(spark, dir, v),
      "compactPartitionedVersion on a merge-on-read head — " +
        "compactVersion folds it (or call foldMor), then bin-pack")
    val vDir = s"$dir/v=$v"
    val vPath = f.makeQualified(new Path(vDir))
    def dirs(p: Path): Seq[Path] =
      p +: f.listStatus(p).toSeq
        .filter(s => s.isDirectory &&
          !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .flatMap(s => dirs(s.getPath))
    var agg = Compaction.CompactStats(0, 0, 0, 0L, 0)
    val st = stage(spark, dir)(p => dirs(vPath).foreach { d =>
      val rel = vPath.toUri.relativize(d.toUri).getPath
      val out = if (rel.isEmpty) p else new Path(p, rel)
      val cs = Compaction.compact(spark, d.toString, out.toString,
        targetBytes)
      agg = Compaction.CompactStats(
        agg.nInputFiles + cs.nInputFiles,
        agg.nBins + cs.nBins,
        agg.nRewrittenFiles + cs.nRewrittenFiles,
        agg.rewrittenBytes + cs.rewrittenBytes,
        agg.passthroughFiles + cs.passthroughFiles)
    })
    val (carried, blooms) = inheritedSidecars(spark, f, Seq(vDir))
    (commitNew(spark, dir, Abort("compactPartitionedVersion", v))(
      seal(spark, dir, st, Seal(
        if (statsCols.nonEmpty) statsCols else carried, blooms,
        markersFrom = Some(vPath)))), agg)
  }

  /** Accounting for [[optimizeClustered]]: file counts either side of
    * the rewrite plus the row count that must be invariant. */
  final case class ClusterStats(filesBefore: Long, filesAfter: Long,
      rows: Long)

  private def countDataFiles(f: org.apache.hadoop.fs.FileSystem,
      dir: Path): Long = {
    val children = f.listStatus(dir).toSeq
    children.count(s => s.isFile &&
      !s.getPath.getName.startsWith("_") &&
      !s.getPath.getName.startsWith(".")).toLong +
      children.filter(s => s.isDirectory &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
        .map(s => countDataFiles(f, s.getPath)).sum
  }

  /** OPTIMIZE ZORDER BY — recluster the latest version on the Morton
    * curve of (xCol, yCol) and publish the rewritten layout as the
    * NEXT version: same rows, different file boundaries, so that
    * range predicates on EITHER clustered column prune files through
    * the recomputed stats manifest (readers keep the old version
    * until the pointer moves — maintenance never breaks an in-flight
    * read, exactly like compaction). This is the write-side half of
    * the file-skipping story: the manifests/StatsFileIndex only pay
    * when per-file min/max are TIGHT, and a table that accreted by
    * appends has scattered files where every range touches everything.
    * At 100 TB this is Delta/Iceberg's OPTIMIZE ZORDER: one shuffle
    * of the table (repartition on the cluster id + an in-task sort by
    * the full Z-value for parquet row-group locality), run rarely,
    * amortized over every selective read after it.
    *
    * Layout: one file per Z-bucket (`bucketCol=value` Hive-style
    * directories — the cluster id MATERIALIZES as a table column,
    * the deterministic file↔bucket bijection the oracle-replayable
    * censuses are built on). `quantizeCols = true` linearly quantizes
    * each dimension to `bits` levels between its observed min/max
    * (one 4-scalar agg, never a sample — deterministic); with
    * `false` the inputs must already be non-negative integers below
    * 2^bits (exact integer arithmetic end to end, replayable in a
    * SQL twin). Stats manifest recomputed over the new layout
    * (always including xCol/yCol — tight bounds are the point),
    * bloom sidecars recomputed per file, `_epoch.*` markers carried
    * forward (the exactly-once fence survives maintenance).
    */
  def optimizeClustered(spark: SparkSession, dir: String,
      xCol: String, yCol: String, bits: Int = 10,
      bucketWidth: Long = 16384L, bucketCol: String = "z_bucket",
      statsCols: Seq[String] = Nil, quantizeCols: Boolean = true)
      : (Long, ClusterStats) =
    optimizeClusteredCols(spark, dir, Seq(xCol, yCol), bits,
      bucketWidth, bucketCol, statsCols, quantizeCols)

  /** [[optimizeClustered]] generalized to 2 OR 3 clustering columns:
    * 3-D interleaves through [[ZOrder.interleave3]] (the xq37 Morton
    * path), so `OPTIMIZE t ZORDER BY (x, y, z)` clusters all three
    * dimensions instead of under-exposing the library capability. */
  def optimizeClusteredCols(spark: SparkSession, dir: String,
      clusterCols: Seq[String], bits: Int = 10,
      bucketWidth: Long = 16384L, bucketCol: String = "z_bucket",
      statsCols: Seq[String] = Nil, quantizeCols: Boolean = true)
      : (Long, ClusterStats) = {
    import org.apache.spark.sql.functions.{call_function, col, lit,
      max => fmax, min => fmin}
    require(clusterCols.size == 2 || clusterCols.size == 3,
      s"optimizeClusteredCols takes 2 or 3 columns, got " +
        clusterCols.mkString(", "))
    require(clusterCols.distinct.size == clusterCols.size,
      s"optimizeClusteredCols: duplicate cluster column in " +
        clusterCols.mkString(", "))
    require(bucketWidth > 0, "bucketWidth must be positive")
    val f = fs(spark, dir)
    val v = latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version to optimize")
    require(!isMorVersion(spark, dir, v),
      "optimizeClustered on a merge-on-read head — fold the " +
        "tombstones first (foldMor), then recluster")
    val vDir = s"$dir/v=$v"
    val vPath = f.makeQualified(new Path(vDir))
    // the bucket column is MANAGED by this op: a re-run (monthly
    // OPTIMIZE is the documented usage) drops and recomputes it, so
    // maintenance stays schema-stable instead of refusing or
    // accreting a new column per cycle. It must not collide with a
    // CLUSTERING column, which is user data.
    require(!clusterCols.contains(bucketCol),
      s"optimizeClustered: bucketCol '$bucketCol' is a cluster column")
    // marker-file names live in the version directory — keep them
    // filesystem-safe
    require(bucketCol.nonEmpty && bucketCol.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-'),
      s"optimizeClustered: bucketCol '$bucketCol' must be " +
        "[A-Za-z0-9_-]+ (it names a marker file)")
    val df0 = read(spark, dir, v)
    // managed-bucket provenance: the column is dropped ONLY when this
    // version (or an ancestor, via marker carry-forward) proves a
    // prior optimizeClustered produced it — `_zcluster.<bucketCol>`.
    // A user table that legitimately OWNS a column with this name is
    // refused loudly instead of silently destroyed: the require below
    // is the difference between "recompute my own column" and
    // "drop somebody's data because the default name collided".
    val managed = f.exists(new Path(vDir, s"_zcluster.$bucketCol"))
    val df = if (df0.columns.contains(bucketCol)) {
      require(managed,
        s"optimizeClustered: column '$bucketCol' exists but was not " +
          s"produced by a prior optimizeClustered (no _zcluster" +
          s".$bucketCol marker in v=$v) — it is user data; pass a " +
          "different bucketCol")
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
    // run — and any DML/compaction in between, which carry markers
    // forward — can prove the column is store-managed before dropping
    // it
    val st = seal(spark, dir,
      stage(spark, dir)(writeFrame(clustered, _, Seq(bucketCol))),
      Seal(cols, blooms, markersFrom = Some(vPath),
        markers = Seq(s"_zcluster.$bucketCol")))
    val stats = ClusterStats(countDataFiles(f, vPath),
      countDataFiles(f, st),
      FileStats.readManifest(spark, st.toString).map(_.rows).sum)
    (commitNew(spark, dir, Abort("optimizeClustered", v))(st), stats)
  }

  // ---- copy-on-write row-level DML ------------------------------------

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
    * DELETE semantics). Epoch markers carry forward (the deleted-from
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
    *  - every version the new head's `_dml.json` chain leads back
    *    through rewrote files DISJOINT from this statement's admitted
    *    set → RETRY: re-stage against the new head (predicate DML
    *    re-executes serializably), up to `maxRetries` times;
    *  - any of them overlaps this statement's files, or is not a DML
    *    version (a full commit replaced the table) → ABORT with
    *    ConcurrentModificationException — the caller must re-reason,
    *    exactly like Delta's ConcurrentDeleteDelete / ConcurrentWrite
    *    conflicts.
    * A lost claim whose winner never publishes within `publishWaitMs`
    * aborts with a crashed-committer diagnosis (the commitCAS
    * `claimGraceMs` recovery is the unblocking tool). */
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

  /** Recursive relative data-file listing of a version directory plus
    * the partition column names in nesting order (empty for flat
    * layouts) — the listing every copy-on-write op routes over. */
  private def listDataRel(f: org.apache.hadoop.fs.FileSystem,
      vPath: Path): (Seq[String], Seq[String]) = {
    def walk(p: Path): Seq[Path] = f.listStatus(p).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Seq.empty
      else if (s.isDirectory) walk(s.getPath)
      else Seq(s.getPath)
    }
    val rels = walk(vPath)
      .map(p => vPath.toUri.relativize(p.toUri).getPath)
    val pcols = rels.headOption.toSeq
      .flatMap(_.split("/").dropRight(1).toSeq)
      .map(seg => seg.substring(0, math.max(seg.indexOf('='), 0)))
      .filter(_.nonEmpty)
    (rels, pcols)
  }

  /** A file's partition values as synthetic point stats
    * (min = max = the directory-encoded value): lets the SAME
    * [[FileStats.prune]] machinery decide partition pruning for
    * copy-on-write DML. The Hive null sentinel and escaped values
    * (`%xx`) parse to None — kept conservatively. */
  private def partStats(rel: String)
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

  /** The predicate's sidecar-decidable condition: resolve `pred`
    * against `frame` and take the OPTIMIZED plan's filter — the
    * analyzer leaves type-coercion casts on literals (`k >= cast(0
    * as bigint)`) that only constant folding collapses back to the
    * literals the stats extractors match. */
  private def dmlCond(spark: SparkSession, frame: DataFrame,
      pred: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    frame.filter(pred).queryExecution.optimizedPlan.collectFirst {
      case flt: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        flt.condition
    }.toSeq

  /** Sidecar admission for a predicate DML statement over ONE
    * version directory's data files: a file is skipped when the
    * manifest range, a bloom sidecar, or its directory-encoded
    * partition values refute the predicate. Superset guarantee —
    * files with no deciding sidecar stay admitted. Returns
    * (affected, untouched). Shared by copy-on-write rewrites and the
    * merge-on-read matching scan, so both route the same way. */
  private def dmlAdmission(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem, vDir: String,
      dataFiles: Seq[String], pcols: Seq[String],
      cond: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      statsOpt: Option[Seq[FileStats.FileStat]] = None,
      bloomsOpt: Option[Map[String, Seq[BloomStats.FileBloom]]] = None)
      : (Seq[String], Seq[String]) = {
    val stats = statsOpt.getOrElse {
      if (f.exists(new Path(vDir, FileStats.ManifestName)))
        FileStats.readManifest(spark, vDir)
      else Seq.empty
    }
    // sidecars read ONCE per statement: callers that already hold
    // the manifests for splicing pass them in, and the bloom listing
    // never repeats per equality column
    lazy val blooms: Map[String, Seq[BloomStats.FileBloom]] =
      bloomsOpt.getOrElse(bloomColsOf(f, vDir)
        .map(c => c -> BloomStats.readManifest(spark, vDir, c)).toMap)
    val rangeSkipped: Set[String] = {
      val preds = graft.plans.StatsFilters.extract(cond)
      if (preds.isEmpty || stats.isEmpty) Set.empty
      else FileStats.prune(stats, preds)._2.map(_.relPath).toSet
    }
    val bloomSkipped: Set[String] =
      graft.plans.StatsFilters.extractEquals(cond).flatMap {
        case (c, vals) => blooms.getOrElse(c, Seq.empty)
          .filter(fb => !vals.exists(BloomStats.admits(fb, _)))
          .map(_.relPath)
      }.toSet
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
    val untouched = dataFiles.filter(r =>
      rangeSkipped(r) || bloomSkipped(r) || partSkipped(r))
    (dataFiles.filterNot(untouched.toSet), untouched)
  }

  /** Build (but do NOT commit) a copy-on-write rewrite of version
    * `v`: sidecar-routed admission, rewritten + byte-copied files
    * staged with spliced manifests, epoch markers carried, and the
    * statement's provenance sealed into the stage as `_dml.json`
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
    val (dataFiles, pcols) = listDataRel(f, vPath)
    // resolve the predicate against the version's schema and extract
    // the range/equality conjuncts the sidecars can decide on
    // (readFileSet: the memoized-schema read — a DML chain re-reads
    // the same version file set per statement, and the bare read's
    // footer-inference job was a fixed per-statement tax)
    val cond = dmlCond(spark,
      readFileSet(spark, vDir, dataFiles.map(r => s"$vDir/$r")), pred)
    val sidecars @ (stats, blooms) = sidecarsOf(spark, f, vDir)
    val (affected, untouched) = dmlAdmission(spark, f, vDir,
      dataFiles, pcols, cond, Some(stats), Some(blooms))
    if (affected.isEmpty) return None
    val hit = coalesce(pred, lit(false))
    // basePath keeps directory-encoded partition columns in the frame
    val affectedDf = readFileSet(spark, vDir,
      affected.map(r => s"$vDir/$r"))
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
    val st = stage(spark, dir)(writeFrame(rewritten, _, pcols,
      keepSchema = untouched.isEmpty))
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
    Some((seal(spark, dir, st, cowSeal(dir, v, sidecars, untouched,
      if (sets.isEmpty) "delete" else "update", affected)), affected,
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
  // provenance (`_dml.json`: base version + the files it rewrote), a
  // statement publishes only onto the head it staged from, and on
  // losing the race it re-validates — intervening versions that are
  // all DML and touched DISJOINT files mean the statement simply
  // re-executes on the new head (serializable: predicate DML
  // recomputes); any overlap, or any interleaved non-DML commit (full
  // rewrite — touched everything), aborts loudly with
  // ConcurrentModificationException rather than guessing.

  private val DmlName = "_dml.json"

  private def writeDml(f: org.apache.hadoop.fs.FileSystem, stage: Path,
      base: Long, op: String, touched: Seq[String]): Unit = {
    val files = touched.sorted
      .map(r => s""""${FileStats.jsonEscape(r)}"""").mkString(",")
    val out = f.create(new Path(stage, DmlName), true)
    try out.write(
      s"""{"base":$base,"op":"$op","touched":[$files]}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** (base, op, touched files) of a version's DML provenance; None
    * when the version was not produced by a DML statement. */
  private[operators] def readDml(f: org.apache.hadoop.fs.FileSystem,
      vDir: String): Option[(Long, String, Seq[String])] = {
    val p = new Path(vDir, DmlName)
    if (!f.exists(p)) return None
    val in = f.open(p)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        "UTF-8")
      finally in.close()
    val Head = """\{"base":(\d+),"op":"(\w+)","touched":\[""".r.unanchored
    val FileR = """"((?:[^"\\]|\\.)*)"""".r
    val (base, op) = text match {
      case Head(b, o) => (b.toLong, o)
      case _ => throw new IllegalStateException(
        s"corrupt $DmlName in $vDir: $text")
    }
    val blob = text.substring(text.indexOf("\"touched\":[") + 11)
    val files = FileR.findAllMatchIn(blob)
      .map(m => FileStats.jsonUnescape(m.group(1))).toSeq
    Some((base, op, files))
  }

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

  private def cowDml(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      sets: Option[Map[String, org.apache.spark.sql.Column]],
      maxRetries: Int, publishWaitMs: Long): (Long, RewriteStats) = {
    val f = fs(spark, dir)
    commitStaged(spark, dir, Rebase(maxRetries, publishWaitMs)) { h =>
      require(h > 0, s"$dir has no committed version")
      require(!isMorVersion(spark, dir, h),
        "copy-on-write DML on a merge-on-read head — fold the " +
          "tombstones first (foldMor), then rewrite")
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
    * `_dml.json` base chain back to `h` (a branch commit or a
    * rolled-back version sitting in (h, h2] was never main's history).
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
      (Long, (Long, String, Seq[String]))]
    var x = h2
    while (x > h) {
      val dml = readDml(f, s"$dir/v=$x").getOrElse(throw conflict(
        s"concurrent NON-DML commit v=$x replaced the table under " +
          "this statement"))
      chain += (x -> dml)
      x = dml._1
    }
    if (x != h) throw conflict(
      s"the head v=$h2 does not descend from this statement's base")
    // a concurrent MERGE-ON-READ statement moved the head to an MoR
    // version this copy-on-write statement cannot re-stage against
    // (and its 'v=N/rel'-namespaced tombstone keys can never
    // intersect CoW rel paths, so the overlap check below would
    // misreport it as disjoint) — abort with the honest diagnosis
    // instead of retrying into the fold-first require
    chain.find(_._2._2.startsWith("mor_")).foreach { case (v, _) =>
      throw conflict(s"concurrent merge-on-read DML v=$v under this " +
        "copy-on-write statement — fold the tombstones (foldMor), " +
        "then re-run")
    }
    val touchedByOthers = chain.flatMap(_._2._3).toSet
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
    * re-route through `partitionBy`; epoch markers carry forward. */
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
    // non-DML → loud abort), and the version publishes with _dml.json
    // provenance so CONCURRENT statements validate against this merge
    commitStaged(spark, dir, Rebase(maxRetries, publishWaitMs)) { h =>
      require(h > 0, s"$dir has no committed version")
      require(!isMorVersion(spark, dir, h),
        "mergeInto on a merge-on-read head — fold the tombstones " +
          "first (foldMor), then merge")
      stageMerge(spark, dir, h, source, keys, maxRoutedKeys) match {
        case None => Left(RewriteStats(0, 0, 0, 0))
        case Some((stage, affected, rs)) =>
          Right(Staged(stage, rs,
            validateIntervening(f, dir, h, _, affected)))
      }
    }
  }

  /** Build (but do NOT commit) the [[mergeInto]] rewrite of version
    * `v`: key-routed admission, anti-join + union of the affected
    * files, spliced sidecars, byte-copied untouched files, and
    * `_dml.json` provenance sealed into the stage. Returns None for
    * an empty source (a no-op merge publishes nothing). */
  private def stageMerge(spark: SparkSession, dir: String, v: Long,
      source: DataFrame, keys: Seq[String], maxRoutedKeys: Int)
      : Option[(Path, Seq[String], RewriteStats)] = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, dir)
    val vDir = s"$dir/v=$v"
    val vPath = f.makeQualified(new Path(vDir))
    val conformed = conform(source, tableSchema(spark, dir))
    val (dataFiles, pcols) = listDataRel(f, vPath)
    val routeCol = keys.head
    val sidecars @ (stats, blooms) = sidecarsOf(spark, f, vDir)
    val statsByRel = stats.map(e => e.relPath -> e).toMap
    val bloom = blooms.get(routeCol).map(_.map(b => b.relPath -> b).toMap)
    val routedKeys: Option[Seq[String]] =
      if (stats.isEmpty && !pcols.contains(routeCol)) None
      else {
        val ks = conformed.select(col(routeCol).cast("string"))
          .na.drop().distinct().limit(maxRoutedKeys + 1)
          .collect().map(_.getString(0)).toSeq
        if (ks.size > maxRoutedKeys) None else Some(ks)
      }
    val (affected, untouched) = routedKeys match {
      case None => (dataFiles, Seq.empty[String])
      case Some(ks) =>
        dataFiles.partition { rel =>
          // manifest stats first; a partition-encoded route column
          // falls back to its directory value as point stats
          statsByRel.get(rel).flatMap(_.cols.get(routeCol).flatten)
            .orElse(partStats(rel).get(routeCol).flatten)
            match {
            case None => true // no stats for the route column: keep
            case Some((mn, mx)) =>
              ks.exists(k => FileStats.pointInRange(mn, mx, k) &&
                bloom.forall(bm => bm.get(rel)
                  .forall(BloomStats.admits(_, k))))
          }
        }
    }
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
        val base = readFileSet(spark, vDir,
          affected.map(r => s"$vDir/$r"))
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
          readFileSet(spark, vDir,
            affected.map(r => s"$vDir/$r"))
            .join(conformed, keys, "left_anti").count()
        }
    Some((seal(spark, dir, st,
      cowSeal(dir, v, sidecars, untouched, "merge", affected)), affected,
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
      require(!isMorVersion(spark, dir, h),
        "mergeApply on a merge-on-read head — fold the tombstones " +
          "first (foldMor), then merge")
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
    val schema = tableSchema(spark, dir)
    val (dataFiles, pcols) = listDataRel(f, vPath)
    // file admission: NOT-MATCHED-BY-SOURCE reads everything; else
    // the leading ON pair routes through sidecars like mergeInto
    val (routeT, routeS) = on.head
    val sidecars @ (stats, blooms) = sidecarsOf(spark, f, vDir)
    val statsByRel = stats.map(e => e.relPath -> e).toMap
    val bloom = blooms.get(routeT).map(_.map(b => b.relPath -> b).toMap)
    val routedKeys: Option[Seq[String]] =
      if (notMatchedBySource.nonEmpty ||
          (stats.isEmpty && !pcols.contains(routeT))) None
      else {
        val ks = source.select(col(s"`$routeS`").cast("string"))
          .na.drop().distinct().limit(maxRoutedKeys + 1)
          .collect().map(_.getString(0)).toSeq
        if (ks.size > maxRoutedKeys) None else Some(ks)
      }
    val (affected, untouched) = routedKeys match {
      case None => (dataFiles, Seq.empty[String])
      case Some(ks) =>
        dataFiles.partition { rel =>
          statsByRel.get(rel).flatMap(_.cols.get(routeT).flatten)
            .orElse(partStats(rel).get(routeT).flatten) match {
            case None => true
            case Some((mn, mx)) =>
              ks.exists(k => FileStats.pointInRange(mn, mx, k) &&
                bloom.forall(bm => bm.get(rel)
                  .forall(BloomStats.admits(_, k))))
          }
        }
    }
    // the joined frame: admitted target rows × source, full outer on
    // the ON pairs, presence flags deciding matched / target-only /
    // source-only (null join keys never match — SQL semantics)
    val base =
      if (affected.isEmpty)
        spark.read.option("basePath", vDir).parquet(vDir).limit(0)
      else readFileSet(spark, vDir, affected.map(r => s"$vDir/$r"))
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
      cowSeal(dir, v, sidecars, untouched, "merge", affected)),
      affected, MergeApplyStats(affected.size.toLong,
      untouched.size.toLong, nUpd, nDel, nIns)))
  }

  // ---- merge-on-read row-level deletes --------------------------------
  // Copy-on-write DML rewrites (or at least byte-copies) every live
  // file per statement — correct, but a point delete against a 1 GB
  // file moves 1 GB. Merge-on-read inverts the cost: a DELETE writes
  // only a DELETION-VECTOR sidecar (file-position tombstones, the
  // public Delta deletion-vectors / Iceberg positional-deletes
  // design) plus a reference list carrying the existing files forward
  // BY NAME — zero data bytes move at delete time; readers apply the
  // tombstones as an anti-join; OPTIMIZE folds them back into a
  // self-contained version when maintenance chooses to pay the
  // rewrite. At 100 TB with routine GDPR-style point deletes this is
  // the difference between O(tombstones) and O(table) per statement.
  //
  // Layout inside an MoR version directory:
  //   _refs.json        — {"src":N,"file":"rel/path"} lines naming the
  //                       PHYSICAL files (in their home version dirs)
  //                       this version serves; depth-1 by
  //                       construction (refs always point at the dir
  //                       that physically holds the file, never at
  //                       another ref)
  //   _dv/dv-<uuid>     — THIS statement's (key, pos) tombstones,
  //                       parquet; key = "srcVersion/relPath" AS
  //                       RENDERED BY
  //                       substring_index(input_file_name(),"/v=",-1)
  //                       — both creation and read derive the key
  //                       with the same expression over the same
  //                       scan, so the match is exact by construction
  //   _dv/index.json    — {"file","rows","keys"} describing the LOCAL
  //                       dv above: row count + the distinct data-file
  //                       keys it tombstones (known for free at stage
  //                       time), so readers and successor statements
  //                       never re-scan it for metadata
  //   _dvrefs.json      — {"src","file","rows","keys"} lines carrying
  //                       PRIOR statements' dv files BY REFERENCE
  //                       (they physically live in their own home
  //                       version dirs, like _refs.json data files).
  //                       A DML statement writes ONLY its own new
  //                       tombstones + these metadata lines — cost is
  //                       O(statement), never O(accumulated deletes):
  //                       the per-file incremental-deletion-vector
  //                       representation (Delta DVs / Iceberg
  //                       positional deletes), not a monolithic
  //                       union-rewrite
  //   _deletes.parquet  — LEGACY (pre-r17) monolithic tombstone set;
  //                       still read (conservatively: unknown keys =
  //                       every file dirty) and carried forward by
  //                       reference, never rewritten
  //   (no _stats.json)  — deliberately: a stats manifest with stale
  //                       row counts would let the metadata-aggregate
  //                       rewrite overcount; with NO manifest the
  //                       StatsAggRule/StatsPruneRule structurally
  //                       refuse and every aggregate runs the real
  //                       (tombstone-applying) plan. Exactness beats
  //                       a shortcut here; folding restores both.
  // All sidecars are sealed by the same atomic stage→slot rename as
  // every commit: a crash mid-delete leaves only an orphan stage.
  //
  // READ-PATH consequence of knowing each dv's touched keys: the
  // assembly splits physical files into DIRTY (some dv touches them —
  // lineage scan + anti-join) and CLEAN (no dv entry — plain
  // vectorized scan, no input_file_name/row_index derivation, no join
  // at all). After a point delete on a 100k-file table, 99.99% of the
  // scan stays whole-stage-codegen scan-only.

  private[operators] val RefsName = "_refs.json"
  private[operators] val TombstoneName = "_deletes.parquet"
  private[operators] val DvDirName = "_dv"
  private[operators] val DvIndexName = "index.json"
  private[operators] val DvRefsName = "_dvrefs.json"

  /** One deletion-vector sidecar serving a version: the parquet's
    * absolute path, its row count (-1 when the caller asked to skip
    * the legacy count), and the data-file keys it tombstones (None =
    * unknown — a legacy monolithic set — every file must be treated
    * dirty). */
  private[operators] final case class DvEntry(path: String, rows: Long,
    keys: Option[Seq[String]])

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

  private def renderDvLine(src: Option[Long], file: String, rows: Long,
      keys: Option[Seq[String]]): String = {
    val ks = keys match {
      case None => "null"
      case Some(s) => s.sorted
        .map(k => s""""${FileStats.jsonEscape(k)}"""")
        .mkString("[", ",", "]")
    }
    val head = src.map(v => s""""src":$v,""").getOrElse("")
    s"""{$head"file":"${FileStats.jsonEscape(file)}","rows":$rows,""" +
      s""""keys":$ks}"""
  }

  private def parseDvLine(line: String)
      : (Option[Long], String, Long, Option[Seq[String]]) = {
    val R = ("""\{(?:"src":(\d+),)?"file":"((?:[^"\\]|\\.)*)",""" +
      """"rows":(\d+),"keys":(null|\[.*\])\}""").r
    line match {
      case R(src, file, rows, ks) =>
        val keys =
          if (ks == "null") None
          else Some(("\"((?:[^\"\\\\]|\\\\.)*)\"".r)
            .findAllMatchIn(ks)
            .map(m => FileStats.jsonUnescape(m.group(1))).toSeq)
        (Option(src).map(_.toLong), FileStats.jsonUnescape(file),
          rows.toLong, keys)
      case _ => throw new IllegalStateException(
        s"corrupt deletion-vector metadata line: $line")
    }
  }

  private def writeDvLines(f: org.apache.hadoop.fs.FileSystem,
      target: Path, lines: Seq[String]): Unit = {
    if (lines.isEmpty) return
    val out = f.create(target, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readLines(f: org.apache.hadoop.fs.FileSystem,
      p: Path): Seq[String] = {
    if (!f.exists(p)) return Seq.empty
    val in = f.open(p)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        "UTF-8")
      finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty)
  }

  /** (home version, sidecar-relative file, rows, keys) of the dv
    * files a version carries BY REFERENCE. */
  private[operators] def readDvRefs(f: org.apache.hadoop.fs.FileSystem,
      vDir: String): Seq[(Long, String, Long, Option[Seq[String]])] =
    readLines(f, new Path(vDir, DvRefsName)).map { l =>
      val (src, file, rows, keys) = parseDvLine(l)
      (src.getOrElse(throw new IllegalStateException(
        s"$DvRefsName line missing src: $l")), file, rows, keys)
    }

  /** The LOCAL dv files of `vDir` (from `_dv/index.json`). */
  private def readDvIndex(f: org.apache.hadoop.fs.FileSystem,
      vDir: String): Seq[(String, Long, Option[Seq[String]])] =
    readLines(f, new Path(s"$vDir/$DvDirName", DvIndexName)).map { l =>
      val (_, file, rows, keys) = parseDvLine(l)
      (file, rows, keys)
    }

  /** EVERY deletion-vector sidecar serving version `v`: carried refs,
    * local dvs, and (legacy) the monolithic `_deletes.parquet`.
    * `needRows = false` skips the legacy set's count job (its rows
    * come back as -1) — the read path needs only paths + keys, and a
    * count per SELECT on a legacy store would be a scan tax the old
    * code never paid. */
  private[operators] def dvEntries(spark: SparkSession, dir: String,
      v: Long, needRows: Boolean = true): Seq[DvEntry] = {
    val f = fs(spark, dir)
    val vDir = s"$dir/v=$v"
    val carried = readDvRefs(f, vDir).map { case (src, file, rows, ks) =>
      DvEntry(s"$dir/v=$src/$file", rows, ks)
    }
    val local = readDvIndex(f, vDir).map { case (file, rows, ks) =>
      DvEntry(s"$vDir/$DvDirName/$file", rows, ks)
    }
    val legacyP = new Path(vDir, TombstoneName)
    val legacy =
      if (!f.exists(legacyP)) Seq.empty
      else Seq(DvEntry(legacyP.toString,
        if (needRows) spark.read.parquet(legacyP.toString).count()
        else -1L, None))
    carried ++ local ++ legacy
  }

  /** The dv lines a SUCCESSOR staging from head `v` must carry: the
    * head's own carried refs verbatim, plus its local dvs promoted to
    * src = `v`, plus (legacy) its monolithic set by reference. */
  private def carryDvLines(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem, dir: String, v: Long)
      : Seq[String] = {
    val vDir = s"$dir/v=$v"
    val carried = readDvRefs(f, vDir).map { case (src, file, rows, ks) =>
      renderDvLine(Some(src), file, rows, ks)
    }
    val local = readDvIndex(f, vDir).map { case (file, rows, ks) =>
      renderDvLine(Some(v), s"$DvDirName/$file", rows, ks)
    }
    val legacyP = new Path(vDir, TombstoneName)
    val legacy =
      if (!f.exists(legacyP)) Seq.empty
      else Seq(renderDvLine(Some(v), TombstoneName,
        spark.read.parquet(legacyP.toString).count(), None))
    carried ++ local ++ legacy
  }

  /** Does `v=$v` carry merge-on-read sidecars? Such a version is
    * served by [[read]]/[[table]] via reference assembly — a bare
    * `spark.read.parquet(versionDir)` would see no data files.
    *
    * Memoized per (qualified dir, version, dir mtime): a published
    * version directory is immutable by design (sidecars land in the
    * stage BEFORE the atomic slot rename), so MoR-ness never changes
    * after publish — but on an object store every [[read]]/[[table]]
    * was paying two metadata RPCs per call. The mtime in the key
    * keeps the memo honest under directory REUSE (a test deleting
    * and recreating a store at the same path gets a fresh answer,
    * because the recreated `v=N` has a new mtime). A missing version
    * dir is not memoized and answers false. */
  def isMorVersion(spark: SparkSession, dir: String, v: Long): Boolean = {
    val f = fs(spark, dir)
    val vp = f.makeQualified(new Path(dir, s"v=$v"))
    val mtime =
      try f.getFileStatus(vp).getModificationTime
      catch { case _: java.io.FileNotFoundException => return false }
    val key = (vp.toString, mtime)
    val cached = morMemo.get(key)
    if (cached != null) return cached.booleanValue()
    val ans = f.exists(new Path(vp, RefsName)) ||
      f.exists(new Path(vp, TombstoneName))
    if (morMemo.size > 8192) morMemo.clear() // unbounded-growth backstop
    morMemo.put(key, java.lang.Boolean.valueOf(ans))
    ans
  }

  private val morMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long),
      java.lang.Boolean]()

  /** Drop every memo entry for `v=$v` — called wherever THIS JVM
    * deletes a version directory (commit withdrawals, epoch-orphan
    * reclaim, vacuum), so a later re-occupant of the same slot can
    * never be answered from the deleted incarnation's cache even if
    * the two directories land in the same mtime tick. External
    * deletes are covered by the mtime in the key. */
  private def morMemoInvalidate(f: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Long): Unit = {
    val vp = f.makeQualified(new Path(dir, s"v=$v")).toString
    morMemo.keySet.removeIf(_._1 == vp)
    ()
  }

  /** Classify version `v`'s physical files into DIRTY (some deletion
    * vector touches them) and CLEAN, plus the dv entries themselves.
    * dv keys come from input_file_name(), which renders the path
    * URI-ENCODED ('b=New%20York/…'); the physical file list comes
    * from FileSystem listings, which are DECODED ('b=New York/…') —
    * classification matches BOTH spellings of both sides: a false
    * "dirty" merely anti-joins a clean file (harmless), a false
    * "clean" would resurrect deleted rows (the failure the union
    * makes impossible). A legacy monolithic set (unknown keys) makes
    * every file dirty. */
  private def morSplit(spark: SparkSession, dir: String, v: Long,
      phys: Seq[(Long, String)])
      : (Seq[(Long, String)], Seq[(Long, String)], Seq[DvEntry]) = {
    val dvs = dvEntries(spark, dir, v, needRows = false)
    if (dvs.isEmpty)
      return (Seq.empty, phys, dvs)
    val dirtyKeys: Option[Set[String]] =
      if (dvs.exists(_.keys.isEmpty)) None // legacy: all dirty
      else Some(dvs.flatMap(_.keys.get)
        .flatMap(k => Seq(k, pctDecode(k))).toSet)
    val (dirty, clean) = phys.partition { case (src, rel) =>
      dirtyKeys.forall(ks => ks.contains(s"$src/$rel") ||
        ks.contains(pctDecode(s"$src/$rel")))
    }
    (dirty, clean, dvs)
  }

  /** The sound degenerate read of a merge-on-read head for every
    * stats-PRUNED reader: MoR versions carry no manifest (by design)
    * and their local files are not the table, so a pruned reader
    * serves the FULL assembly (references resolved, tombstones
    * applied) with an everything-kept census — pruning is a superset
    * guarantee, and zero pruning is the correct superset. [[foldMor]]
    * restores real pruning. */
  private def morUnprunedRead(spark: SparkSession, dir: String, v: Long)
      : (DataFrame, FileStats.PruneStats) = {
    val f = fs(spark, dir)
    val n = physicalFiles(spark, f, dir, v).size.toLong
    (readMorAssembled(spark, dir, v, lineage = false),
      FileStats.PruneStats(n, 0L, 0L, 0L))
  }

  private def writeRefs(f: org.apache.hadoop.fs.FileSystem,
      stage: Path, refs: Seq[(Long, String)]): Unit = {
    val lines = refs.map { case (src, rel) =>
      s"""{"src":$src,"file":"${FileStats.jsonEscape(rel)}"}"""
    }.sorted
    val out = f.create(new Path(stage, RefsName), true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readRefs(f: org.apache.hadoop.fs.FileSystem,
      vDir: String): Seq[(Long, String)] = {
    val p = new Path(vDir, RefsName)
    if (!f.exists(p)) return Seq.empty
    val in = f.open(p)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        "UTF-8")
      finally in.close()
    val R = ("""\{"src":(\d+),"file":"((?:[^"\\]|\\.)*)"\}""").r
    text.split("\n").toSeq.filter(_.nonEmpty).map {
      case R(src, rel) => (src.toLong, FileStats.jsonUnescape(rel))
      case line => throw new IllegalStateException(
        s"corrupt $RefsName line: $line")
    }
  }

  /** The PHYSICAL data files serving version `v`: carried references
    * plus the version's own files, each as (home version, relPath). */
  private def physicalFiles(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem, dir: String, v: Long)
      : Seq[(Long, String)] = {
    val vDir = s"$dir/v=$v"
    val local = listDataRel(f, f.makeQualified(new Path(vDir)))._1
      .map(r => (v, r))
    readRefs(f, vDir) ++ local
  }

  /** Byte lengths of a physical-file set, ONE directory walk per
    * home version — accounting helpers must never degenerate into a
    * per-file getFileStatus RPC loop on an object store. A file
    * missing from its home's listing (concurrently vacuumed)
    * accounts as 0 rather than throwing. */
  private def physLengths(f: org.apache.hadoop.fs.FileSystem,
      dir: String, phys: Seq[(Long, String)])
      : Map[(Long, String), Long] =
    phys.groupBy(_._1).flatMap { case (src, files) =>
      val vp = f.makeQualified(new Path(s"$dir/v=$src"))
      def walk(p: Path): Seq[(String, Long)] =
        f.listStatus(p).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("_") || n.startsWith(".")) Seq.empty
          else if (st.isDirectory) walk(st.getPath)
          else Seq(
            (vp.toUri.relativize(st.getPath.toUri).getPath, st.getLen))
        }
      val lens = walk(vp).toMap
      files.map(x => x -> lens.getOrElse(x._2, 0L))
    }

  /** Partition column names (nesting order) recovered from a physical
    * file's relative path — the one rule the MoR append and the fold
    * must agree on. */
  private def pcolsOf(phys: Seq[(Long, String)]): Seq[String] =
    phys.headOption.toSeq.flatMap(_._2.split("/").dropRight(1).toSeq)
      .map(seg => seg.substring(0, math.max(seg.indexOf('='), 0)))
      .filter(_.nonEmpty)

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
    * whole scan join-free. A dv with UNKNOWN keys (legacy monolithic
    * set) conservatively makes every file dirty. */
  private def readMorAssembled(spark: SparkSession, dir: String,
      v: Long, lineage: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => _, col,
      input_file_name, substring_index}
    val f = fs(spark, dir)
    val phys = physicalFiles(spark, f, dir, v)
    require(phys.nonEmpty, s"MoR version v=$v references no files")
    val (dirty0, clean0, dvs) = morSplit(spark, dir, v, phys)
    val (dirty, clean) =
      if (lineage && dvs.nonEmpty) (phys, Seq.empty[(Long, String)])
      else (dirty0, clean0)
    val survivors = morScan(spark, dir, dirty, withLineage = true)
      .map { d =>
        val alive = applyDvs(spark, d, dvs)
        if (lineage) alive else alive.drop("__key", "__pos")
      }
    val cleanDf = morScan(spark, dir, clean, withLineage = lineage)
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

  /** Memoized parquet schema per EXACT file set (newline-joined
    * sorted absolute paths — Spark part-file names carry a write
    * UUID, so an identical path list implies identical immutable
    * files). A bare `spark.read.parquet(paths)` pays one footer-
    * inference Spark job per construction; a multi-statement DML
    * chain re-reads the same home-version file set once per
    * statement (matching scan, table schema, final read), so the
    * inference was the dominant per-statement job count. The cache
    * holds schemas only — never data, never results — and is
    * cleared wholesale when it grows past a bound. */
  private val fileSetSchemas = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** Read an exact parquet file list with its (memoized) inferred
    * schema supplied explicitly — same frame as the bare read, minus
    * the per-construction footer-inference job. */
  private def readFileSet(spark: SparkSession, basePath: String,
      paths: Seq[String]): DataFrame = {
    val key = paths.sorted.mkString("\n")
    if (fileSetSchemas.size > 512) fileSetSchemas.clear()
    val schema = fileSetSchemas.computeIfAbsent(key,
      _ => spark.read.option("basePath", basePath)
        .parquet(paths: _*).schema)
    spark.read.schema(schema).option("basePath", basePath)
      .parquet(paths: _*)
  }

  /** Grouped-by-home scan of physical files (basePath keeps the
    * directory-encoded partition columns; unionByName fills evolved
    * schemas), optionally deriving the `__key`/`__pos` tombstone
    * identity — THE one place the key-derivation rule
    * (`substring_index(input_file_name(), "/v=", -1)`) lives for
    * readers. None when `files` is empty. */
  private def morScan(spark: SparkSession, dir: String,
      files: Seq[(Long, String)], withLineage: Boolean)
      : Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, input_file_name,
      substring_index}
    if (files.isEmpty) return None
    val groups = files.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (src, fs0) =>
        val srcDir = s"$dir/v=$src"
        val base = readFileSet(spark, srcDir,
          fs0.map(x => s"$srcDir/${x._2}"))
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
    * tombstones as an anti-join ([[read]]/[[table]] route through
    * the assembly automatically). Rows where the predicate is NULL
    * are KEPT (SQL DELETE semantics, same as [[deleteWhere]]).
    * Tombstones accumulate across consecutive MoR deletes and are
    * FOLDED into a self-contained version by [[foldMor]] (or
    * [[compactVersion]], which delegates). A provably-no-op delete
    * (no matching rows) publishes nothing and returns the current
    * version with zero stats. Epoch markers carry forward.
    *
    * Refuses a layout with a partition column named `v` — the
    * tombstone key is derived from the path after the LAST `/v=`
    * segment, which such a layout would make ambiguous.
    *
    * Safe for CONCURRENT writers (the Rebase policy): unlike the
    * copy-on-write [[deleteWhere]], a merge-on-read statement NEVER
    * needs an overlap abort — its stage carries the head's complete
    * reference+tombstone state, so re-staging against the new head
    * re-evaluates the predicate over the winner's committed result
    * (serializable re-execution), whatever kind of commit the winner
    * was. Retries are bounded by `maxRetries`; a lost claim whose
    * winner never publishes within `publishWaitMs` aborts with the
    * crashed-committer diagnosis. */
  def deleteWhereMor(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column, maxRetries: Int = 3,
      publishWaitMs: Long = 30000L): (Long, MorStats) =
    morDml(spark, dir, pred, None, maxRetries, publishWaitMs)

  /** Stage one MoR DML statement (delete, or update when `sets` is
    * set) against head `v`. Returns None on a provably-no-op
    * statement; otherwise the READY stage directory — tombstone
    * sidecar, reference list, updated images (update only), epoch
    * markers, and `_dml.json` provenance (op `mor_delete`/
    * `mor_update`, touched = the physical files whose rows this
    * statement tombstoned) — plus the statement's accounting. */
  private def stageMorDml(spark: SparkSession, dir: String, v: Long,
      pred: org.apache.spark.sql.Column,
      sets: Option[Map[String, org.apache.spark.sql.Column]])
      : Option[(Path, MorStats)] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val op = if (sets.isEmpty) "mor_delete" else "mor_update"
    val f = fs(spark, dir)
    val vDir = s"$dir/v=$v"
    val phys = physicalFiles(spark, f, dir, v)
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
    val newestHome = s"$dir/v=${byHome.last._1}"
    // ONE schema resolution per statement: the table schema (needed
    // below for the NULL-fill anyway) also types the predicate-
    // resolution frame — supplying it to the read skips the footer-
    // inference job the bare parquet() read paid per statement
    val tschema = tableSchema(spark, dir)
    val cond = dmlCond(spark,
      spark.read.schema(tschema).option("basePath", newestHome)
        .parquet(newestHome),
      pred)
    val admitted: Seq[(Long, String)] = byHome.flatMap {
      case (src, files) =>
        val hDir = s"$dir/v=$src"
        val (aff, _) = dmlAdmission(spark, f, hDir, files.map(_._2),
          pcolsOf(files), cond)
        aff.map(r => (src, r))
    }
    // no admitted file → no row can match → publish nothing
    if (admitted.isEmpty) return None
    // Prune the tombstone anti-join to the dvs that can TOUCH an
    // admitted file (each dv's index line records the file keys it
    // tombstones — same canonicalization as morSplit). A point
    // statement on a long MoR chain otherwise anti-joins EVERY prior
    // statement's dv — O(history) plan width and one sidecar read per
    // dv — where only the admitted files' tombstones can matter: a dv
    // whose key set misses every admitted file contributes no matching
    // tombstone, so dropping it from the join is an identity. Legacy
    // entries with unknown keys (None) are conservatively kept.
    val admittedKeys = admitted.flatMap { case (src, rel) =>
      Seq(s"$src/$rel", pctDecode(s"$src/$rel")) }.toSet
    val dvs = dvEntries(spark, dir, v, needRows = false)
      .filter(_.keys.forall(_.exists(k =>
        admittedKeys.contains(k) || admittedKeys.contains(pctDecode(k)))))
    val scanned = morScan(spark, dir, admitted, withLineage = true)
      .getOrElse(return None)
    // conform to the table schema (NULL-fill) — an admitted old-home
    // file may predate a column the predicate references, and the
    // pruned union must still resolve it exactly like the full
    // assembly's allowMissingColumns union would
    val lineage = tschema.fields.foldLeft(
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
      writeDvLines(f, new Path(s"$stage/$DvDirName", DvIndexName),
        Seq(renderDvLine(None, dvFile, added, Some(rawTouched))))
      val carried = carryDvLines(spark, f, dir, v)
      writeDvLines(f, new Path(stage, DvRefsName), carried)
      writeRefs(f, stage, phys)
      seal(spark, dir, stage, Seal(markersFrom = Some(new Path(vDir)),
        dml = Some((v, op, rawTouched.map(k => s"v=$k")))))
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
          tombsObs.coalesce(1).write.mode("overwrite").parquet(dvPath(p)))
        val (added, rawTouched) =
          (if (constPred) None else observedOrNone(obs)) match {
            case Some(m) =>
              (m("__added").asInstanceOf[Long],
                Option(m("__touched"))
                  .map(_.asInstanceOf[scala.collection.Seq[String]]
                    .toSeq.sorted).getOrElse(Seq.empty))
            case None =>
              if (!constPred) log.warn(
                "stageMorDml: dv-write observation unavailable — " +
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
            writeFrame(updated, p, pcolsOf(phys), rebalance = true)
            // incremental deletion vector: ONLY this statement's
            // tombstones are written; prior statements' dvs carry by
            // reference in _dvrefs.json — statement cost is
            // O(statement), independent of accumulated deletes
            newTombs.coalesce(1).write.mode("overwrite")
              .parquet(dvPath(p))
          }
          finishStage(st, added, rawTouched)
        } finally { matching.unpersist(); () }
    }
  }

  private def morDml(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      sets: Option[Map[String, org.apache.spark.sql.Column]],
      maxRetries: Int, publishWaitMs: Long): (Long, MorStats) = {
    val f = fs(spark, dir)
    commitStaged(spark, dir, Rebase(maxRetries, publishWaitMs)) { h =>
      require(h > 0, s"$dir has no committed version")
      stageMorDml(spark, dir, h, pred, sets) match {
        case None =>
          Left(MorStats(0L, dvTotal(spark, dir, h),
            physicalFiles(spark, f, dir, h).size.toLong, 0L, 0L))
        // an MoR stage carries the head's COMPLETE reference +
        // tombstone state, so re-staging against any winner's head is
        // serializable re-execution — every retry is authorized
        case Some((stage, stats)) => Right(Staged(stage, stats))
      }
    }
  }

  /** Row-level UPDATE, merge-on-read: the matching rows are
    * TOMBSTONED in place (same deletion-vector sidecar as
    * [[deleteWhereMor]]) and their updated images land as this
    * version's own data files — the standard DV+rewrite-rows MoR
    * update. Bytes moved = the updated rows only, never the files
    * that hold them; an update that changes a partition column
    * re-routes its rows through `partitionBy` like the CoW path.
    * Same no-op/NULL-keeps/layout/concurrency contracts as
    * deleteWhereMor. */
  def updateWhereMor(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column],
      maxRetries: Int = 3, publishWaitMs: Long = 30000L)
      : (Long, MorStats) = {
    require(sets.nonEmpty, "updateWhereMor needs at least one SET column")
    morDml(spark, dir, pred, Some(sets), maxRetries, publishWaitMs)
  }

  /** Total live tombstones of version `v` — metadata arithmetic over
    * the dv entries (one legacy monolithic set still pays a count). */
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
    * [[compactVersion]]'s inheritance on self-contained versions. */
  def foldMor(spark: SparkSession, dir: String,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil)
      : Long = {
    val f = fs(spark, dir)
    val v = latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version")
    require(isMorVersion(spark, dir, v),
      s"foldMor: v=$v is already self-contained")
    val phys = physicalFiles(spark, f, dir, v)
    val (sCols, bCols) = inheritedSidecars(spark, f,
      phys.map(_._1).distinct.sorted.map(h => s"$dir/v=$h"))
    val folded = readMorAssembled(spark, dir, v, lineage = false)
    val st = stage(spark, dir)(writeFrame(folded, _, pcolsOf(phys),
      rebalance = true))
    // the fold was assembled from head v: a DML statement that
    // committed during the rewrite must not be silently reverted
    commitNew(spark, dir, Abort("foldMor", v))(seal(spark, dir, st, Seal(
      if (statsCols.nonEmpty) statsCols else sCols,
      if (bloomCols.nonEmpty) bloomCols else bCols,
      markersFrom = Some(new Path(s"$dir/v=$v")))))
  }

  /** Accounting for a [[purgeMor]]: dirty files rewritten, clean
    * files carried by reference, tombstones applied (now gone), and
    * the data bytes each side held — `bytesSkipped` is what a full
    * [[foldMor]] would have rewritten on top. */
  final case class PurgeStats(filesRewritten: Long,
    filesReferenced: Long, tombstonesApplied: Long,
    bytesRewritten: Long, bytesSkipped: Long)

  /** PURGE a merge-on-read head: rewrite ONLY the DIRTY files (those
    * some deletion vector touches) with their tombstoned rows
    * dropped, carry every CLEAN file by reference, and drop all
    * deletion vectors — the targeted maintenance step between
    * "leave the tombstones" and a full [[foldMor]] rewrite (Delta's
    * REORG … APPLY (PURGE)). Cost is O(dirty bytes), not O(table):
    * after a point delete on a 100 TB table, purge rewrites the one
    * file that lost rows and references everything else. The result
    * is still a reference-assembled (manifest-less) version — plain
    * reads skip the anti-join entirely (no dvs left), and a later
    * foldMor/compaction restores the self-contained stats-indexed
    * form when maintenance chooses to pay for it. A legacy monolithic
    * tombstone set (unknown keys) makes every file dirty — purge then
    * costs what foldMor costs, but still drops the dvs. When EVERY
    * file was dirty the output carries no refs (the head stops being
    * MoR, so no later fold would ever run) — that one case recomputes
    * the stats manifest and bloom sidecars here, foldMor-style, so a
    * stats-tracked table never loses pruning to a purge. No-ops (head
    * not MoR, or no dvs to apply) are refused loudly — the caller
    * should know its maintenance call did nothing. */
  def purgeMor(spark: SparkSession, dir: String): (Long, PurgeStats) = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, dir)
    val v = latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version")
    require(isMorVersion(spark, dir, v),
      s"purgeMor: v=$v is not a merge-on-read version")
    val vPath = f.makeQualified(new Path(s"$dir/v=$v"))
    val phys = physicalFiles(spark, f, dir, v)
    val (dirty, clean, dvs) = morSplit(spark, dir, v, phys)
    require(dvs.nonEmpty,
      s"purgeMor: v=$v carries no deletion vectors — nothing to purge")
    val pcols = pcolsOf(phys)
    // rewrite = the dirty files' SURVIVORS: the read path's dirty
    // branch (shared morScan/applyDvs — ONE key-derivation rule),
    // materialized
    val applied = dvs.map(e => readDv(spark, e.path))
      .reduce(_ unionByName _).count()
    val survivors = applyDvs(spark,
      morScan(spark, dir, dirty, withLineage = true).getOrElse(
        throw new IllegalStateException(
          s"purgeMor: v=$v has deletion vectors but no dirty files")),
      dvs).drop("__key", "__pos")
    // a purge that empties the whole table (tombstones covered every
    // row, nothing clean) still needs one schema-carrying file — the
    // same rule as a full-table delete; nothing left to reference →
    // the purge IS a self-contained version (a plain read)
    val st = stage(spark, dir) { p =>
      writeFrame(survivors, p, pcols, rebalance = true,
        keepSchema = clean.isEmpty)
      if (clean.nonEmpty) writeRefs(f, p, clean)
    }
    // fully-rewritten output: the head is no longer MoR, so the "a
    // later foldMor restores the stats-indexed form" contract can
    // never fire — restore it HERE (foldMor's home-manifest
    // derivation), or a stats-tracked table silently stops pruning
    // after the one purge that happened to dirty every file
    val (sCols, bCols) =
      if (clean.nonEmpty) (Nil, Nil)
      else inheritedSidecars(spark, f,
        phys.map(_._1).distinct.sorted.map(h => s"$dir/v=$h"))
    seal(spark, dir, st, Seal(sCols, bCols, markersFrom = Some(vPath)))
    // accounting: one walk per home version, no per-file RPC loop
    val lens = physLengths(f, dir, phys)
    def bytesOf(files: Seq[(Long, String)]): Long =
      files.map(lens.getOrElse(_, 0L)).sum
    val stats = PurgeStats(dirty.size.toLong, clean.size.toLong,
      applied, bytesOf(dirty), bytesOf(clean))
    (commitNew(spark, dir, Abort("purgeMor", v))(st), stats)
  }

  /** Manifest-pruned range read of a committed version (default
    * latest): only files whose stats admit `column ∈ [lo, hi]` are
    * read; the census of what was skipped comes back alongside.
    * The caller still applies the row-level predicate — pruning is a
    * superset guarantee. */
  def readPruned(spark: SparkSession, dir: String, column: String,
      lo: BigDecimal, hi: BigDecimal, version: Long = -1L)
      : (DataFrame, FileStats.PruneStats) =
    readPrunedMulti(spark, dir, Seq((column, lo, hi)), version)

  /** [[readPruned]] for a CONJUNCTION of range predicates — the
    * multi-dimensional case Z-ordered layouts exist for: each Morton
    * tile is tight on every clustered dimension, so conjunctive
    * ranges prune multiplicatively instead of only on the leading
    * sort column. */
  def readPrunedMulti(spark: SparkSession, dir: String,
      preds: Seq[(String, BigDecimal, BigDecimal)],
      version: Long = -1L): (DataFrame, FileStats.PruneStats) = {
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version")
    if (isMorVersion(spark, dir, v))
      return morUnprunedRead(spark, dir, v)
    FileStats.readRangesPruned(spark, s"$dir/v=$v", preds)
  }

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
    if (isMorVersion(spark, dir, v))
      return morUnprunedRead(spark, dir, v)
    val vDir = s"$dir/v=$v"
    val f = fs(spark, dir)
    val vPath = f.makeQualified(new Path(vDir))
    val (dataFiles, pcols) = listDataRel(f, vPath)
    val stats =
      if (f.exists(new Path(vDir, FileStats.ManifestName)))
        FileStats.readManifest(spark, vDir) else Seq.empty
    val statsByRel = stats.map(e => e.relPath -> e).toMap
    val bloom = bloomColsOf(f, vDir).find(_ == column)
      .map(c => BloomStats.readManifest(spark, vDir, c)
        .map(b => b.relPath -> b).toMap)
    val ks = dimKeys
      .select(col(dimKeys.columns.head).cast("string"))
      .na.drop().distinct().limit(maxKeys + 1)
      .collect().map(_.getString(0)).toSeq
    // keys pre-sorted numerically once: each file then range-scans the
    // candidates inside its bounds instead of testing every key —
    // O(files × log keys + candidates) driver work, not files × keys
    def numOf(s: String): Option[BigDecimal] =
      try Some(BigDecimal(s))
      catch { case _: NumberFormatException => None }
    val numKeys: Option[Array[(BigDecimal, String)]] = {
      val parsed = ks.map(k => numOf(k).map(_ -> k))
      if (parsed.exists(_.isEmpty)) None
      else Some(parsed.flatten.sortBy(_._1).toArray)
    }
    def candidates(mn: String, mx: String): Iterator[String] =
      (numOf(mn), numOf(mx), numKeys) match {
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
      if (kept.isEmpty) spark.read.parquet(vDir).filter(lit(false))
      else spark.read.option("basePath", vDir)
        .parquet(kept.map(r => s"$vDir/$r"): _*)
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
    if (isMorVersion(spark, dir, v))
      return morUnprunedRead(spark, dir, v)
    val vDir = s"$dir/v=$v"
    val f = fs(spark, dir)
    // no manifest: nothing is provable — keep everything, like the
    // other pruned readers (row counts unknown without a scan)
    if (!f.exists(new Path(vDir, FileStats.ManifestName))) {
      val n = listDataRel(f, f.makeQualified(new Path(vDir)))._1.size
      return (spark.read.parquet(vDir),
        FileStats.PruneStats(n.toLong, 0L, 0L, 0L))
    }
    val manifest = FileStats.readManifest(spark, vDir)
    def num(s: String): Option[BigDecimal] =
      try Some(BigDecimal(s))
      catch { case _: NumberFormatException => None }
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
        spark.read.parquet(vDir)
          .filter(org.apache.spark.sql.functions.lit(false))
      else
        spark.read.option("basePath", vDir)
          .parquet(kept.map(e => s"$vDir/${e.relPath}"): _*)
    (df, stats)
  }

  /** [[readPrunedMulti]] over TYPED predicates — the entry point for
    * string/date pruning ([[FileStats.StrRange]]: UTF-8 binary order,
    * truncated bounds stay sound) alongside numeric ranges. */
  def readPrunedPreds(spark: SparkSession, dir: String,
      preds: Seq[FileStats.StatsPred],
      version: Long = -1L): (DataFrame, FileStats.PruneStats) = {
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version")
    if (isMorVersion(spark, dir, v))
      return morUnprunedRead(spark, dir, v)
    FileStats.readPredsPruned(spark, s"$dir/v=$v", preds)
  }

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
    // record the FIRST publication instant (create-exclusive: a
    // rollback's re-publish never rewrites history) — the lineage
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

  /** Compare-and-swap commit for MULTI-writer tables: publishes
    * `df` as version `expectedParent + 1` only if the table is still
    * at `expectedParent`. Data is staged in a writer-unique temp
    * directory (racers never clobber each other's bytes), then the
    * version number is claimed by creating a `_claim.N` marker with
    * create-exclusive semantics (atomic on HDFS/posix; object stores
    * substitute an if-none-match put) — exactly one of N racing
    * committers wins the claim; losers get a `Left(conflict…)` and
    * their staged bytes are deleted. Claim markers persist with
    * their versions (a version number is never silently reused under
    * CAS — after a rollback, vacuum the reclaimed versions first),
    * and vacuum() removes markers alongside the versions it reclaims.
    *
    * CRASHED-WINNER RECOVERY (`claimGraceMs > 0`): a committer that
    * died after claiming leaves `_claim.N` behind and would block
    * every successor forever. When the blocking claim is older than
    * the grace period and v=N never published, the next committer
    * recovers instead of failing permanently:
    *  - `v=N` directory EXISTS (death between rename and publish —
    *    the data is complete, renames are all-or-nothing): ROLL
    *    FORWARD by publishing v=N, then report a conflict so the
    *    caller re-reads and retries on top of the recovered commit;
    *  - no `v=N` (death between claim and rename): STEAL the claim
    *    by atomically renaming the stale marker aside — exactly one
    *    of N racing recoverers wins the rename — then re-claim and
    *    proceed normally.
    * The grace period must exceed the longest real commit's
    * claim-to-publish latency (that window is two metadata renames —
    * milliseconds — but clock skew across writers bounds how low it
    * can safely go); with the default 0 no recovery is attempted.
    */
  def commitCAS(spark: SparkSession, df: DataFrame, dir: String,
      expectedParent: Long, claimGraceMs: Long = 0L)
      : Either[String, Long] = {
    val f = fs(spark, dir)
    val cur = latestVersion(spark, dir)
    if (cur != expectedParent)
      return Left(
        s"conflict: expected parent v=$expectedParent, table is at v=$cur")
    val v = expectedParent + 1
    val claim = new Path(dir, s"_claim.$v")
    val stale = claimGraceMs > 0 &&
      (try Option(f.getFileStatus(claim))
       catch { case _: java.io.FileNotFoundException => None })
        .exists(_.getModificationTime <
          System.currentTimeMillis() - claimGraceMs)
    if (stale) {
      if (f.exists(new Path(dir, s"v=$v"))) {
        // complete but unpublished: roll the dead commit forward.
        // Retire the dead winner's claim marker (rename aside to the
        // vacuumable .stale- form) — once v=N is the published head
        // it is slot-protection enough, and a lingering live marker
        // would only be pointlessly grace-stolen by a later
        // same-slot probe.
        publish(spark, dir, v)
        retireClaim(f, dir, v)
        return Left(s"conflict: crashed commit v=$v rolled forward; " +
          s"table now at v=$v — retry on top")
      }
      // atomic claim-steal; the loser of the rename fails its claim
      f.rename(claim, new Path(dir,
        s"_claim.$v.stale-${java.util.UUID.randomUUID()}"))
    }
    // the Abort policy at the fixed slot v, never waiting: a lost
    // claim, an occupied slot or a moved head is a conflict
    try Right(commitNew(spark, dir,
      Abort("commitCAS", expectedParent, exact = true))(
      stageFrame(spark, dir, df)))
    catch {
      case e: java.util.ConcurrentModificationException =>
        Left(e.getMessage)
    }
  }

  /** One version-log row for [[history]]. */
  final case class VersionInfo(version: Long, published: Boolean,
      nDataFiles: Long, bytes: Long, rows: Option[Long],
      epochs: Seq[Long], hasStats: Boolean, bloomCols: Seq[String],
      tags: Seq[String], branches: Seq[String])

  /** DESCRIBE HISTORY: the version log as driver-side metadata — one
    * row per existing `v=` directory (published head marked; orphans
    * above the pointer visible for forensics), row counts from the
    * stats manifest when one exists (never a data scan), epoch
    * markers, sidecar presence, and the tags/branches pinning each
    * version. Pure metadata reads: O(versions) directory listings. */
  def history(spark: SparkSession, dir: String): Seq[VersionInfo] = {
    val f = fs(spark, dir)
    val head = latestVersion(spark, dir)
    val entries = f.listStatus(new Path(dir)).toSeq
    val refs: Seq[(String, Long, Boolean)] = entries.collect {
      case s if s.isFile && !s.getPath.getName.contains(".tmp.") &&
          (s.getPath.getName.startsWith("_tag.") ||
            s.getPath.getName.startsWith("_branch.")) =>
        val n = s.getPath.getName
        val isTag = n.startsWith("_tag.")
        val name = n.stripPrefix("_tag.").stripPrefix("_branch.")
        scala.util.Try(readRefFile(f, s.getPath)._1).toOption
          .map(v => (name, v, isTag))
    }.flatten
    existingVersions(f, dir).sorted.map { v =>
      val vPath = new Path(dir, s"v=$v")
      val files = f.listStatus(vPath).toSeq
      val data = files.filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      val rows =
        if (f.exists(new Path(vPath, FileStats.ManifestName)))
          Some(FileStats.readManifest(spark, s"$dir/v=$v")
            .map(_.rows).sum)
        else None
      VersionInfo(v, published = v <= head,
        data.size.toLong, data.map(_.getLen).sum, rows,
        epochMarkers(f, dir, v).toSeq.sorted,
        f.exists(new Path(vPath, FileStats.ManifestName)),
        bloomColsOf(f, s"$dir/v=$v"),
        refs.collect { case (n, rv, true) if rv == v => n }.sorted,
        refs.collect { case (n, rv, false) if rv == v => n }.sorted)
    }
  }

  /** Append-log replay for epoch-fenced streaming tables: under
    * [[commitWithEpoch]]/`versionedSink` each version holds exactly
    * ONE micro-batch's rows, so the ranged union of versions
    * `(sinceVersion, endVersion]` IS the change feed — the Kafka-like
    * replay a downstream consumer needs to catch up or backfill. Each
    * batch is CONFORMED to the latest schema (the evolution contract:
    * a stream that added a column mid-history replays uniformly) and
    * tagged with its `_version`. Vacuumed gaps in the range throw —
    * a silent hole in a replay is data loss, not a degraded read;
    * retention for consumers is vacuum's `keepLast`. */
  def readAppendsSince(spark: SparkSession, dir: String,
      sinceVersion: Long, endVersion: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val head =
      if (endVersion > 0) endVersion else latestVersion(spark, dir)
    require(sinceVersion >= 0 && head > sinceVersion,
      s"empty replay range ($sinceVersion, $head]")
    val f = fs(spark, dir)
    val want = (sinceVersion + 1) to head
    val have = existingVersions(f, dir).toSet
    val missing = want.filterNot(have)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"replay range ($sinceVersion, $head] has vacuumed gaps: " +
          s"${missing.mkString(",")} — a silent hole would be data " +
          "loss; raise vacuum keepLast for log consumers")
    val target = tableSchema(spark, dir)
    want.map { v =>
      conform(read(spark, dir, v), target)
        .withColumn("_version", lit(v))
    }.reduce(_ unionByName _)
  }

  /** Read a specific version (default: the committed latest).
    * Merge-on-read versions ([[deleteWhereMor]]) are assembled
    * transparently: referenced files resolved, tombstones applied. */
  def read(spark: SparkSession, dir: String,
      version: Long = -1L): DataFrame = {
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version")
    if (isMorVersion(spark, dir, v))
      readMorAssembled(spark, dir, v, lineage = false)
    else spark.read.parquet(s"$dir/v=$v")
  }

  /** [[read]] with PLANNER-INTEGRATED file skipping: when the version
    * carries a `_stats.json` manifest, the returned frame's file index
    * consults it at listing time, so ordinary `.filter(...)` calls —
    * no explicit ranges, no readPruned — skip files whose min/max
    * provably exclude the predicate ([[graft.plans.StatsFileIndex]]).
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
    // foldMor restores the stats-indexed path
    if (isMorVersion(spark, dir, v))
      return readMorAssembled(spark, dir, v, lineage = false)
    val plain = spark.read.parquet(vDir)
    if (!f.exists(new Path(vDir, FileStats.ManifestName))) plain
    else graft.plans.StatsFileIndex.attach(spark, plain,
      f.makeQualified(new Path(vDir)),
      FileStats.readManifest(spark, vDir),
      bloomColsOf(f, vDir).map(c =>
        c -> BloomStats.readManifest(spark, vDir, c)).toMap)
  }

  /** Time travel by TIMESTAMP: the newest version FIRST PUBLISHED at
    * or before `epochMillis` — "the table as the training run saw it
    * at 09:00". Publication times are EXPLICIT records
    * (`_pubtime.$v`, written by [[publish]] with create-exclusive
    * semantics, so a re-publish — rollback — never rewrites
    * history): branch-only commits, crashed orphans, and WAP stages
    * never receive one and can never be served as main-table
    * history, and the recorded instant is the pointer move itself —
    * not a directory mtime, which is set at STAGE time and can
    * predate publication by however long the committer stalled.
    * Vacuumed history narrows the window loudly: a timestamp older
    * than the oldest retained publication throws rather than
    * silently serving a newer state. */
  def versionAt(spark: SparkSession, dir: String,
      epochMillis: Long): Long = {
    val f = fs(spark, dir)
    val head = latestVersion(spark, dir)
    require(head > 0, s"$dir has no committed version")
    val live = existingVersions(f, dir).toSet
    val stamped = f.listStatus(new Path(dir)).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (!s.isFile || !n.startsWith("_pubtime.")) None
      else scala.util.Try {
        val v = n.stripPrefix("_pubtime.").toLong
        val in = f.open(s.getPath)
        val t =
          try new String(org.apache.commons.io.IOUtils
            .toByteArray(in), "US-ASCII").trim.toLong
          finally in.close()
        (v, t)
      }.toOption
    }.filter { case (v, _) => live(v) && v <= head }
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

  /** One-shot backfill of `_pubtime.N` records for stores created
    * BEFORE timestamp travel existed (such stores refuse
    * [[versionAt]] with "no publication records"). Each PUBLISHED
    * main-line version (v ≤ head) that lacks a record is stamped
    * with its version directory's mtime — an APPROXIMATION: mtime is
    * set at stage time and can predate the actual pointer move by
    * however long the committer stalled, which is exactly why real
    * records come from [[publish]]. Create-exclusive per version, so
    * genuine publication records are never overwritten and the
    * backfill is idempotent; versions above the head (branch
    * commits, crashed orphans) stay structurally invisible. Returns
    * the versions stamped. */
  def backfillPubtimes(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val head = latestVersion(spark, dir)
    require(head > 0, s"$dir has no committed version")
    existingVersions(f, dir).filter(_ <= head).sorted.flatMap { v =>
      val marker = new Path(dir, s"_pubtime.$v")
      if (f.exists(marker)) None
      else {
        val mtime = f.getFileStatus(new Path(dir, s"v=$v"))
          .getModificationTime
        try {
          val out = f.create(marker, false)
          try out.write(mtime.toString.getBytes("US-ASCII"))
          finally out.close()
          Some(v)
        } catch { case _: java.io.IOException => None }
      }
    }
  }

  /** Roll the table back to an earlier committed version — a pointer
    * move; later versions stay on disk (forensics) until vacuumed. */
  def rollback(spark: SparkSession, dir: String, v: Long): Unit = {
    val head = latestVersion(spark, dir)
    require(v > 0 && v <= head, s"cannot roll back to unpublished v=$v")
    publish(spark, dir, v)
    // the abandoned versions are settled: retire their claims, or
    // every head-bound writer would wait on a slot nobody publishes
    val f = fs(spark, dir)
    ((v + 1) to head)
      .filter(x => f.exists(new Path(dir, s"_claim.$x")))
      .foreach(retireClaim(f, dir, _))
  }

  /** RESTORE: reinstate an earlier committed version's content as a
    * brand-new version — history stays LINEAR (unlike [[rollback]],
    * which moves the pointer backwards and leaves the abandoned
    * versions as forward history until vacuumed). Data files and the
    * stats/bloom sidecars are byte-copied verbatim (their stats are
    * layout-dependent and the layout is exactly the restored one);
    * `_epoch.*` markers are deliberately NOT carried — a restore is a
    * new administrative commit, not a replay of the old epoch, and
    * re-marking it would teach the fence that the old epoch is the
    * newest (epoch-fenced log tables should prefer [[rollback]]).
    * The standard lakehouse undo: "yesterday's table, as today's
    * commit", with the bad versions still time-travelable for
    * forensics. Cost is a byte copy of one version (an object store
    * serves it as server-side copies); at 100 TB prefer rollback when
    * pointer semantics suffice.
    */
  def restore(spark: SparkSession, dir: String, version: Long): Long = {
    val f = fs(spark, dir)
    require(version > 0 && version <= latestVersion(spark, dir),
      s"cannot restore unpublished v=$version")
    val srcPath = f.makeQualified(new Path(dir, s"v=$version"))
    require(f.exists(srcPath), s"v=$version was vacuumed")
    val conf = spark.sparkContext.hadoopConfiguration
    def copyTree(stage: Path, p: Path): Unit =
      f.listStatus(p).toSeq.foreach { s =>
      val n = s.getPath.getName
      // sidecars that ARE the version's content travel with it:
      // stats/bloom manifests, the managed-cluster marker, and — for
      // a merge-on-read version — the reference list and deletion
      // vectors (both version-absolute, so a restored copy serves
      // the identical assembly; without them a restore of an MoR
      // version would silently drop every referenced row). Only
      // `_epoch.*` is deliberately left behind (a restore is an
      // administrative commit, not an epoch replay).
      val keepFile = s.isFile && (!n.startsWith("_") ||
        n == FileStats.ManifestName ||
        n == RefsName ||
        n == DvRefsName ||
        n.startsWith("_zcluster.") ||
        (n.startsWith("_bloom_") && n.endsWith(".json")))
      val rel = srcPath.toUri.relativize(s.getPath.toUri).getPath
      if (keepFile && !n.startsWith("."))
        FileUtil.copy(f, s.getPath, f, new Path(stage, rel), false, conf)
      else if (s.isDirectory && !n.startsWith(".") &&
          (!n.startsWith("_") || n == TombstoneName || n == DvDirName))
        copyTree(stage, s.getPath)
    }
    commitNew(spark, dir)(seal(spark, dir,
      stage(spark, dir)(copyTree(_, srcPath)), Seal()))
  }

  /** Write-audit-publish: stage `df` in a writer-unique temp
    * directory, run the quality suite AGAINST THE STAGED FILES (what
    * readers would see, not the in-memory plan), and only then rename
    * the stage into its claimed version slot and publish. On
    * violations the claim is retired, the staged bytes are deleted,
    * and the table stays at its previous version — the WAP pattern
    * lakehouse pipelines run on every batch. A REJECTED batch must
    * never materialize as a `v=N` directory: CAS crashed-winner
    * recovery publishes any unpublished v=N it finds under a stale
    * claim (it cannot tell a crashed winner from an audit reject), so
    * quality-rejected data reaching a version slot would be
    * resurrectable as the table head. Returns Right(version) or
    * Left(violation census rows).
    */
  def commitChecked(spark: SparkSession, df: DataFrame, dir: String,
      checks: DataFrame => Seq[DataFrame],
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil)
      : Either[Seq[(String, Long)], Long] = {
    val st = stage(spark, dir)(writeFrame(df, _))
    val bad = DataQuality.suite(checks(spark.read.parquet(st.toString)))
      .filter(org.apache.spark.sql.functions.col("n_violations") > 0)
      .collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq
    if (bad.nonEmpty) {
      // no claim exists yet (claims are taken only after sealing),
      // so a rejected batch leaves NOTHING behind
      fs(spark, dir).delete(st, true)
      Left(bad)
    } else {
      // audit passed: the stage is publish-worthy — the audit never
      // re-runs. Sidecars are computed only for ACCEPTED batches (a
      // rejected batch never pays the stats scan) and seal with the
      // data
      Right(commitNew(spark, dir)(
        seal(spark, dir, st, Seal(statsCols, bloomCols))))
    }
  }

  /** Delete version directories that are (a) orphans ABOVE the
    * committed pointer (failed/rolled-back writes) or (b) older than
    * the `keepLast` most recent committed versions, plus any CAS
    * claim markers and abandoned stage directories covered by
    * the same rule. Never touches the pointer or the versions it
    * protects. Returns deleted versions.
    *
    * CONCURRENCY: an in-flight `commit`/`commitChecked` stages
    * `v=latest+1` BEFORE publishing, which is indistinguishable from
    * a crashed orphan. With the default `orphanGraceMs = 0` vacuum
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
    val entries = f.listStatus(new Path(dir)).toSeq
    def aged(s: org.apache.hadoop.fs.FileStatus): Boolean =
      orphanGraceMs <= 0 || s.getModificationTime < now - orphanGraceMs
    val versions = entries
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(s => (s.getPath.getName.stripPrefix("v=").toLong, s))
      .sortBy(_._1)
    // named refs PIN their versions: a tagged version never ages out
    // of keepLast, and a branch head above the main pointer is a LIVE
    // line of development, not a crashed orphan
    val pinned: Set[Long] = entries.collect {
      case s if s.isFile &&
          (s.getPath.getName.startsWith("_tag.") ||
            s.getPath.getName.startsWith("_branch.")) &&
          !s.getPath.getName.contains(".tmp.") =>
        scala.util.Try(readRefFile(f, s.getPath)._1).toOption.toSeq
    }.flatten.toSet
    val candidates = versions.collect {
      case (v, _) if v <= latest - keepLast && !pinned(v) => v
      case (v, s) if v > latest && aged(s) && !pinned(v) => v
    }
    // merge-on-read versions serve files that PHYSICALLY live in
    // older version directories (`_refs.json`) — deleting a
    // referenced home is data loss, not cleanup. Shrink the doomed
    // set to a fixpoint: every version referenced by any survivor
    // survives too (a kept-alive home may itself carry refs, so one
    // pass is not enough).
    val doomed = {
      var d = candidates.toSet
      var changed = true
      while (changed) {
        // data-file references AND deletion-vector references both
        // pin: a survivor's dv may physically live in a doomed
        // version's _dv directory
        val refPinned = versions.map(_._1).filterNot(d)
          .flatMap(sv => readRefs(f, s"$dir/v=$sv").map(_._1) ++
            readDvRefs(f, s"$dir/v=$sv").map(_._1)).toSet
        val nd = d -- refPinned
        changed = nd != d
        d = nd
      }
      candidates.filter(d) // keep the original (sorted) order
    }
    doomed.foreach { v =>
      f.delete(new Path(dir, s"v=$v"), true)
      morMemoInvalidate(f, dir, v)
      f.delete(new Path(dir, s"_claim.$v"), false)
      f.delete(new Path(dir, s"_pubtime.$v"), false)
    }
    // stages abandoned by crashed writers (and the `_stage-*`
    // siblings of stores written before `_staging/`), plus claim
    // markers moved aside by crashed-winner recovery (dead by
    // construction once renamed — kept only through the grace window
    // for forensics)
    val staging = new Path(dir, StagingDir)
    val stages =
      if (f.exists(staging)) f.listStatus(staging).toSeq else Nil
    (stages ++ entries.filter(s =>
        (s.isDirectory && s.getPath.getName.startsWith("_stage-")) ||
          (s.isFile && s.getPath.getName.startsWith("_claim.") &&
            s.getPath.getName.contains(".stale-"))))
      .filter(aged).foreach(s => f.delete(s.getPath, s.isDirectory))
    // LIVE claim markers with no corresponding v=N directory: a
    // committer that died between claim and data write (and, with
    // claimGraceMs=0, no CAS steal will ever run). nextFreeVersion
    // honors live markers, so an unreclaimed corpse burns its slot
    // forever. Same grace rule as stage directories — an in-flight
    // committer's fresh claim is never swept by a graced vacuum.
    val survivingVersions = versions.map(_._1).toSet -- doomed
    entries.filter { s =>
      s.isFile && s.getPath.getName.matches("_claim\\.\\d+") &&
        aged(s) &&
        !survivingVersions(s.getPath.getName.stripPrefix("_claim.").toLong)
    }.foreach(s => f.delete(s.getPath, false))
    doomed
  }

  // ---- tags & branches: named refs over the same version log ------
  // Iceberg/Nessie-style zero-copy refs: a ref is a tiny file naming
  // a version — no data is ever copied. Tags are IMMUTABLE (audit
  // marks: "the training run read exactly this"); branches are
  // movable heads for write-audit-merge workflows: stage commits on a
  // branch, validate, then fast-forward main only if it hasn't moved
  // since the branch was cut. vacuum() pins every ref'd version.

  private def refName(name: String): String = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"ref names are [A-Za-z0-9_-]+: '$name'")
    name
  }

  /** ref file = "<version> <base>" (base meaningful for branches). */
  private def readRefFile(f: org.apache.hadoop.fs.FileSystem,
      p: Path): (Long, Long) = {
    val in = f.open(p)
    val parts =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        "US-ASCII").trim.split(" ")
      finally in.close()
    (parts(0).toLong, if (parts.length > 1) parts(1).toLong else 0L)
  }

  private def writeRefAtomic(spark: SparkSession, dir: String,
      p: Path, head: Long, base: Long): Unit = {
    val f = fs(spark, dir)
    val tmp = f.makeQualified(new Path(dir,
      s"${p.getName}.tmp.${java.util.UUID.randomUUID()}"))
    val out = f.create(tmp, true)
    try out.write(s"$head $base".getBytes("US-ASCII"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      tmp.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, f.makeQualified(p),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Tag a committed version (default: latest) under an immutable
    * name — create-exclusive, so re-tagging an existing name throws
    * instead of silently moving an audit mark. Returns the tagged
    * version. */
  def tag(spark: SparkSession, dir: String, name: String,
      version: Long = -1L): Long = {
    val f = fs(spark, dir)
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0 && f.exists(new Path(dir, s"v=$v")),
      s"cannot tag nonexistent v=$v")
    val p = new Path(dir, s"_tag.${refName(name)}")
    val out = f.create(p, false) // exclusive: tags are immutable
    try out.write(s"$v 0".getBytes("US-ASCII")) finally out.close()
    v
  }

  def tagVersion(spark: SparkSession, dir: String, name: String): Long =
    readRefFile(fs(spark, dir),
      new Path(dir, s"_tag.${refName(name)}"))._1

  def readTag(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, dir, tagVersion(spark, dir, name))

  def dropTag(spark: SparkSession, dir: String, name: String): Unit = {
    fs(spark, dir).delete(new Path(dir, s"_tag.${refName(name)}"), false)
    ()
  }

  /** Cut a branch at `from` (default: latest). head = base = from
    * until the first branch commit. */
  def createBranch(spark: SparkSession, dir: String, name: String,
      from: Long = -1L): Long = {
    val v = if (from > 0) from else latestVersion(spark, dir)
    require(v > 0, s"$dir has no committed version to branch from")
    val p = new Path(dir, s"_branch.${refName(name)}")
    require(!fs(spark, dir).exists(p), s"branch '$name' already exists")
    writeRefAtomic(spark, dir, p, v, v)
    v
  }

  /** (head, base) of a branch. */
  def branchHead(spark: SparkSession, dir: String, name: String)
      : (Long, Long) =
    readRefFile(fs(spark, dir),
      new Path(dir, s"_branch.${refName(name)}"))

  def readBranch(spark: SparkSession, dir: String, name: String)
      : DataFrame =
    read(spark, dir, branchHead(spark, dir, name)._1)

  /** Commit `df` onto a branch: the data lands in the shared version
    * log through the pipeline's Replace policy (next free `v=` slot,
    * claimed by an EXCLUSIVE-CREATE `_claim.N` marker and occupied by
    * an all-or-nothing rename with the nested-merge backstop — so
    * concurrent main or sibling-branch committers can never take the
    * same slot) and only the branch ref moves; main's pointer is
    * untouched. The claim is RETIRED once the slot is occupied: the
    * branch version is settled, and a live claim on a slot main never
    * publishes would make every head-bound writer on main (every SQL
    * statement) wait for a publish that never comes. Single writer PER
    * BRANCH (like main's plain commit); cross-branch concurrency is
    * safe via the claim marker. */
  def commitToBranch(spark: SparkSession, df: DataFrame, dir: String,
      name: String, maxAttempts: Int = 5): Long = {
    val (_, base) = branchHead(spark, dir, name)
    val ref = new Path(dir, s"_branch.${refName(name)}")
    commitNew(spark, dir, Replace(
      Some((v: Long) => writeRefAtomic(spark, dir, ref, v, base)),
      maxAttempts))(stageFrame(spark, dir, df))
  }

  /** Fast-forward main to the branch head, ONLY if main still sits
    * where the branch was cut (the merge precondition — anything else
    * needs a real merge, which is the caller's data-level decision).
    * On success the branch's base advances to its head (in sync);
    * returns Right(head). */
  def publishBranch(spark: SparkSession, dir: String, name: String)
      : Either[String, Long] = {
    val (head, base) = branchHead(spark, dir, name)
    val cur = latestVersion(spark, dir)
    if (cur != base)
      Left(s"conflict: branch '$name' was cut at v=$base but main is " +
        s"at v=$cur — rebase or merge before publishing")
    else {
      publish(spark, dir, head)
      writeRefAtomic(spark, dir,
        new Path(dir, s"_branch.${refName(name)}"), head, head)
      Right(head)
    }
  }

  def dropBranch(spark: SparkSession, dir: String, name: String): Unit = {
    fs(spark, dir).delete(
      new Path(dir, s"_branch.${refName(name)}"), false)
    ()
  }
}
