package graft.integrator

import graft.incr.Incremental
import graft.ingest.Ingest
import graft.ingest.Ingest.{Fetcher, Page, Throttle}
import graft.model.JobcanSchemas
import graft.normalize.Normalize

import graft.views.Views
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's primary entry point rebuilt Spark-first: the
  * 4-phase ETL run of `app.py main()` / `integrator.py _run()`
  * (SURVEY §3.1):
  *
  *   1. basic data — 7 independent master endpoints (parallel in the
  *      reference only by accident of being a loop; genuinely
  *      parallelizable here);
  *   2. form outline — per-form incremental scan with watermark
  *      pushdown (T1/S3) + canceled-after-completion re-sweep (T2);
  *   3. form detail — target set = outline ∪ open-status − ignore
  *      (T3/U2), fetched, shredded to the 30 tables, MERGE-upserted
  *      (K1–K4), watermark committed after the batch (T1);
  *   4. views registered (the BI surface, §3.2).
  *
  * State (silver tables, watermarks, DLQ) lives in a parquet directory
  * tree at `statePath`; every write is an idempotent overwrite-after-
  * merge so a failed run resumes safely (T4). A phase merges its
  * tables concurrently (phase 1: 11 master tables, phase 3: 30 request
  * tables), so a crash mid-phase can leave any subset of that phase's
  * tables merged, not only a prefix. Resume is still safe after a
  * failed merge or a kill between table commits: each per-table merge
  * is idempotent, and the watermark commits last, after every merge of
  * the batch has landed. A kill DURING a table's overwrite is not
  * covered — that table loses its history (see `ParquetMerge`; ROADMAP
  * direction 3). Fetching is pluggable
  * (`Ingest.Fetcher`) and throttled (S1).
  */
class Integrator(spark: SparkSession, fetcher: Fetcher, statePath: String,
    minIntervalMs: Long = 0L,
    ignoreBasicDataError: Boolean = false,
    notifier: Progress.Notifier = null) {

  /** Progress side-channel (integrator.py:307-357): log lines + a
    * durable app_status.json under the state path, ALWAYS; a custom
    * notifier (GUI/toast sink) is added on top — the reference fans
    * out to its logger + notifier + app_status trio the same way. */
  private val progress: Progress.Notifier = new Progress.Composite(
    Seq(new Progress.LogNotifier(),
      new Progress.StatusFile(s"$statePath/app_status.json")) ++
      Option(notifier))

  /** The side-channel must never fail the run: a full disk or a lost
    * mount under app_status.json drops the update (the next phase
    * retries the write); the data work continues. */
  private def report(phase: Progress.Phase, detail: String,
      current: Long = 0, total: Option[Long] = None,
      level: Int = Progress.Info): Unit =
    try progress.update(Progress.Update(phase, detail, current, total,
      level))
    catch { case scala.util.control.NonFatal(_) => () }

  /** Detail-fetch fan-out: capped by the session's parallelism — more
    * partitions than cores adds scheduling overhead without extra
    * concurrency, and the throttle scaling keeps the budget either
    * way. */
  private val fetchFanout = math.max(1, math.min(
    Integrator.FetchFanout, spark.sparkContext.defaultParallelism * 2))

  private val silverDir = s"$statePath/silver"
  private def tablePath(name: String) = s"$silverDir/$name"

  def readTable(name: String): Option[DataFrame] =
    graft.operators.ParquetMerge.read(spark, tablePath(name))

  private def writeTable(name: String, df: DataFrame): Unit =
    graft.operators.ParquetMerge.write(spark, tablePath(name), df)

  /** Phase 1 — the 7 master endpoints (integrator.py:535-539). The
    * reference drains them one after another; here all 7 scan in one
    * executor-parallel pass (pagination stays sequential per
    * endpoint), throttle interval scaled by the fan-out to keep the
    * aggregate rate inside the configured total budget. A failed page
    * aborts the run unless `ignoreBasicDataError` is set
    * (IGNORE_BASIC_DATA_ERROR, integrator_config.py:117-119) — stale
    * masters are tolerable, HALF-fetched masters would diff-delete
    * rows that still exist upstream.
    */
  def updateBasicData(): Unit = {
    import spark.implicits._
    val endpoints = Seq("users", "groups", "positions", "projects",
      "companies", "fix_journals", "forms")
    val nPart = endpoints.size
    // parallelize with explicit slices — round-robin repartition can
    // co-locate two endpoints in one partition (they'd then paginate
    // serially at the scaled interval while another partition idles)
    val fetched = Ingest.fetchEndpoints(spark, fetcher,
        spark.createDataset(
          spark.sparkContext.parallelize(endpoints, nPart)),
        minIntervalMs * nPart)
      .localCheckpoint(true)
    try {
    val errors = fetched.filter(col("error").isNotNull)
      .select("api_type", "error").collect()
    if (errors.nonEmpty && !ignoreBasicDataError)
      throw new IllegalStateException(
        "basic-data fetch failed (set ignoreBasicDataError to " +
          s"proceed with stale masters): ${errors.toSeq.mkString(", ")}")
    val failedApis = errors.map(_.getString(0)).toSet
    def docsOf(api: String, schema:
        org.apache.spark.sql.types.StructType): DataFrame =
      spark.read.schema(schema).json(
        fetched.filter(col("api_type") === api && col("error").isNull)
          .select("doc").as[String])
    // a partially-fetched endpoint must not merge: its diff-deletes
    // (K4) would drop rows that still exist upstream
    val shreds: Seq[(String, Map[String, DataFrame])] = Seq(
      "users" -> Normalize.users(docsOf("users", JobcanSchemas.userSchema)),
      "groups" -> Map("groups" ->
        Normalize.groups(docsOf("groups", JobcanSchemas.groupSchema))),
      "positions" -> Map("positions" -> Normalize.positions(
        docsOf("positions", JobcanSchemas.positionSchema))),
      "projects" -> Map("projects" -> Normalize.projects(
        docsOf("projects", JobcanSchemas.projectSchema))),
      "companies" -> Map("companies" -> Normalize.companies(
        docsOf("companies", JobcanSchemas.companySchema))),
      "fix_journals" -> Normalize.fixJournals(
        docsOf("fix_journals", JobcanSchemas.fixJournalSchema)),
      "forms" -> Map("forms" ->
        Normalize.forms(docsOf("forms", JobcanSchemas.formSchema))))
    graft.operators.ParquetMerge.mergeTables(spark, silverDir,
      shreds.collect { case (api, tables) if !failedApis(api) => tables }
        .flatten)
    report(Progress.BasicData,
      if (failedApis.isEmpty) "master endpoints merged"
      else s"master endpoints merged (stale: ${failedApis.mkString(",")})",
      nPart - failedApis.size, Some(nPart),
      if (failedApis.isEmpty) Progress.Info else Progress.Warn)
    } finally fetched.unpersist() // incl. the abort path above
  }

  private def watermarks: DataFrame =
    readTable("_watermarks").getOrElse {
      import spark.implicits._
      Seq.empty[(String, java.sql.Timestamp)]
        .toDF("scope_key", "watermark_ts")
    }

  /** Phase 2 — per-form outline scan with watermark pushdown +
    * canceled re-sweep (gateway.py:342-432, api_client.py:521-597).
    * Returns (form_id → outline ids) and the captured watermarks.
    *
    * The per-form scans fan out over EXECUTORS (Ingest.fetchScans) —
    * pagination is sequential within a form, but forms scan in
    * parallel, same as the detail fetches. Only the watermark map and
    * form-id list (driver state, tiny) are collected.
    */
  def fetchOutlines(): (DataFrame, DataFrame) = {
    import spark.implicits._
    val wm = watermarks.collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    val formIds = readTable("forms").map(_.select("id").as[Long]
      .collect().toSeq).getOrElse(Seq.empty)
    val scopes: Seq[(String, Map[String, String])] = formIds.flatMap { fid =>
      val after = wm.get(fid.toString)
        .map(_.toString.substring(0, 19).replace('-', '/'))
      // T2: canceled-after-completion re-sweep — only once a watermark
      // exists, and keyed on completed_after, not applied_after
      // (api_client.py:585-589): requests applied before the watermark
      // but canceled since the last run match only this predicate.
      // FAITHFUL LIMITATION: the reference passes the APPLIED-date
      // watermark as completed_after verbatim (`completed_after=
      // {applied_after}`, api_client.py:588), so a cancellation whose
      // COMPLETION predates the watermark is missed there too — parity
      // preserved deliberately; widening the sweep would diverge from
      // the engine this rebuild is verified against.
      Seq(fid.toString -> Ingest.incrementalQuery(Some(fid), after)) ++
        after.map(a => fid.toString -> Ingest.resweepQuery(Some(fid), a))
    }
    // one scope per partition up to a cap; localCheckpoint IMMEDIATELY
    // so the json parse below (and every later action) reads the
    // materialized pages instead of re-running the HTTP scans.
    // Throttle: the configured interval is the TOTAL request budget
    // (5000 req/h, gateway/throttled_request.py) but each partition
    // runs its own throttle — scale the per-partition interval by the
    // fan-out so the aggregate rate stays within budget.
    val nPart = math.max(1, math.min(scopes.size, fetchFanout))
    // explicit slices, not round-robin repartition: scopes spread
    // evenly so no partition serializes two forms while others idle
    val fetched = Ingest.fetchScans(spark, fetcher, "request_outline",
        spark.createDataset(
          spark.sparkContext.parallelize(scopes, nPart)),
        minIntervalMs * nPart)
      .localCheckpoint(true)
    val outlineDf = spark.read.schema(JobcanSchemas.requestOutlineSchema)
      .json(fetched.filter(col("error").isNull).select("doc").as[String])
      .select(col("id"), col("form_id"),
        Normalize.parseTs(col("applied_date")).as("applied_date"))
      .distinct()
      // cut lineage so `fetched` can be released: outlineDf is ids
      // only (small), the page bodies need not stay pinned for the
      // whole detail phase
      .localCheckpoint(true)
    // T1: capture new high-watermarks BEFORE the detail fetches.
    // Forms whose scan errored must NOT advance their watermark: the
    // API does not guarantee applied_date-ordered pages, so the pages
    // that DID arrive can carry a later applied_date than the ones
    // lost with the failed page — committing that max would skip the
    // lost docs forever. (Detail-fetch failures get the same
    // hold-back in updateFormDetails.)
    val failedScopes = fetched.filter(col("error").isNotNull)
      .select(col("scope_key")).distinct()
    val captured = Incremental.captureWatermarks(
      outlineDf.withColumn("form_id", col("form_id").cast("string")),
      "form_id", "applied_date")
      .join(failedScopes.withColumnRenamed("scope_key", "__f"),
        col("scope_key") === col("__f"), "left_anti")
    val capturedCp = captured.localCheckpoint(true)
    // count BEFORE the page blocks are released: failedScopes reads
    // `fetched`, and a post-unpersist action would re-run the scans
    val nFailed = failedScopes.count()
    fetched.unpersist()
    report(Progress.FormOutline,
      if (nFailed == 0) "outline scans complete"
      else s"outline scans complete ($nFailed scopes held back)",
      math.max(0, formIds.size - nFailed), Some(formIds.size.toLong),
      if (nFailed == 0) Progress.Info else Progress.Warn)
    (outlineDf, capturedCp)
  }

  /** Phase 3 — detail fetch + 30-table shred + MERGE + watermark
    * commit (gateway.py:434-541, integrator.py:816-853).
    */
  def updateFormDetails(outline: DataFrame, captured: DataFrame): Unit = {
    import spark.implicits._
    val silver = readTable("requests")
    val ignore = readTable("_ignore_ids").getOrElse(Seq.empty[String].toDF("id"))
    val dlq0 = readTable("_dlq")
    val base = silver match {
      case Some(reqs) => Incremental.refetchTargets(
        outline.select("id"), reqs, ignore, "id", "status")
      case None =>
        outline.select("id").join(ignore, Seq("id"), "left_anti")
    }
    // T5: replay previously failed detail fetches into this run's
    // target set (the reference subtracts failure records from the
    // ignore set, gateway.py:725) — without this a transiently failed
    // NEW request is skipped forever once its form watermark advances.
    // planRetries then drops items already failed maxAttempts times,
    // counting ONLY this api/phase's attempts, and retries sort FIRST
    // (the reference processes failure records before new outlines).
    val targets0 = dlq0 match {
      case Some(d) =>
        // fetch- AND parse-phase entries both retry via a re-fetch
        // (the cure for a bad body is pulling it again); their
        // attempt counts accumulate together per item — same
        // pipeline, same quarantine budget
        val retryIds = d.filter(col("api_type") === "request_detail")
          .select(col("item_id").as("id")).distinct()
          .join(ignore, Seq("id"), "left_anti")
        Incremental.planRetries(base.union(retryIds).distinct(), d, "id",
            maxAttempts = Integrator.MaxAttempts,
            apiType = Some("request_detail"))
          .select(col("id"), col("retry_priority"))
      case None => base.select(col("id"),
        lit(false).as("retry_priority"))
    }
    // items quarantined in an earlier run stay out of the target set
    // permanently (their n_failures history left the live DLQ)
    val targets = readTable("_dlq_quarantine") match {
      case Some(q) => targets0.join(
        q.filter(col("api_type") === "request_detail")
          .select(col("item_id").as("id")).distinct(),
        Seq("id"), "left_anti")
      case None => targets0
    }
    // S4: fan the per-id fetches out over executors, RETRIES FIRST as
    // two sequential eager batches (the reference processes failure
    // records before new outlines; a row ordering would not survive
    // the joins/partitioning, separate jobs actually guarantee it).
    // localCheckpoint IMMEDIATELY: every derived action (DLQ probe,
    // DLQ write, parse) would otherwise re-execute the mapPartitions
    // fetch — duplicate HTTP calls against a 5000 req/h budget. The
    // per-partition throttle interval scales by the fan-out so the
    // aggregate rate stays within the configured total budget.
    val fetchedParts = Seq(true, false).map { pri =>
      // repartition to a KNOWN fan-out and scale the interval by it —
      // the joined plan's own partition count (often
      // spark.sql.shuffle.partitions, mostly empty) would wildly
      // over-throttle. Empty partitions never wait: a throttle's
      // first call is free, so small batches are unaffected.
      val ids = targets.filter(col("retry_priority") === pri)
        .select("id").as[String].repartition(fetchFanout)
      Ingest.fetchDetails(spark, fetcher, "request_detail", ids,
        minIntervalMs * fetchFanout).localCheckpoint(true)
    }
    val fetched = fetchedParts.reduce(_ unionByName _)
    // parse here (not after the DLQ block) so parse failures can be
    // recorded alongside fetch failures; the eager checkpoint also
    // stops the 30 child-table merges below from re-reading the OLD
    // requests parquet (overwritten first) through the parse plan.
    // Every one of those merges scans this checkpoint, so it keeps
    // only what they and the DLQ need (not the raw bodies) in at most
    // one partition per slot: each scan is a few small partitions,
    // and each table lands in as few files
    val parsedAll = Ingest.parseDocs(
      fetched.filter(col("error").isNull), "doc",
      JobcanSchemas.requestDetailSchema)
      .select("id", "parsed", "parse_ok")
      .coalesce(spark.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    // T5: fetch AND parse failures → DLQ (S5: a 200 response whose
    // body doesn't parse is a failure record in the reference too,
    // api_client.py:390-453 JSON-decode warnings)
    val failures = fetched.filter(col("error").isNotNull)
      .select(lit("request_detail").as("api_type"),
        lit("").as("scope_key"), col("id").as("item_id"),
        lit("fetch").as("phase"), col("error"),
        lit(System.currentTimeMillis()).as("ts"))
      .unionByName(parsedAll.filter(!col("parse_ok"))
        .select(lit("request_detail").as("api_type"),
          lit("").as("scope_key"), col("id").as("item_id"),
          lit("parse").as("phase"),
          lit("detail document failed to parse").as("error"),
          lit(System.currentTimeMillis()).as("ts")))
    val anyFailures = failures.limit(1).count() > 0
    if (dlq0.isDefined || anyFailures) {
      // resolve DLQ entries whose retry succeeded this run (otherwise a
      // healed item would be replayed into every future run), then fold
      // in this run's failures (attempt counter accumulates). Fetch-
      // and parse-phase entries resolve on their own success signal.
      val okFetch = fetched.filter(col("error").isNull)
        .select(col("id").as("item_id")).withColumn("__okf", lit(1))
      val okParse = parsedAll.filter(col("parse_ok"))
        .select(col("id").as("item_id")).withColumn("__okp", lit(1))
      val dlqKept = dlq0.getOrElse(failures.limit(0))
        .join(okFetch, Seq("item_id"), "left")
        .join(okParse, Seq("item_id"), "left")
        .filter(!(col("api_type") === "request_detail" &&
            col("phase") === "fetch" && col("__okf").isNotNull) &&
          !(col("api_type") === "request_detail" &&
            col("phase") === "parse" && col("__okp").isNotNull))
        .drop("__okf", "__okp")
      // lineage cut BEFORE the two writes below: both the live-DLQ
      // overwrite and the quarantine append derive from `merged`,
      // which reads the OLD _dlq parquet — without the checkpoint the
      // second action would re-read files the first one deleted
      val merged = Incremental.recordFailures(dlqKept, failures)
        // ignored ids never retry — drop them instead of re-filtering
        // them out of the target set on every future run
        .join(ignore.select(col("id").as("item_id")), Seq("item_id"),
          "left_anti")
        .localCheckpoint(true)
      // exhausted entries move to the quarantine table so the live DLQ
      // stays bounded by the in-flight failure set. Exhaustion is per
      // (api_type, item_id) TOTAL across phases — the same sum
      // planRetries uses to stop retrying — so an item alternating
      // between fetch- and parse-phase failures still quarantines
      // (per-row counts would strand it in the live DLQ forever once
      // the combined total crossed the threshold).
      val itemTotals = merged.groupBy("api_type", "item_id")
        .agg(sum(col("n_failures")).as("__total"))
      val flagged = merged.join(broadcast(itemTotals),
        Seq("api_type", "item_id"))
      val exhausted = flagged.filter(
        col("__total") >= Integrator.MaxAttempts).drop("__total")
      writeTable("_dlq", flagged.filter(
        col("__total") < Integrator.MaxAttempts).drop("__total"))
      if (exhausted.limit(1).count() > 0) {
        val q = readTable("_dlq_quarantine") match {
          case Some(q0) => q0.unionByName(exhausted)
            .groupBy("api_type", "scope_key", "item_id", "phase")
            .agg(max(col("n_failures")).as("n_failures"),
              max_by(col("error"), col("ts")).as("error"),
              max(col("ts")).as("ts"))
          case None => exhausted
        }
        writeTable("_dlq_quarantine", q)
      }
      merged.unpersist()
    }
    // derive the clean documents from the already-checkpointed parse
    // result (the checkpoint above is the lineage cut that keeps the
    // 30 child-table merges from re-reading the OLD requests parquet)
    val parsed = parsedAll.filter(col("parse_ok")).select("parsed.*")
    if (parsed.limit(1).count() > 0)
      graft.operators.ParquetMerge.mergeTables(spark, silverDir,
        Normalize.requests(parsed))
    // T1: commit watermarks only after the batch landed, and only for
    // forms whose detail fetches ALL succeeded — the reference writes
    // a form's watermark only once every request of that form is
    // processed (integrator.py:838-840). A failed form keeps its old
    // watermark so the next outline scan re-covers the gap; the DLQ
    // replay above covers failures outside any form's outline.
    val failedForms = failures.select(col("item_id").as("id"))
      .join(outline.select(col("id"), col("form_id")), Seq("id"))
      .select(col("form_id").cast("string").as("scope_key")).distinct()
    val commitable = captured.join(failedForms, Seq("scope_key"), "left_anti")
    writeTable("_watermarks",
      Incremental.commitWatermarks(watermarks, commitable))
    // all consumers (DLQ, merges, watermarks) are done — release the
    // checkpointed page/doc blocks instead of pinning them until GC
    fetchedParts.foreach(_.unpersist())
    parsedAll.unpersist()
    report(Progress.FormDetail, "detail batch merged", 1, Some(1))
  }

  /** Phase 4 — register the BI view surface. */
  def registerViews(): Views = {
    val names = graft.normalize.NormalizeTables.all
    val tables = names.flatMap(n => readTable(n).map(n -> _)).toMap
    val v = new Views(tables)
    v.registerAll()
    report(Progress.RegisterViews,
      s"${tables.size} silver tables registered",
      tables.size.toLong, Some(names.size.toLong))
    v
  }

  /** Token-validity preflight (api_client.py:240-249): ONE probe
    * fetch against the reference's `/test/` endpoint BEFORE phase 1.
    * A credential-rejected probe (HTTP 401/403) aborts the run with
    * [[Integrator.TokenInvalidException]] before any data fetch —
    * without it a bad credential fills the DLQ with auth errors
    * across every endpoint and burns the whole throttle budget
    * discovering what one probe proves. Any OTHER probe outcome
    * (404 from an API without the endpoint, transient 5xx, transport
    * noise) is inconclusive and the run proceeds: the preflight
    * exists to fail fast on bad credentials, not to gate on probe
    * availability — a real outage still fails phase 1 into the T6
    * retry ladder. TokenInvalidException is deliberately NOT
    * IO-rooted, so the ladder aborts instead of retrying a
    * credential that cannot heal. */
  def preflight(): Unit = {
    report(Progress.Initializing, "token preflight probe", 0, Some(1))
    val probe = fetcher.fetchPage("test", Map.empty, None)
    if (probe.statusCode == 401 || probe.statusCode == 403) {
      report(Progress.Initializing,
        s"token rejected (HTTP ${probe.statusCode}) — aborting",
        level = Progress.Error)
      throw new Integrator.TokenInvalidException(
        s"token rejected by /test/ probe: HTTP ${probe.statusCode}" +
          probe.error.fold("")(e => s" ($e)"))
    }
  }

  /** The full 4-phase run (app.py main() / integrator.py _run()),
    * wrapped in the T6 retry ladder.
    */
  def run(): Views = Incremental.withRetryLadder() { () =>
    report(Progress.Initializing, s"state at $statePath", 0, Some(1))
    preflight()
    updateBasicData()
    val (outline, captured) = fetchOutlines()
    try updateFormDetails(outline, captured)
    finally {
      // release the checkpointed outline/watermark blocks once their
      // only consumer is done (they'd otherwise pin storage until GC)
      outline.unpersist()
      captured.unpersist()
    }
    val v = registerViews()
    report(Progress.Done, "run complete", 1, Some(1))
    v
  }
}

object Integrator {
  /** Raised by [[Integrator.preflight]] when the credential probe is
    * rejected — the api_client.py TokenInvalid analog. Deliberately
    * not an IOException: the T6 retry ladder must not retry an
    * invalid credential. */
  final class TokenInvalidException(msg: String)
    extends RuntimeException(msg)

  /** Attempts before a DLQ entry is quarantined (T5). */
  val MaxAttempts = 3

  /** Executor fan-out for detail fetches; the per-partition throttle
    * interval is scaled by this so the aggregate rate stays within
    * the configured total budget. */
  val FetchFanout = 64

  /** Build an integrator from the typed config surface
    * (integrator_config.py:50-182): state path from DB_PATH, throttle
    * interval from REQUESTS_PER_SEC (with the negative → hourly-cap
    * fallback already resolved by GraftConfig).
    */
  def fromConfig(spark: SparkSession, fetcher: Fetcher,
      cfg: graft.config.GraftConfig): Integrator =
    new Integrator(spark, fetcher, cfg.dbPath, cfg.minIntervalMs,
      cfg.ignoreBasicDataError)
}
