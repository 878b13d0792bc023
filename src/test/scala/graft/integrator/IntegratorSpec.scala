package graft.integrator

import graft.{Fixtures, SparkSpec}
import graft.ingest.Ingest
import org.apache.spark.sql.functions._

/** End-to-end 4-phase run against a synthetic API (SURVEY §3.1): fetch
  * → shred → merge → views, then an incremental second run that picks
  * up only new/changed data via watermarks and open-status refetch.
  */
class IntegratorSpec extends SparkSpec {

  import IntegratorSpec.{CountingFetcher, SyntheticApi}

  test("progress side-channel: ordered phase updates reach the " +
    "notifier and the durable status file ends at done") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prog").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[Progress.Update]
    val recorder = new Progress.Notifier {
      override def update(u: Progress.Update): Unit =
        seen.synchronized { seen += u }
    }
    // the custom notifier rides ALONGSIDE the default log + status-file
    // sinks (reference trio) — app_status.json below comes from the
    // default sink, not from anything passed here
    val integ = new Integrator(spark, new SyntheticApi, dir,
      notifier = recorder)
    integ.run()
    // two Initializing updates: state-path banner + the token
    // preflight probe — consecutive duplicates collapse to the ladder
    val phases = seen.map(_.phase).toSeq
      .foldLeft(Seq.empty[Progress.Phase]) {
        case (acc, p) if acc.lastOption.contains(p) => acc
        case (acc, p) => acc :+ p
      }
    assert(phases == Seq(Progress.Initializing, Progress.BasicData,
      Progress.FormOutline, Progress.FormDetail, Progress.RegisterViews,
      Progress.Done), s"phase ladder out of order: $phases")
    // clean run: nothing above info level, every known total at 100%
    assert(seen.forall(_.level == Progress.Info))
    assert(seen.last.percent == 100)
    assert(seen.find(_.phase == Progress.BasicData).get.message
      .contains("7/7"))
    // the app_status analog survives on disk with the LAST phase
    val status = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/app_status.json"))
    assert(status.contains("\"phase\":\"done\"") &&
      status.contains("\"percent\":100"), status)
  }

  test("full 4-phase run + incremental second run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-int").toString
    val api = new SyntheticApi
    val integ = new Integrator(spark, api, dir)

    // ---- run 1: cold start ------------------------------------------
    IntegratorSpec.SyntheticApi.detailCalls.clear()
    val views = integ.run()
    // each request fetched EXACTLY once (the DLQ probe / DLQ write /
    // parse must not re-execute the fetch pipeline — 5000 req/h budget)
    import scala.jdk.CollectionConverters._
    val calls = IntegratorSpec.SyntheticApi.detailCalls.asScala
      .map { case (k, v) => k -> v.get() }.toMap
    assert(calls == Map("sa-10" -> 1, "sa-11" -> 1),
      s"detail fetches must run once per id, saw $calls")
    assert(integ.readTable("users").get.count() == 2)
    assert(integ.readTable("requests").get.count() == 2)
    assert(integ.readTable("expense_specific_rows").get.count() == 3)
    val f3 = views.viewExpenseReportFormat3().orderBy("申請ID").collect()
    assert(f3.length == 2)
    assert(f3.head.getAs[String]("申請ステータス") == "完了")
    // watermark committed per form
    val wm = integ.readTable("_watermarks").get.collect()
    assert(wm.length == 1 &&
      wm.head.getTimestamp(1).toString.startsWith("2024-08-05"))

    // ---- run 2: sa-11 progresses to completed; nothing else new -----
    api.requests += ("sa-11" -> Fixtures.requestSa11
      .replace("\"in_progress\"", "\"completed\"")
      .replace("\"final_approved_date\": null",
        "\"final_approved_date\": \"2024/08/06 12:00:00\""))
    // outline returns nothing (all applied before the watermark) — the
    // open-status refetch (T3) must still re-pull sa-11
    integ.run()
    val reqs = integ.readTable("requests").get
      .select("id", "status").orderBy("id").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(reqs.toSeq == Seq("sa-10" -> "completed",
      "sa-11" -> "completed"),
      "open-status request must be re-fetched and merged")
    // still exactly 2 requests and 3 expense rows (idempotent merges)
    assert(integ.readTable("requests").get.count() == 2)
    assert(integ.readTable("expense_specific_rows").get.count() == 3)
  }

  test("fetch failures: DLQ + watermark held back + retried and " +
    "resolved next run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dlq").toString
    val api = new SyntheticApi
    api.failIds = Set("sa-11")
    val integ = new Integrator(spark, api, dir)
    integ.run()
    assert(integ.readTable("requests").get.count() == 1) // sa-10 only
    val dlq = integ.readTable("_dlq").get.collect()
    assert(dlq.length == 1 && dlq.head.getAs[String]("item_id") == "sa-11")
    assert(dlq.head.getAs[Long]("n_failures") == 1L)
    // the failed form's watermark must NOT advance (integrator.py:838):
    // next run's outline scan re-covers the gap
    assert(integ.readTable("_watermarks").get.count() == 0,
      "watermark must be held back while a form has failed fetches")

    // ---- run 2: API heals — the gap is re-fetched, DLQ resolved -----
    // Serve sa-11 as TERMINAL so run 3 isolates DLQ-replay behavior
    // from T3's open-status refetch (which correctly re-pulls any
    // in_progress request every run — gateway.py:497-501).
    api.requests += ("sa-11" -> Fixtures.requestSa11
      .replace("\"in_progress\"", "\"completed\"")
      .replace("\"final_approved_date\": null",
        "\"final_approved_date\": \"2024/08/06 12:00:00\""))
    api.failIds = Set.empty
    integ.run()
    val reqs = integ.readTable("requests").get
      .select("id", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(reqs.keySet == Set("sa-10", "sa-11"),
      "failed fetch must be retried once the API heals")
    assert(integ.readTable("_dlq").get.count() == 0,
      "successful retry must resolve its DLQ entry")
    val wm = integ.readTable("_watermarks").get.collect()
    assert(wm.length == 1 &&
      wm.head.getTimestamp(1).toString.startsWith("2024-08-05"))

    // ---- run 3: nothing failed, nothing to retry — sa-11 must NOT be
    // refetched again just because it once sat in the DLQ
    IntegratorSpec.SyntheticApi.detailCalls.clear()
    integ.run()
    import scala.jdk.CollectionConverters._
    val calls3 = IntegratorSpec.SyntheticApi.detailCalls.asScala
      .map { case (k, v) => k -> v.get() }.toMap
    assert(!calls3.contains("sa-11"),
      s"resolved DLQ item must not be replayed, saw $calls3")
  }

  test("an unparseable detail body is a parse-phase DLQ entry that " +
    "holds the watermark and resolves on a clean refetch (S5)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-px").toString
    val api = new SyntheticApi
    api.corruptIds = Set("sa-11")
    val integ = new Integrator(spark, api, dir)
    integ.run()
    // fetch succeeded, body didn't parse → requests has only sa-10,
    // DLQ records the parse phase, watermark held back
    assert(integ.readTable("requests").get.count() == 1)
    val dlq = integ.readTable("_dlq").get.collect()
    assert(dlq.length == 1 &&
      dlq.head.getAs[String]("item_id") == "sa-11" &&
      dlq.head.getAs[String]("phase") == "parse")
    assert(integ.readTable("_watermarks").forall(_.count() == 0),
      "watermark must be held while a form has parse failures")

    // body heals → refetched (DLQ replay), parsed, DLQ resolved
    api.corruptIds = Set.empty
    integ.run()
    assert(integ.readTable("requests").get.count() == 2)
    assert(integ.readTable("_dlq").get.count() == 0,
      "clean re-parse must resolve the parse-phase DLQ entry")
  }

  test("a failed master endpoint aborts the run unless " +
    "ignoreBasicDataError is set (IGNORE_BASIC_DATA_ERROR)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mb").toString
    val api = new SyntheticApi
    api.failEndpoints = Set("groups")
    intercept[IllegalStateException] {
      new Integrator(spark, api, dir).run()
    }
    // tolerant mode: run proceeds, the clean endpoints merge, the
    // failed one is skipped (stale beats half-fetched: a partial
    // merge would diff-delete rows that still exist upstream)
    val integ = new Integrator(spark, api, dir,
      ignoreBasicDataError = true)
    integ.run()
    assert(integ.readTable("users").get.count() == 2)
    assert(integ.readTable("groups").isEmpty)
  }

  test("a mid-pagination outline failure holds back the form's " +
    "watermark even though earlier pages landed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ow").toString
    val api = new SyntheticApi
    // page 0 (sa-10, applied 08/01) succeeds; page 1 (sa-11, 08/05)
    // fails — pages are NOT applied_date-ordered in general, so
    // committing max(applied_date) of the pages that DID arrive could
    // skip the lost docs forever
    api.failOutlinePages = Set("1")
    val integ = new Integrator(spark, api, dir)
    integ.run()
    assert(integ.readTable("requests").get.count() == 1) // sa-10 only
    assert(integ.readTable("_watermarks")
      .forall(_.count() == 0),
      "watermark must not advance past a failed outline page")

    // heal: the next scan re-covers the whole window and commits
    api.failOutlinePages = Set.empty
    integ.run()
    assert(integ.readTable("requests").get.count() == 2)
    val wm = integ.readTable("_watermarks").get.collect()
    assert(wm.length == 1 &&
      wm.head.getTimestamp(1).toString.startsWith("2024-08-05"))
  }

  test("DLQ quarantine: an item failing maxAttempts runs moves to " +
    "_dlq_quarantine, leaves the live DLQ, and is never fetched again") {
    val dir = java.nio.file.Files.createTempDirectory("graft-qr").toString
    val api = new SyntheticApi
    api.failIds = Set("sa-11")
    val integ = new Integrator(spark, api, dir)
    (1 to Integrator.MaxAttempts).foreach(_ => integ.run())
    // after MaxAttempts failures: live DLQ is empty of sa-11,
    // quarantine holds its full attempt history
    assert(integ.readTable("_dlq").get
      .filter(col("item_id") === "sa-11").count() == 0,
      "exhausted entry must leave the live DLQ")
    val q = integ.readTable("_dlq_quarantine").get.collect()
    assert(q.length == 1 && q.head.getAs[String]("item_id") == "sa-11" &&
      q.head.getAs[Long]("n_failures") == Integrator.MaxAttempts.toLong)

    // run 4: even though the API healed, the quarantined item must not
    // be fetched (the reference's quarantine semantics: give up after
    // maxAttempts; an operator clears the quarantine to force a retry)
    api.failIds = Set.empty
    IntegratorSpec.SyntheticApi.detailCalls.clear()
    integ.run()
    import scala.jdk.CollectionConverters._
    val calls = IntegratorSpec.SyntheticApi.detailCalls.asScala
      .map { case (k, v) => k -> v.get() }.toMap
    assert(!calls.contains("sa-11"),
      s"quarantined item must not be fetched, saw $calls")
  }

  test("alternating fetch/parse failures share one attempt budget " +
    "and quarantine together (no stranded live-DLQ rows)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mx").toString
    val api = new SyntheticApi
    api.corruptIds = Set("sa-11") // run 1: parse failure (n=1)
    val integ = new Integrator(spark, api, dir)
    integ.run()
    api.corruptIds = Set.empty
    api.failIds = Set("sa-11") // runs 2-3: fetch failures (n=1, n=2)
    integ.run()
    integ.run()
    // combined total = 3 = MaxAttempts → BOTH phase rows quarantined;
    // per-row thresholds would strand them in the live DLQ forever
    assert(integ.readTable("_dlq").get
      .filter(col("item_id") === "sa-11").count() == 0,
      "exhausted item must not linger in the live DLQ")
    val q = integ.readTable("_dlq_quarantine").get
      .filter(col("item_id") === "sa-11").collect()
    assert(q.map(_.getAs[String]("phase")).sorted.toSeq ==
      Seq("fetch", "parse"), s"both phase rows must quarantine")
    // run 4: healed but quarantined → never fetched again
    api.failIds = Set.empty
    IntegratorSpec.SyntheticApi.detailCalls.clear()
    integ.run()
    import scala.jdk.CollectionConverters._
    assert(!IntegratorSpec.SyntheticApi.detailCalls.asScala
      .contains("sa-11"))
  }

  test("outline scans run executor-side, exactly once per (form, " +
    "page), with pagination drained to the last page") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pg").toString
    val api = new SyntheticApi
    val integ = new Integrator(spark, api, dir)
    SyntheticApi.outlinePageCalls.clear()
    integ.run()
    import scala.jdk.CollectionConverters._
    val calls = SyntheticApi.outlinePageCalls.asScala
      .map { case (k, v) => k -> v.get() }.toMap
    // 2 outline docs served one per page → pages 0 and 1 of the normal
    // scan, each hit exactly once (lineage re-execution would double
    // them; a dropped token would lose page 1)
    assert(calls == Map("54142953|normal|0" -> 1,
      "54142953|normal|1" -> 1),
      s"expected exactly-once per (form, page), saw $calls")
    // both pages' docs made it through the shred
    assert(integ.readTable("requests").get.count() == 2)
  }

  test("T2 re-sweep is completed_after-keyed and fires only once a " +
    "watermark exists (api_client.py:585-589)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-t2").toString
    val api = new SyntheticApi
    val integ = new Integrator(spark, api, dir)
    SyntheticApi.outlineQueries.clear()
    integ.run()
    // cold start: no watermark → no re-sweep call at all
    assert(!SyntheticApi.outlineQueriesSeq.exists(
      _.get("status").contains("canceled_after_completion")),
      "re-sweep must not fire before a watermark exists")

    // sa-10 (applied 2024-08-01, BEFORE the 2024-08-05 watermark) is
    // canceled after completion since the last run: only a
    // completed_after predicate can surface it.
    api.requests += ("sa-10" -> Fixtures.requestSa10
      .replace("\"status\": \"completed\"",
        "\"status\": \"canceled_after_completion\""))
    api.canceled = Seq((
      """{"id": "sa-10", "form_id": 54142953,
         "status": "canceled_after_completion",
         "applied_date": "2024/08/01 09:30:00"}""",
      "2024/08/06 10:00:00"))
    SyntheticApi.outlineQueries.clear()
    integ.run()
    val sweeps = SyntheticApi.outlineQueriesSeq.filter(
      _.get("status").contains("canceled_after_completion"))
    assert(sweeps.nonEmpty, "re-sweep must fire once a watermark exists")
    assert(sweeps.forall(q => !q.contains("applied_after") &&
      q("completed_after") == "2024/08/05 11:00:00"),
      s"re-sweep must be completed_after-keyed, saw $sweeps")
    val sa10 = integ.readTable("requests").get
      .filter(col("id") === "sa-10").collect().head
    assert(sa10.getAs[String]("status") == "canceled_after_completion",
      "late cancellation must be re-fetched and merged")
  }

  test("a request-table merge failing mid-phase rethrows its own " +
    "exception, holds the watermark, and a re-run converges") {
    import graft.normalize.NormalizeTables
    def mkDir(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val clean = new Integrator(spark, new SyntheticApi, mkDir("graft-ok"))
    clean.run()

    val dir = mkDir("graft-mf")
    val integ = new Integrator(spark, new SyntheticApi, dir)
    // a plain file where one request table's directory belongs: that
    // table's merge fails while the other 29 run beside it
    val obstacle = java.nio.file.Paths.get(dir, "silver",
      "expense_specific_rows")
    java.nio.file.Files.createDirectories(obstacle.getParent)
    java.nio.file.Files.writeString(obstacle, "not a parquet table")
    val expected = intercept[Exception] {
      graft.operators.ParquetMerge.read(spark, obstacle.toString)
    }
    // the phases are called directly: run()'s T6 ladder would sleep
    // before retrying an IO-rooted failure
    integ.updateBasicData()
    val (outline, captured) = integ.fetchOutlines()
    val e = intercept[Exception](integ.updateFormDetails(outline, captured))
    assert(e.getClass == expected.getClass &&
      e.getMessage.contains(obstacle.toString),
      s"expected the merge's own $expected, got $e")
    assert(integ.readTable("_watermarks").forall(_.count() == 0),
      "a failed merge must not advance the watermark")

    java.nio.file.Files.delete(obstacle)
    val (outline2, captured2) = integ.fetchOutlines()
    integ.updateFormDetails(outline2, captured2)
    val tables = NormalizeTables.masters ++ NormalizeTables.requestTables
    def counts(i: Integrator) =
      tables.map(n => n -> i.readTable(n).map(_.count())).toMap
    assert(counts(integ) == counts(clean))
    assert(integ.readTable("_watermarks").get.collect().toSeq ==
      clean.readTable("_watermarks").get.collect().toSeq)
    def docs(i: Integrator) = graft.docs.Reassembly.toJsonDocs(
        NormalizeTables.requestTables.map(n => n -> i.readTable(n).get)
          .toMap)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val rebuilt = docs(integ)
    assert(rebuilt.size == 2 && rebuilt == docs(clean))
  }

  /** One cold run shared by the schema and job-budget cases below. */
  private lazy val cold: (String, Integrator) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-cold").toString
    val integ = new Integrator(spark, new SyntheticApi, dir)
    integ.run()
    (dir, integ)
  }

  test("every silver table's declared schema is the schema its " +
    "written files carry") {
    import graft.normalize.NormalizeTables
    import org.apache.spark.sql.types._
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), true)
      case m: MapType =>
        MapType(nullable(m.keyType), nullable(m.valueType), true)
      case other => other
    }
    val (dir, _) = cold
    val declared = NormalizeTables.schemas(spark)
    assert(declared.keySet == NormalizeTables.all.toSet)
    NormalizeTables.all.foreach { n =>
      val inferred = spark.read.parquet(s"$dir/silver/$n").schema
      assert(nullable(declared(n)) == nullable(inferred),
        s"$n: declared ${declared(n).simpleString} but the files " +
          s"carry ${inferred.simpleString}")
    }
  }

  test("registerViews runs no Spark job") {
    val (dir, _) = cold
    // a fresh integrator: its declared schemas are derived inside the
    // counted call
    val integ = new Integrator(spark, new SyntheticApi, dir)
    val sites = graft.SparkSpec.jobSites(spark)(integ.registerViews())
    assert(sites.isEmpty, s"registerViews ran jobs: $sites")
    assert(integ.readTable("requests").get.count() == 2)
  }

  /** The parquet part files of silver table `name` under `dir`. */
  private def partFiles(dir: String, name: String): Seq[String] =
    Option(new java.io.File(s"$dir/silver/$name").list()).toSeq.flatten
      .filter(f => f.startsWith("part-") && f.endsWith(".parquet"))

  test("a cold run writes every master table, and every request table " +
    "that projects or explodes the batch, as one part file") {
    import graft.normalize.NormalizeTables
    val (dir, _) = cold
    // these shreds union, group or deduplicate the batch: their file
    // count follows the plan, not the batch's partitioning
    val planned = Set("generic_masters", "generic_master_additional_items",
      "comments", "comment_associations", "files", "file_associations")
    val wide = (NormalizeTables.masters ++
        NormalizeTables.requestTables.filterNot(planned))
      .map(n => n -> partFiles(dir, n).size).filter(_._2 != 1)
    assert(wide.isEmpty, s"tables not in exactly one part file: $wide")
  }

  test("a tiny spark.sql.files.maxPartitionBytes splits the detail " +
    "batch over several files and changes no row count, watermark or " +
    "document") {
    import graft.normalize.NormalizeTables
    val (_, clean) = cold
    val dir = java.nio.file.Files.createTempDirectory("graft-split").toString
    val integ = new Integrator(spark, new SyntheticApi, dir)
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.get(key)
    // the two fixture documents come to about 5.7 KB
    try {
      spark.conf.set(key, "1k")
      integ.run()
    } finally spark.conf.set(key, before)
    val holding = integ.readTable("requests").get
      .select(input_file_name()).distinct().count()
    assert(holding >= 2,
      s"requests rows sit in $holding file(s) of ${partFiles(dir, "requests")}")
    def counts(i: Integrator) = NormalizeTables.all
      .map(n => n -> i.readTable(n).map(_.count())).toMap
    assert(counts(integ) == counts(clean))
    assert(integ.readTable("_watermarks").get.collect().toSeq ==
      clean.readTable("_watermarks").get.collect().toSeq)
    def docs(i: Integrator) = graft.docs.Reassembly.toJsonDocs(
        NormalizeTables.requestTables.map(n => n -> i.readTable(n).get)
          .toMap)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val rebuilt = docs(integ)
    assert(rebuilt.size == 2 && rebuilt == docs(clean))
  }

  test("token preflight (api_client.py:240-249): an invalid " +
    "credential aborts BEFORE any data fetch — one probe call, zero " +
    "endpoint scans, zero detail fetches, no retry-ladder churn") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-preflight").toString
    val api = new SyntheticApi
    api.tokenInvalid = true
    val counting = new CountingFetcher(api)
    val integ = new Integrator(spark, counting, dir)
    val t0 = System.nanoTime()
    intercept[Integrator.TokenInvalidException] { integ.run() }
    // TokenInvalid is not IO-rooted: the T6 ladder must abort on
    // attempt 1, not sleep 60 s retrying a credential that can't heal
    assert((System.nanoTime() - t0) < 30L * 1000 * 1000 * 1000)
    assert(counting.pages.get() == 1,
      s"only the probe may fetch, saw ${counting.pages.get()} pages")
    assert(counting.details.get() == 0, "no detail fetch before auth")
    // nothing was staged: no silver tables, no DLQ
    assert(integ.readTable("requests").isEmpty)
    // a valid credential probes and proceeds — the full run works
    api.tokenInvalid = false
    integ.run()
    assert(counting.details.get() > 0)
    assert(integ.readTable("requests").get.count() == 2)
  }
}

object IntegratorSpec {
  /** Counts every fetch crossing the Fetcher boundary before
    * delegating. Counters are STATIC: executor-side fetches run on a
    * deserialized copy of this wrapper, so instance fields would
    * count only driver-side calls (local mode shares the JVM, so the
    * companion statics observe everything — the detailCalls trick). */
  class CountingFetcher(inner: Ingest.Fetcher) extends Ingest.Fetcher {
    def pages = CountingFetcher.pages
    def details = CountingFetcher.details
    def fetchPage(apiType: String, query: Map[String, String],
        pageToken: Option[String]): Ingest.Page = {
      CountingFetcher.pages.incrementAndGet()
      inner.fetchPage(apiType, query, pageToken)
    }
    def fetchDetail(apiType: String, id: String): Either[String, String] = {
      CountingFetcher.details.incrementAndGet()
      inner.fetchDetail(apiType, id)
    }
  }

  object CountingFetcher {
    val pages = new java.util.concurrent.atomic.AtomicInteger
    val details = new java.util.concurrent.atomic.AtomicInteger
  }

  /** Synthetic Jobcan API: masters + 2 requests; mutable so run 2 can
    * see new data.
    */
  class SyntheticApi extends Ingest.Fetcher {
    @volatile var requests: Map[String, String] = Map(
      "sa-10" -> Fixtures.requestSa10, "sa-11" -> Fixtures.requestSa11)
    @volatile var outline: Seq[String] = Seq(
      """{"id": "sa-10", "form_id": 54142953, "status": "completed",
         "applied_date": "2024/08/01 09:30:00"}""",
      """{"id": "sa-11", "form_id": 54142953, "status": "in_progress",
         "applied_date": "2024/08/05 11:00:00"}""")
    /** ids whose detail fetch fails (DLQ tests) */
    @volatile var failIds: Set[String] = Set.empty
    /** ids whose detail fetch returns an unparseable body */
    @volatile var corruptIds: Set[String] = Set.empty
    /** master endpoints whose scan fails (basic-data error tests) */
    @volatile var failEndpoints: Set[String] = Set.empty
    /** canceled-after-completion outline docs: (doc, completed_date) —
      * returned ONLY by the completed_after re-sweep */
    @volatile var canceled: Seq[(String, String)] = Nil
    /** outline page tokens whose fetch fails (watermark hold-back test) */
    @volatile var failOutlinePages: Set[String] = Set.empty
    /** preflight behavior: the /test/ probe rejects the credential */
    @volatile var tokenInvalid: Boolean = false

    def fetchPage(apiType: String, query: Map[String, String],
        pageToken: Option[String]): Ingest.Page =
      if (failEndpoints(apiType))
        Ingest.Page(Nil, None, 500, Some(s"flaky master $apiType"))
      else apiType match {
      case "test" =>
        if (tokenInvalid)
          Ingest.Page(Nil, None, 401, Some("invalid token"))
        else Ingest.Page(Nil, None, 200)
      case "users" => Ingest.Page(Seq(Fixtures.user1, Fixtures.user2), None)
      case "groups" => Ingest.Page(Seq(Fixtures.group1), None)
      case "positions" => Ingest.Page(Seq(Fixtures.position1), None)
      case "projects" => Ingest.Page(Seq(Fixtures.project1), None)
      case "companies" => Ingest.Page(Seq(Fixtures.company1), None)
      case "fix_journals" => Ingest.Page(Seq(Fixtures.fixJournal1), None)
      case "forms" => Ingest.Page(Seq(Fixtures.form1), None)
      case "request_outline" =>
        // outline scans now run EXECUTOR-side on a deserialized copy
        // of this fetcher, so observations must go through the static
        // companion (same trick as detailCalls)
        SyntheticApi.outlineQueries.add(query)
        val kind = if (query.contains("completed_after")) "resweep"
          else "normal"
        SyntheticApi.outlinePageCalls.computeIfAbsent(
          s"${query.getOrElse("form_id", "?")}|$kind|" +
            pageToken.getOrElse("0"),
          _ => new java.util.concurrent.atomic.AtomicInteger)
          .incrementAndGet()
        val matching =
          if (query.get("status").contains("canceled_after_completion")) {
            // T2 re-sweep: matches on completion (not application) date
            val after = query.get("completed_after")
            canceled.collect {
              case (doc, cd) if after.forall(cd > _) => doc }
          } else {
            // honor the applied_after watermark pushdown (S3)
            val after = query.get("applied_after")
            outline.filter { doc =>
              after.forall(a => doc.split("applied_date\": \"")(1)
                .takeWhile(_ != '"') > a)
            }
          }
        // serve ONE doc per page so pagination (S2) is exercised: the
        // exactly-once-per-(form, page) assertion needs >1 page
        val i = pageToken.map(_.toInt).getOrElse(0)
        if (failOutlinePages(i.toString))
          Ingest.Page(Nil, None, 500, Some("flaky outline page"))
        else {
          val next = if (i + 1 < matching.length) Some((i + 1).toString)
            else None
          Ingest.Page(matching.slice(i, i + 1), next)
        }
      case other => Ingest.Page(Nil, None, 404, Some(s"unknown $other"))
    }

    def fetchDetail(apiType: String, id: String): Either[String, String] = {
      SyntheticApi.detailCalls.computeIfAbsent(id,
        _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
      if (failIds(id)) Left("500 flaky")
      else if (corruptIds(id)) Right("this is { not json")
      else requests.get(id).toRight(s"404 $id")
    }
  }

  object SyntheticApi {
    /** per-id detail-fetch call counter (local mode: executors share
      * the JVM, so a static map observes executor-side calls) */
    val detailCalls =
      new java.util.concurrent.ConcurrentHashMap[String,
        java.util.concurrent.atomic.AtomicInteger]
    /** every request_outline query seen, from any executor thread */
    val outlineQueries =
      new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]
    def outlineQueriesSeq: Seq[Map[String, String]] = {
      import scala.jdk.CollectionConverters._
      outlineQueries.asScala.toSeq
    }
    /** per-(form, scan-kind, page-token) outline call counter */
    val outlinePageCalls =
      new java.util.concurrent.ConcurrentHashMap[String,
        java.util.concurrent.atomic.AtomicInteger]
  }
}
