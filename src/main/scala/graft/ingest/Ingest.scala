package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

/** Ingestion layer (SURVEY §2.1 S1–S6): pluggable fetcher behind the
  * plan, throttling, pagination, error classification, and the bronze
  * raw-response sink. The HTTP client itself is a trait — tests and
  * the harness plug in file/synthetic fetchers (mirroring the
  * reference's SAVE_RAW_DATA artifacts, api_client.py:307-334); a real
  * throttled client slots in without touching any dataflow.
  */
object Ingest {

  /** One page of an API listing (gateway/_core.py:17-40 ApiResponse). */
  case class Page(results: Seq[String], next: Option[String],
    statusCode: Int = 200, error: Option[String] = None)

  /** S1+S2+S4 — the pluggable source. */
  trait Fetcher extends Serializable {
    /** Fetch one page; `pageToken` None = first page. */
    def fetchPage(apiType: String, query: Map[String, String],
      pageToken: Option[String]): Page
    /** S4 — point lookup of one detail document by id. */
    def fetchDetail(apiType: String, id: String): Either[String, String]
  }

  /** S1 — token-bucket throttle (ThrottledRequests,
    * gateway/throttled_request.py:36-61): enforces a minimum interval
    * between calls. Used per executor thread inside mapPartitions, so
    * the cluster-wide rate is interval × parallelism — size
    * accordingly (reference default 0.72 s = 5000/hr single-threaded).
    */
  final class Throttle(minIntervalMs: Long,
      clock: () => Long = System.currentTimeMillis,
      sleep: Long => Unit = Thread.sleep,
      initialOffsetMs: Long = 0L) extends Serializable {
    // sentinel far in the past so the FIRST call never waits (unless
    // an initial offset staggers it across partitions)
    private var last = Long.MinValue / 2
    private var first = true
    def acquire(): Long = synchronized {
      val wasFirst = first
      first = false
      val now = clock()
      val wait =
        if (wasFirst) initialOffsetMs
        else (last + minIntervalMs) - now
      if (wait > 0) sleep(wait)
      last = clock()
      wait.max(0L)
    }
  }

  /** A per-partition throttle whose FIRST acquire is staggered by
    * `partitionId / numPartitions` of the interval, so a fan-out of N
    * partitions doesn't burst N simultaneous requests at t=0 of every
    * phase — the instantaneous rate stays inside the same budget the
    * sustained rate obeys (a server-side limiter sized from the same
    * 5000 req/h cap would otherwise see the spike).
    */
  def staggeredThrottle(minIntervalMs: Long): Throttle = {
    val tc = org.apache.spark.TaskContext.get()
    val off =
      if (tc == null || minIntervalMs <= 0 || tc.numPartitions() <= 1) 0L
      else (minIntervalMs * tc.partitionId()) / tc.numPartitions()
    new Throttle(minIntervalMs, initialOffsetMs = off)
  }

  /** S2 — exhaustive-pagination scan of one endpoint
    * (fetch_basic_data, api_client.py:455-519). Pagination is
    * inherently sequential per endpoint — the parallel axis is ACROSS
    * endpoints/forms (see fetchMany), exactly the reference's
    * observation (SURVEY S2).
    */
  def drainPages(fetcher: Fetcher, throttle: Throttle, apiType: String,
      query: Map[String, String] = Map.empty): Seq[Page] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Page]
    var token: Option[String] = None
    var continue = true
    while (continue) {
      throttle.acquire()
      val page = fetcher.fetchPage(apiType, query, token)
      buf += page
      token = page.next
      continue = page.next.isDefined && page.error.isEmpty
    }
    buf.toSeq
  }

  /** S3 — incremental query-param pushdown (applied_after watermark,
    * api_client.py:569-573): builds the source-level predicate. */
  def incrementalQuery(formId: Option[Long], appliedAfter: Option[String],
      includeCanceled: Boolean = true): Map[String, String] =
    Map.empty[String, String] ++
      formId.map("form_id" -> _.toString) ++
      appliedAfter.map("applied_after" -> _) ++
      (if (includeCanceled) Map("include_canceled" -> "true") else Map.empty)

  /** T2 — the canceled-after-completion re-sweep predicate
    * (api_client.py:586-589): keyed on `completed_after` (which the
    * API maps to final_approved_date), NOT `applied_after` — a request
    * applied before the watermark but canceled since the last run
    * would be filtered out by an applied_after predicate and, being
    * terminal in silver, never refetched.
    */
  def resweepQuery(formId: Option[Long],
      completedAfter: String): Map[String, String] =
    Map("include_canceled" -> "true",
      "status" -> "canceled_after_completion",
      "completed_after" -> completedAfter) ++
      formId.map("form_id" -> _.toString)

  /** Fan the per-key detail fetches out over executors (S4 at scale):
    * ids are distributed, each partition runs a throttled fetch loop,
    * results come back as an Either-style DataFrame (S5) — no
    * driver-side loop over ids. `docBytes`, when given, adds up the
    * UTF-8 size of every fetched document as the fetch runs, so a
    * caller learns the batch's size without a job of its own.
    */
  def fetchDetails(spark: SparkSession, fetcher: Fetcher, apiType: String,
      ids: Dataset[String], minIntervalMs: Long = 0L,
      docBytes: Option[LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    ids.mapPartitions { it =>
      val throttle = staggeredThrottle(minIntervalMs)
      it.map { id =>
        throttle.acquire()
        fetcher.fetchDetail(apiType, id) match {
          case Right(doc) =>
            docBytes.foreach(_.add(
              doc.getBytes(java.nio.charset.StandardCharsets.UTF_8).length))
            (id, doc, null: String)
          case Left(err) => (id, null: String, err)
        }
      }
    }.toDF("id", "doc", "error")
  }

  /** S2 at cluster scale — fan per-scope paginated scans out over
    * executors. Pagination stays sequential WITHIN a scope (the API's
    * page tokens force that), but scopes (forms) scan in parallel —
    * the same fan-out axis as [[fetchDetails]]. Each partition runs
    * its own throttle, so the cluster-wide rate is interval ×
    * parallelism; size `minIntervalMs` accordingly (the reference's
    * budget is 5000 req/h TOTAL, gateway/throttled_request.py:36-61).
    * Returns one row per result doc (scope_key, doc, null) plus one
    * (scope_key, null, error) row per failed page so callers can hold
    * back watermarks / route to the DLQ.
    */
  def fetchScans(spark: SparkSession, fetcher: Fetcher, apiType: String,
      scopes: Dataset[(String, Map[String, String])],
      minIntervalMs: Long = 0L): DataFrame = {
    import spark.implicits._
    scopes.mapPartitions { it =>
      val throttle = staggeredThrottle(minIntervalMs)
      it.flatMap { case (key, query) =>
        pageRows(key, drainPages(fetcher, throttle, apiType, query))
      }
    }.toDF("scope_key", "doc", "error")
  }

  /** Flatten a scope's pages to (key, doc, null) result rows and
    * (key, null, error) failure rows — shared by [[fetchScans]] and
    * [[fetchEndpoints]] so the error-row contract can't drift.
    */
  private def pageRows(key: String,
      pages: Seq[Page]): Seq[(String, String, String)] =
    pages.flatMap { p =>
      p.error match {
        case Some(e) => Seq((key, null: String, e))
        case None => p.results.map(d => (key, d, null: String))
      }
    }

  /** S2 across ENDPOINTS: exhaustive-pagination scans of several api
    * types in one executor-parallel pass (the reference loops the 7
    * master endpoints serially, integrator.py:535-539 — the parallel
    * axis it observes but never uses). Same contract as [[fetchScans]]
    * with api_type as the scope key.
    */
  def fetchEndpoints(spark: SparkSession, fetcher: Fetcher,
      apiTypes: Dataset[String], minIntervalMs: Long = 0L): DataFrame = {
    import spark.implicits._
    apiTypes.mapPartitions { it =>
      val throttle = staggeredThrottle(minIntervalMs)
      it.flatMap { api =>
        pageRows(api, drainPages(fetcher, throttle, api))
      }
    }.toDF("api_type", "doc", "error")
  }

  /** S5 — error taxonomy over fetched pages (status code → ok /
    * warning / fatal, api_client.py:390-453 + status/warnings.py):
    * a classification column + quarantine split instead of exceptions.
    */
  def classifyPages(spark: SparkSession, pages: Seq[(String, Page)]): DataFrame = {
    import spark.implicits._
    pages.map { case (api, p) =>
      val cls =
        if (p.error.exists(e => e.contains("Connection") ||
          e.contains("Timeout"))) "fatal"
        else if (p.statusCode != 200 || p.error.isDefined) "warning"
        else "ok"
      (api, p.statusCode, p.results.size, cls, p.error.orNull)
    }.toDF("api_type", "status_code", "n_results", "fetch_class", "error")
  }

  /** K5/§1.4 — bronze raw-response sink: append JSON pages partitioned
    * by api_type; replace-on-conflict happens lazily at read time via
    * lastWriteWins on (api_type, brief_key, detailed_key) — an
    * append-only log with merge-on-read, which is the scalable form of
    * the reference's UNIQUE ON CONFLICT REPLACE table.
    */
  def appendRaw(df: DataFrame, bronzeDir: String): Unit =
    df.write.mode("append").partitionBy("api_type").parquet(bronzeDir)

  def readRawDeduped(spark: SparkSession, bronzeDir: String): DataFrame =
    graft.operators.Upsert.lastWriteWins(
      spark.read.parquet(bronzeDir),
      Seq("api_type", "brief_key", "detailed_key"), "ingest_ts")

  /** Parse a bronze JSON-string column with an explicit schema (F7);
    * unparseable documents land in a quarantine column instead of
    * failing the batch (S5). PERMISSIVE mode yields an all-null struct
    * (not a null) for malformed input, so validity is detected via a
    * required key field.
    */
  def parseDocs(raw: DataFrame, docCol: String, schema: StructType,
      requiredField: String = "id"): DataFrame =
    raw.withColumn("parsed", from_json(col(docCol), schema))
      .withColumn("parse_ok",
        col("parsed").isNotNull &&
          col(s"parsed.$requiredField").isNotNull)
}
