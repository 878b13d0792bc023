package graft.incr

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental-batch engine (SURVEY §2.10, T1–T6): the Spark rewrite
  * of the reference's checkpoint/resume machinery
  * (`integrator/integrator.py:702-853`, `status/status.py`).
  *
  * State lives in two small checkpoint tables (parquet dirs at scale;
  * any DataFrames in tests):
  *  - watermarks(scope_key, watermark_ts)   — T1 per-form high-water
  *  - failures(api_type, scope_key, item_id, phase, error, ts) — T5 DLQ
  *
  * All functions are pure DataFrame → DataFrame so the logic is
  * unit-testable exactly like the reference's `test_status.py`.
  */
object Incremental {

  /** Terminal request statuses (gateway.py:497-501): anything else is
    * re-fetched every run (T3). */
  val terminalStatuses: Seq[String] =
    Seq("completed", "rejected", "canceled", "canceled_after_completion")

  /** T4 — progress ladder (status.py:159-: AppProgress /
    * is_future_process): completed phases are skipped on resume. */
  val phases: Seq[String] = Seq(
    "INITIALIZED", "BASIC_DATA", "FORM_OUTLINE", "FORM_DETAIL",
    "TERMINATING")

  def isFuturePhase(current: String, phase: String): Boolean =
    phases.indexOf(phase) > phases.indexOf(current)

  /** T1 — capture the new high-watermark per scope BEFORE fetching
    * (gateway.py:417-418): max event time per scope in the batch.
    */
  def captureWatermarks(batch: DataFrame, scopeCol: String,
      tsCol: String): DataFrame =
    batch.groupBy(col(scopeCol).as("scope_key"))
      .agg(max(col(tsCol)).as("watermark_ts"))

  /** T1 — commit-after-batch: merge newly captured watermarks into the
    * store, keeping the max per scope. Idempotent (re-commit of the
    * same batch is a no-op) — the Spark analog of
    * "write watermark only after every request of the form processed"
    * (integrator.py:838-840).
    */
  def commitWatermarks(store: DataFrame, captured: DataFrame): DataFrame =
    store.unionByName(captured)
      .groupBy(col("scope_key"))
      .agg(max(col("watermark_ts")).as("watermark_ts"))

  /** T1/S3 — incremental filter: rows of `data` strictly after their
    * scope's committed watermark (rows in scopes with no watermark all
    * pass). At 100 TB this predicate prunes bronze partitions.
    */
  def newerThanWatermark(data: DataFrame, store: DataFrame,
      scopeCol: String, tsCol: String): DataFrame =
    data.join(broadcast(store),
        data(scopeCol) === store("scope_key"), "left")
      .filter(col("watermark_ts").isNull ||
        data(tsCol) > col("watermark_ts"))
      .drop("scope_key", "watermark_ts")

  /** T3 — open-status re-fetch set (gateway.py:495-507):
    * target = outline ids ∪ non-terminal silver ids − ignore ids.
    */
  def refetchTargets(outlineIds: DataFrame, silver: DataFrame,
      ignoreIds: DataFrame, idCol: String, statusCol: String): DataFrame = {
    val open = silver.filter(!col(statusCol).isin(terminalStatuses: _*))
      .select(col(idCol))
    outlineIds.select(col(idCol)).union(open).distinct()
      .join(ignoreIds.select(col(idCol)), Seq(idCol), "left_anti")
  }

  /** T5 — record failures into the DLQ (status.py:277-575 failure
    * records, keyed per api/scope/item/phase). The newest error/ts win,
    * but the attempt count ACCUMULATES across merges (`n_failures`) —
    * a last-write-wins row would cap every item at one recorded
    * failure and the maxAttempts quarantine below could never fire.
    */
  def recordFailures(dlq: DataFrame, failures: DataFrame): DataFrame = {
    val keys = Seq("api_type", "scope_key", "item_id", "phase")
    val old =
      if (dlq.columns.contains("n_failures")) dlq
      else dlq.withColumn("n_failures", lit(1L))
    // __gen breaks ts ties in favor of the incoming batch
    old.withColumn("__gen", lit(0))
      .unionByName(failures.withColumn("n_failures", lit(1L))
        .withColumn("__gen", lit(1)))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n_failures")).as("n_failures"),
        max_by(col("error"), struct(col("ts"), col("__gen"))).as("error"),
        max(col("ts")).as("ts"))
  }

  /** T5 — selective retry: items of the work list that failed in a
    * previous run come back flagged (`retry_priority`, for callers to
    * sort first), everything already failed `maxAttempts`+ times is
    * dropped to quarantine. Counts come from the DLQ's accumulated
    * `n_failures`; a legacy DLQ without the column counts rows.
    * `apiType`/`phase` scope the count to the relevant failure class —
    * the DLQ is keyed per (api, scope, item, phase) precisely so that
    * unrelated apis' attempts don't conflate and quarantine an item
    * early.
    */
  def planRetries(worklist: DataFrame, dlq: DataFrame, idCol: String,
      maxAttempts: Int = 3, apiType: Option[String] = None,
      phase: Option[String] = None): DataFrame = {
    val perRow =
      if (dlq.columns.contains("n_failures")) col("n_failures")
      else lit(1L)
    val scoped = Seq(
      apiType.map(a => col("api_type") === a),
      phase.map(p => col("phase") === p)
    ).flatten.foldLeft(dlq)((d, pred) => d.filter(pred))
    val counts = scoped.groupBy(col("item_id").as(idCol))
      .agg(sum(perRow).as("__n_failures"))
    worklist.join(broadcast(counts), Seq(idCol), "left")
      .filter(coalesce(col("__n_failures"), lit(0)) < maxAttempts)
      .withColumn("retry_priority",
        coalesce(col("__n_failures"), lit(0)) > 0)
      .drop("__n_failures")
  }

  /** T6 — the retry ladder around a whole batch run (app.py:19-36).
    * Driver-side by design: it wraps the batch, it is not data flow.
    *
    * Retryable = an IOException anywhere in the cause chain. A bare
    * `case e: IOException` never fires in practice: Spark wraps every
    * task/stage failure in SparkException with the IO error as the
    * CAUSE, so the ladder would only ever retry driver-local throws
    * (i.e. the unit tests) and abort on the real transient store
    * failures it exists for. Non-IO failures (analysis errors, OOM,
    * logic bugs) still propagate on attempt 1 — retrying those burns
    * the ladder for nothing.
    */
  def withRetryLadder[A](delays: Seq[Long] = Seq(60000L, 300000L, 900000L),
      sleep: Long => Unit = Thread.sleep)(run: () => A): A = {
    def ioRooted(e: Throwable): Boolean = {
      var t = e
      var depth = 0
      while (t != null && depth < 16) {
        if (t.isInstanceOf[java.io.IOException]) return true
        t = t.getCause
        depth += 1
      }
      false
    }
    def attempt(remaining: Seq[Long]): A =
      try run() catch {
        case scala.util.control.NonFatal(e)
            if remaining.nonEmpty && ioRooted(e) =>
          sleep(remaining.head); attempt(remaining.tail)
      }
    attempt(delays)
  }
}
