package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming twins of the incremental/batch operators: the
  * reference has no streaming engine (SURVEY §2.10) — its watermark
  * batch (T1) is re-expressed here as real event-time streaming, so the
  * same library serves both the nightly batch and a live feed.
  *
  * Every transform takes a DataFrame and doesn't care whether it came
  * from `read` or `readStream` — the plans are identical (verified in
  * StreamingSpec via MemoryStream); only the sink differs.
  */
object EventStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

  case class UserSessionState(nEvents: Long, lastTs: Long)
  case class SessionUpdate(user_id: Long, nEvents: Long, closed: Boolean)

  /** Tumbling 1-hour counts with a 2-hour event-time watermark — the
    * streaming form of queries.StreamingBatch.st1. Late events beyond
    * the watermark are dropped, state is bounded.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Session windows (30-minute gap) per user via the built-in
    * session_window — the streaming form of st3.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** Streaming dedup — first event per (user_id, event_type), the
    * streaming form of queries.StreamingBatch.st4: state is bounded by
    * the watermark (keys older than it are evicted), so this runs
    * forever without unbounded state — exactly the contract a
    * continuous training-data intake needs.
    */
  def dedupFirstSeen(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-static enrichment, the streaming form of st5: the static
    * dim side is broadcast per micro-batch (re-read each trigger, so a
    * slowly-changing dim is picked up without restart); no watermark
    * needed — stream-static joins are stateless.
    */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim),
      col("user_id") === col("c_custkey"))

  /** Stream-stream interval join, the streaming form of st6: each
    * side is watermarked and the join condition carries a time-range
    * bound, so the engine can evict buffered rows — clicks are held at
    * most (watermark + 10 min), purchases at most the watermark. The
    * state never grows unboundedly, which is what makes stream-stream
    * joins viable on an endless feed.
    */
  def followupJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_uid"), col("ts").as("c_ts"))
    val p = purchases.withWatermark("ts", "30 minutes")
      .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
    c.join(p,
      col("c_uid") === col("p_uid") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
  }

  /** LEFT OUTER stream-stream interval join — [[followupJoin]] plus
    * the semantics a batch left join can't give an endless feed: a
    * click with NO purchase in its window must still be emitted, but
    * only once the engine can PROVE no match is coming — i.e. when
    * the watermark passes the end of the click's join window. Until
    * then the click sits in state; after, it emits with null
    * purchase columns and its state is evicted. Same state bound as
    * the inner form (both sides watermarked, time-range condition);
    * the null rows simply ride the state-eviction sweep, so
    * outer-join results lag the watermark by design — the test
    * advances the watermark explicitly to observe it.
    */
  def followupJoinLeft(clicks: DataFrame,
      purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_uid"), col("ts").as("c_ts"))
    val p = purchases.withWatermark("ts", "30 minutes")
      .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
    c.join(p,
      col("c_uid") === col("p_uid") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"),
      "leftOuter")
  }

  /** Custom keyed state via mapGroupsWithState: running per-user event
    * counter with processing-time timeout — the pattern for state the
    * built-in windows can't express (T4's resume-state analog).
    */
  def runningUserCounts(events: Dataset[Event],
      expireAfter: Option[String] = None): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    // NOTE: a processing-time timeout makes the engine self-trigger to
    // check expiry, so the stream never quiesces — opt in only for
    // production jobs that want state expiry (expireAfter=Some("30
    // minutes")); tests and bounded replays leave it off.
    val timeout = if (expireAfter.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserSessionState, SessionUpdate](timeout) {
        case (userId, batch, state: GroupState[UserSessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionUpdate(userId, s.nEvents, closed = true)
          } else {
            // O(1) fold — never batch.toSeq: a hot key's whole
            // micro-batch buffered on one executor is the exact OOM
            // the file's memory contract (see anomalies) forbids
            val prev = state.getOption.getOrElse(UserSessionState(0L, 0L))
            val (n, maxTs) = batch.foldLeft((0L, Long.MinValue)) {
              case ((c, m), e) => (c + 1, math.max(m, e.ts.getTime))
            }
            val next = UserSessionState(prev.nEvents + n,
              math.max(prev.lastTs, maxTs))
            state.update(next)
            expireAfter.foreach(state.setTimeoutDuration)
            SessionUpdate(userId, next.nEvents, closed = false)
          }
      }
  }

  case class GapSessionState(sessionStart: Long, lastTs: Long,
    nEvents: Long)
  case class OpenSessions(open: Seq[GapSessionState])
  case class ClosedSession(user_id: Long, session_start: Timestamp,
    n_events: Long, duration_s: Long)

  /** Gap-based sessionization with CUSTOM state — the streaming twin
    * of queries.TimeSeries.ts3 and the flatMapGroupsWithState shape
    * session_window can't express when per-session state is richer
    * than an aggregate (resume ladders, per-session spill files, …).
    *
    * State is the user's OPEN session set (plural: a late-but-within-
    * watermark event may open or extend an EARLIER session than the
    * newest one — single-session state would mis-attribute it). Each
    * trigger folds the incoming events in, coalesces sessions within
    * `gapMs` of each other (out-of-order arrivals extend session
    * start as well as end), and closes exactly the sessions whose
    * close point the watermark has passed — no future event can be
    * earlier than the watermark, so emission is exactly-once and
    * final (Append mode), and state stays watermark-bounded.
    */
  def gapSessions(events: Dataset[Event],
      gapMs: Long = 4L * 3600 * 1000): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    def close(uid: Long, s: GapSessionState): ClosedSession =
      ClosedSession(uid, new Timestamp(s.sessionStart), s.nEvents,
        (s.lastTs - s.sessionStart) / 1000)
    // merge time-sorted sessions that sit within one gap of each other
    def coalesced(ss: Seq[GapSessionState]): Seq[GapSessionState] =
      ss.sortBy(s => (s.sessionStart, s.lastTs))
        .foldLeft(Vector.empty[GapSessionState]) { (acc, s) =>
          acc.lastOption match {
            case Some(p) if s.sessionStart <= p.lastTs + gapMs =>
              acc.init :+ GapSessionState(p.sessionStart,
                math.max(p.lastTs, s.lastTs), p.nEvents + s.nEvents)
            case _ => acc :+ s
          }
        }
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSessions, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, batch, state: GroupState[OpenSessions]) =>
          val wm = state.getCurrentWatermarkMs()
          val prior = state.getOption.map(_.open).getOrElse(Seq.empty)
          val incoming = batch.map(e =>
            GapSessionState(e.ts.getTime, e.ts.getTime, 1L)).toSeq
          val all = coalesced(prior ++ incoming)
          // closed = no event ≥ watermark can still fall within gap
          val (closed, open) = all.partition(_.lastTs + gapMs < wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(OpenSessions(open))
            state.setTimeoutTimestamp(math.max(
              open.map(_.lastTs + gapMs).min, wm + 1))
          }
          closed.sortBy(_.sessionStart).map(close(uid, _)).iterator
      }
  }

  case class WindowCounts(counts: Map[String, Long])
  case class TopKRow(window_start: Timestamp, event_type: String,
    n: Long, rank: Int)

  /** Streaming per-window top-k with CUSTOM state — the ranked
    * aggregation windowed streaming aggs can't express (rank needs
    * the WHOLE window's counts; update-mode partial emissions would
    * rank a prefix). State per tumbling window = the type→count map
    * (O(#distinct types), watermark-bounded); emission happens ONLY
    * when the event-time timeout fires — i.e. the watermark has
    * passed the window end, so no in-window event can still arrive —
    * making the ranked rows exactly-once and final (Append mode).
    * Ties break deterministically (count desc, then type asc), same
    * as the batch twin st7 and its DuckDB oracle.
    */
  def windowTopK(events: Dataset[Event], windowMs: Long = 3600 * 1000L,
      k: Int = 3): Dataset[TopKRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(e => math.floorDiv(e.ts.getTime, windowMs) * windowMs)
      .flatMapGroupsWithState[WindowCounts, TopKRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (wstart, batch, state: GroupState[WindowCounts]) =>
          if (state.hasTimedOut) {
            val counts = state.get.counts
            state.remove()
            counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(k)
              .zipWithIndex.map { case ((t, n), i) =>
                TopKRow(new Timestamp(wstart), t, n, i + 1)
              }.iterator
          } else {
            val prev = state.getOption.map(_.counts)
              .getOrElse(Map.empty[String, Long])
            val upd = batch.foldLeft(prev) { (m, e) =>
              m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1)
            }
            state.update(WindowCounts(upd))
            // fire when the watermark proves the window complete
            state.setTimeoutTimestamp(wstart + windowMs)
            Iterator.empty
          }
      }
  }

  /** Σcents² rides a BigInt (Decimal(38,0) in state storage): a Long
    * accumulator silently wraps on a single |cents| above ~3·10⁹ —
    * unlike the batch ts7 path whose comparison was hardened to
    * 128-bit. Σcents stays a Long with a documented bound: |cents| ≤
    * 9·10⁸ for 10⁹ events/key keeps |S| under 9·10¹⁷ < 2⁶³. */
  case class AnomalyState(n: Long, s: Long, q: BigInt)
  case class AnomalyRow(event_id: Long, event_type: String,
    n_history: Long)

  /** Streaming z-score anomaly detection — the streaming twin of the
    * ts7 batch query. Per event-type state is the integer moment
    * triple (n, Σcents, Σcents²); each arriving event is tested
    * against the HISTORY state (before itself) with the same
    * denominator-cleared inequality as ts7 — (n·x−S)² > 9·(n·Q−S²) —
    * so the state is O(#types) with no per-event buffers and the test
    * involves no sqrt, no division, no float drift. Flagged events
    * STILL update the state (an anomalous regime shift becomes the
    * new normal, Gopher-style); production jobs wanting a forgetting
    * horizon run the ts5 EWMA shape instead — running moments are
    * deliberately the simplest exact-integer state.
    *
    * MEMORY CONTRACT: a hot key's micro-batch is NOT materialized.
    * Events fold through a bounded min-heap reorder buffer of
    * `maxReorder` events (per key, per trigger) — the full-sort
    * `batch.toSeq.sortBy` it replaces held the key's entire trigger
    * in memory. Emission order equals the exact (ts, event_id) sort
    * whenever no event arrives more than `maxReorder` positions out
    * of order within its group iterator — file/kafka sources deliver
    * near-time-ordered data, so the default 8192 is generous; a
    * source with unbounded intra-batch disorder should raise it (or
    * pre-sort upstream) and accepts O(maxReorder) state per key.
    */
  def anomalies(events: Dataset[Event], minHistory: Long = 10L,
      maxReorder: Int = 8192): Dataset[AnomalyRow] = {
    import events.sparkSession.implicits._
    require(maxReorder >= 1, "maxReorder must be >= 1")
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomalyState, AnomalyRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (etype, batch, state: GroupState[AnomalyState]) =>
          var st = state.getOption
            .getOrElse(AnomalyState(0L, 0L, BigInt(0)))
          val out = Seq.newBuilder[AnomalyRow]
          def absorb(e: Event): Unit = {
            val x = math.round(e.value * 100)
            // the cleared products reach n²·x² — the test runs in
            // BigInt so it cannot wrap
            val lhs = BigInt(st.n) * x - st.s
            if (st.n >= minHistory &&
                lhs * lhs > 9 * (BigInt(st.n) * st.q -
                  BigInt(st.s) * st.s))
              out += AnomalyRow(e.event_id, etype, st.n)
            st = AnomalyState(st.n + 1, st.s + x,
              st.q + BigInt(x) * x)
          }
          reorderedFold(batch, maxReorder)(absorb)
          state.update(st)
          out.result().iterator
      }
  }

  /** Fold a key's micro-batch through the bounded (ts, event_id)
    * min-heap reorder buffer shared by [[anomalies]] and
    * [[cusumDrift]]: pop the earliest event once the buffer exceeds
    * `maxReorder`, drain at end-of-batch. O(maxReorder) state — never
    * the full trigger — and emission order equals the exact sort
    * whenever no event arrives more than maxReorder positions out of
    * order within its group iterator.
    */
  private def reorderedFold(batch: Iterator[Event], maxReorder: Int)(
      absorb: Event => Unit): Unit = {
    val heap = new scala.collection.mutable.PriorityQueue[Event]()(
      Ordering.by[Event, (Long, Long)](e =>
        (e.ts.getTime, e.event_id)).reverse)
    batch.foreach { e =>
      heap.enqueue(e)
      if (heap.size > maxReorder) absorb(heap.dequeue())
    }
    while (heap.nonEmpty) absorb(heap.dequeue())
  }

  /** Reference mean rides as the exact rational (ref_s, ref_n); both
    * one-sided accumulators are pre-scaled by ref_n so the recurrence
    * stays integer. Long bounds (documented, same contract as
    * AnomalyState): |cents| ≤ 9·10⁸ and warmup ≤ 10⁶ keep every term
    * under n·|x| ≤ 9·10¹⁴ and the capped accumulators under
    * (h + slack + |x|)·n ≪ 2⁶³. */
  case class CusumState(refN: Long, refS: Long, sPos: Long, sNeg: Long)
  case class DriftRow(event_id: Long, event_type: String,
    direction: String, cusum_scaled: Long)

  /** Streaming drift detection — Page's CUSUM, the streaming twin of
    * the ts10 batch changepoint query. The batch form locates where a
    * COMPLETED series shifted; this alarms AS a shift happens: a
    * reference mean μ₀ is learned from the first `warmup` events per
    * key (exact rational ref_s/ref_n — no float state), then the
    * classic one-sided recurrences run pre-scaled by ref_n so they
    * stay integer-exact:
    *
    *   S⁺ ← max(0, S⁺ + n·x − ref_s − n·slack)   alarm when > n·h
    *   S⁻ ← max(0, S⁻ + ref_s − n·x − n·slack)   (downward twin)
    *
    * `slack` (cents) absorbs noise below the shift size of interest;
    * `h` (cents) is the decision threshold — both in the units of the
    * stream. An alarm emits a DriftRow and RESETS its accumulator
    * (Page's restart), so a sustained shift re-alarms at a steady
    * cadence rather than saturating. State is O(1) per key — four
    * longs — and events fold through the same bounded min-heap
    * reorder buffer as [[anomalies]] (hot keys never materialize a
    * whole trigger).
    */
  def cusumDrift(events: Dataset[Event], warmup: Long = 20L,
      slackCents: Long = 50L, thresholdCents: Long = 500L,
      maxReorder: Int = 8192): Dataset[DriftRow] = {
    import events.sparkSession.implicits._
    require(warmup >= 1 && slackCents >= 0 && thresholdCents > 0)
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, DriftRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (etype, batch, state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0L, 0L, 0L, 0L))
          val out = Seq.newBuilder[DriftRow]
          def absorb(e: Event): Unit = {
            val x = math.round(e.value * 100)
            if (st.refN < warmup) {
              st = st.copy(refN = st.refN + 1, refS = st.refS + x)
            } else {
              val n = st.refN
              val up = math.max(0L,
                st.sPos + n * x - st.refS - n * slackCents)
              val dn = math.max(0L,
                st.sNeg + st.refS - n * x - n * slackCents)
              val lim = n * thresholdCents
              st = st.copy(
                sPos = if (up > lim) 0L else up,
                sNeg = if (dn > lim) 0L else dn)
              if (up > lim)
                out += DriftRow(e.event_id, etype, "up", up)
              if (dn > lim)
                out += DriftRow(e.event_id, etype, "down", dn)
            }
          }
          reorderedFold(batch, maxReorder)(absorb)
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming MERGE sink: every micro-batch is applied to the target
    * parquet table with last-write-wins semantics (K5) inside
    * foreachBatch — the streaming twin of the bronze raw-response sink.
    * Checkpointing makes this exactly-once at the table level: replays
    * re-apply idempotent merges (T4).
    */
  /** Exactly-once streaming sink into a [[graft.operators.Snapshots]]
    * versioned table: every micro-batch publishes ONE new version,
    * fenced by the epoch id (`Snapshots.commitWithEpoch`). Unlike
    * [[mergeSink]] — whose exactly-once rests on the MERGE being
    * idempotent — this holds for non-idempotent batches too (append
    * logs, deltas): a crash-re-delivered epoch is detected from the
    * epoch id sealed in the head version's record and skipped, so the
    * table gains exactly one version per epoch no matter how many
    * times the engine replays it. Downstream readers get snapshot
    * isolation + time travel over the stream's history for free.
    */
  def versionedSink(stream: DataFrame, tableDir: String,
      checkpointDir: String, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil) =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
          // optional stats/bloom sidecars keep the STREAMING table
          // pruning-capable like any batch-committed one — sealed
          // with the epoch id by the same atomic slot rename
          graft.operators.Snapshots.commitWithEpoch(
            batch.sparkSession, batch.toDF(), tableDir, epochId,
            statsCols, bloomCols)
          ()
      }

  def mergeSink(stream: DataFrame, targetDir: String,
      checkpointDir: String, keys: Seq[String], orderCol: String) =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        // ParquetMerge owns the two overwrite-in-place guards (a
        // LINEAGE-TRUNCATING checkpoint before clobbering the input —
        // cache() is a soft barrier whose evicted blocks recompute
        // through the deleted files — and refreshByPath so the next
        // micro-batch's read can't resolve stale listings), plus the
        // bootstrap-only-on-PATH_NOT_FOUND read; the target reads with
        // the batch's schema, which the union needs anyway
        val target = graft.operators.ParquetMerge.read(spark, targetDir,
          Some(batch.schema))
        val merged = target match {
          case Some(existing) => graft.operators.Upsert.lastWriteWins(
            existing.unionByName(batch.toDF()), keys, orderCol)
          case None => batch.toDF()
        }
        graft.operators.ParquetMerge.write(spark, targetDir, merged)
        ()
      }
}
