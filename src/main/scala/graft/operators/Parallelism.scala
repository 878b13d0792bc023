package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scan fan-out for compute-heavy paths over unsplittable inputs.
  *
  * A parquet file is splittable only at row-group boundaries; a table
  * that arrives as a handful of single-row-group files scans as a
  * handful of tasks no matter what `maxPartitionBytes` says — and any
  * expensive per-row work fused into that scan stage (similarity
  * scoring, sketching, tokenization) runs at file parallelism, not
  * cluster parallelism. The classic symptom is a broadcast join whose
  * streamed side is a one-file scan: the entire pair-generation +
  * verification pipeline executes in ONE task while every other core
  * idles (guide §2.5 "input skew: one huge unsplittable file …
  * repartition immediately after the read").
  *
  * [[fanOut]] inserts that repartition ONLY when the plan is a scan
  * (see [[scanShaped]]) that would otherwise run narrower than the
  * session's parallelism — any other plan passes through untouched,
  * without a job to probe its width. At scale,
  * where the table is many files wide, it is an exact no-op and costs
  * nothing; on a narrow input it pays one small exchange to unlock
  * every core for the expensive stage above it. The partition count
  * is never a constant: it derives from `defaultParallelism` (the
  * core count locally, the executor-slot count on a cluster).
  *
  * Prefer the keyed form when the downstream operation shuffles by a
  * key anyway: `fanOut(df, col(k))` hash-partitions by that key into
  * `defaultParallelism` partitions — a downstream sort-merge /
  * shuffled-hash join reuses the exchange (guide §2.4) only when
  * `spark.sql.shuffle.partitions` equals that count (GraftSession
  * sizes it so by default; a session that overrides shuffle
  * partitions pays one extra exchange instead).
  * The keyless form round-robins (perfectly even, deterministic under
  * retry thanks to sortBeforeRepartition) for purely per-row work.
  *
  * Never use below `input_file_name()` / `spark_partition_id()`
  * consumers — the exchange changes both.
  */
object Parallelism {

  /** Partition count the frame would execute with — resolved from the
    * physical plan via the unboxed internal RDD (`df.rdd` would plan a
    * deserialize-to-Row projection on top; `toRdd` is the sanctioned
    * bridge). No job runs for scan-shaped input: FileScanRDD partitions
    * come from the driver-side file listing. On a plan with exchanges,
    * materializing the RDD under AQE executes the upstream stages, so
    * it is only called behind the [[scanShaped]] guard of
    * [[isNarrow]]. */
  private[graft] def planParts(df: DataFrame): Int =
    df.queryExecution.toRdd.getNumPartitions

  /** True when the analyzed plan is scan-shaped — leaves plus
    * Project/Filter/SubqueryAlias and non-shuffling coalesces only.
    * The narrowness probe and fan-out are only safe (and only
    * meaningful) on such plans: anything with joins/aggregates/
    * exchanges would execute its upstream stages just to be *counted*
    * (see [[planParts]]), and exits its last exchange at session
    * parallelism already. */
  private[graft] def scanShaped(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    !df.queryExecution.analyzed.exists {
      case _: LeafNode | _: Project | _: Filter | _: SubqueryAlias => false
      case r: Repartition => r.shuffle
      case _ => true
    }
  }

  /** True when `df` is scan-shaped and plans narrower than the
    * session's parallelism — the condition under which [[fanOut]]
    * repartitions and [[broadcastIfNarrow]] hints. False, without
    * probing, for any other plan, so the probe itself never runs a
    * job. */
  def isNarrow(df: DataFrame): Boolean =
    scanShaped(df) &&
      planParts(df) < df.sparkSession.sparkContext.defaultParallelism

  /** Broadcast hint gated on input narrowness AND estimated size. A
    * self-join whose one side was fanned out ties the planner's size
    * estimates, and WHICH side AQE broadcasts then flaps run to run —
    * broadcasting the fanned side silently re-serializes the probe to
    * the narrow side's one-task width (measured: the same query
    * 2.1 s / 16.8 s pass to pass). Hint only when the input is
    * provably narrow; at scale the input plans wide and the planner
    * keeps its own choice. Narrowness alone is NOT broadcast-sized —
    * one multi-GB single-row-group file is "narrow" but the explicit
    * hint would bypass autoBroadcastJoinThreshold and OOM the driver —
    * so the hint additionally requires the plan's size estimate to
    * fit the session's broadcast threshold. */
  def broadcastIfNarrow(df: DataFrame, narrow: Boolean): DataFrame =
    if (narrow && fitsBroadcast(df))
      org.apache.spark.sql.functions.broadcast(df)
    else df

  /** Plan-estimate gate for explicit broadcast hints: optimized-plan
    * sizeInBytes vs `spark.sql.autoBroadcastJoinThreshold` (driver-side
    * estimation only — no job). Conservative on purpose: a disabled
    * threshold (-1/0) or an unparsable value means "never hint". */
  private[graft] def fitsBroadcast(df: DataFrame): Boolean = {
    val thresholdBytes =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        df.sparkSession.conf
          .get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
      catch { case _: Exception => -1L }
    thresholdBytes > 0 &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        BigInt(thresholdBytes)
  }

  /** Partitions for a batch of `bytes`: one per
    * `spark.sql.files.maxPartitionBytes` (the session's scan-split
    * size), and at least one — the task count a file scan of the same
    * bytes would plan. A table written from a batch partitioned so
    * lands in about that many files, at any batch size. */
  def partitionsFor(spark: org.apache.spark.sql.SparkSession,
      bytes: Long): Int =
    partitionsFor(bytes, org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")))

  /** `max(1, ceil(bytes / target))`. */
  private[graft] def partitionsFor(bytes: Long, target: Long): Int =
    if (bytes <= 0L) 1
    else math.min((bytes - 1) / target + 1, Int.MaxValue.toLong).toInt

  /** `df` repartitioned to `defaultParallelism` when it
    * [[isNarrow]]; otherwise `df` itself. */
  def fanOut(df: DataFrame, by: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!isNarrow(df)) df
    // the partition count must be EXPLICIT: a keyed repartition that
    // lets the planner pick defers to AQE partition coalescing, which
    // sizes partitions by shuffle BYTES (advisory 64 MB / min 1 MB) —
    // a 1 MB exchange feeding millions of generated join pairs
    // coalesces straight back to one task, re-creating the very
    // bottleneck the fan-out exists to break. An explicit count is
    // honored by AQE; it still derives from the session, never a
    // constant.
    else if (by.nonEmpty) df.repartition(target, by: _*)
    else df.repartition(target)
  }

  /** Run independent driver-side actions (table merges, store setups)
    * concurrently, so the jobs of one back-fill the executor slots the
    * tail of another leaves idle.
    *
    * The threads are created by the CALLING thread on every call, so
    * each inherits the caller's Spark local properties — job group,
    * scheduler pool, active session — exactly as a sequential loop
    * would run with them. A shared pool (or the global execution
    * context) would instead carry whatever properties its threads
    * were born with.
    *
    * Every thunk runs to completion: none is cancelled or interrupted
    * when another fails, because an interrupted overwrite
    * (`ParquetMerge.write`) can lose its table. Once all have
    * finished — and all threads have exited — the first failure in
    * input order is rethrown as its original exception, with any
    * later failures attached as suppressed. At most
    * `defaultParallelism` thunks run at once; a single thunk (or a
    * session one slot wide) runs on the calling thread.
    */
  def concurrently(spark: org.apache.spark.sql.SparkSession)(
      batch: Seq[() => Unit]): Unit = {
    val thunks = batch.toIndexedSeq
    val width = math.min(thunks.size,
      spark.sparkContext.defaultParallelism)
    val failures = new Array[Throwable](thunks.size)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val drain: Runnable = () => {
      var i = next.getAndIncrement()
      while (i < thunks.size) {
        try thunks(i)()
        catch { case e: Throwable => failures(i) = e }
        i = next.getAndIncrement()
      }
    }
    if (width <= 1) drain.run()
    else {
      val workers = Seq.tabulate(width) { w =>
        val t = new Thread(drain, s"graft-concurrently-$w")
        t.setDaemon(true)
        t.start()
        t
      }
      // wait out every worker even if this thread is interrupted, then
      // restore the interrupt for the caller to see
      var interrupted = false
      workers.foreach { t =>
        while (t.isAlive)
          try t.join()
          catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread().interrupt()
    }
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) =>
        rest.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      case _ =>
    }
  }
}
