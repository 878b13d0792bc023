package perfbench

import graft.docs.{MasterDocs, Reassembly}
import perfbench.Model.{arr, obj, render, str}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{JBool, JDouble, JLong, JObject, JString, JValue}

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** Benchmark of the integrator pipeline and the snapshot store, driven
  * from outside the program. One process runs one workload, with one
  * driver thread calling the program in a closed loop, and prints one
  * JSON result line last on stdout:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        --records DIR --cache DIR [--size full|tiny] [--prepare 1]
  *        [--source-sha SHA] [--git-head SHA]
  *
  * `--prepare 1` only builds the state `ingest_incremental` starts
  * from, into the cache directory. `perfbench/run.py` passes all of
  * these. 
  * With `--trace 0` it prints the end-to-end metrics, with `--trace 1`
  * the per-layer ones (see perfbench/README.md). */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, records: String, cache: String, size: String, sourceSha: String,
      gitHead: String, prepare: Boolean)

  /** Inputs per size: ingest requests, snapshot base rows and batch. */
  final case class Sizes(requests: Int, snapRows: Int, snapBatch: Int)
  val SizesByName: Map[String, Sizes] = Map(
    "full" -> Sizes(requests = 1000, snapRows = 20000, snapBatch = 500),
    "tiny" -> Sizes(requests = 40, snapRows = 2000, snapBatch = 100))

  /** Seed of the API state `ingest_incremental` starts from; `--seed`
    * drives the delta on top of it. A fixed base lets the pre-built
    * state be made once per build (`--prepare`). */
  val BaseSeed = 20240101L

  val Workloads: Set[String] = Set("ingest_cold", "ingest_incremental", "snapshot_dml")

  /** A metric as printed: name, value, unit. */
  final case class Metric(name: String, value: Double, unit: String)

  /** What a workload run reports. `failed` counts operations that threw
    * or failed a gate. */
  final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
      metrics: Seq[Metric], info: Seq[(String, JValue)])

  /** Driver threads for the untimed checks. */
  private lazy val GatePool = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(3, r => { val t = new Thread(r, "gates"); t.setDaemon(true); t }))

  private val IntegratorPhases = Seq("basic_data", "outline", "detail", "register_views")
  private val SparkStats = Seq("jobs" -> "count", "tasks" -> "count", "task_ms" -> "ms",
    "max_task_ms" -> "ms", "shuffle_write_mb" -> "MB", "gc_ms" -> "ms")

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "run_s" -> "s",
    "write_amp" -> "ratio", "space_amp" -> "ratio", "heap_live_mb" -> "MB")

  /** Every per-layer metric, in print order. A traced run prints all of
    * them; layers a workload does not run read 0. */
  val PerLayer: Seq[(String, String)] =
    IntegratorPhases.map(p => s"integrator.${p}_ms" -> "ms") ++
      (IntegratorPhases ++ SnapshotChain.Kinds).flatMap(g =>
        SparkStats.map { case (s, u) => s"spark.$g.$s" -> u }) ++
      Seq("ingest.page_calls" -> "count", "ingest.detail_calls" -> "count",
        "ingest.fetch_busy_ms" -> "ms", "ingest.refetch_ratio" -> "ratio",
        "normalize.masters_ms" -> "ms", "normalize.requests_ms" -> "ms",
        "normalize.rows_out" -> "count",
        "merge.total_ms" -> "ms", "merge.max_table_ms" -> "ms",
        "merge.bytes_read_mb" -> "MB", "merge.bytes_written_mb" -> "MB",
        "views.register_ms" -> "ms") ++
      Gates.ViewNames.map(v => s"views.${v}_ms" -> "ms") ++
      Seq("docs.reassemble_ms" -> "ms", "docs.master_docs_ms" -> "ms",
        "docs.mismatches" -> "count") ++
      SnapshotChain.Kinds.map(k => s"snapshots.${k}_ms" -> "ms") ++
      Seq("snapshots.stmt_p50_ms" -> "ms", "snapshots.files_written" -> "count",
        "snapshots.bytes_written_mb" -> "MB", "trace.run_s" -> "s")

  def main(args: Array[String]): Unit = {
    val t0 = Env.now()
    val o = parse(args)
    val sizes = SizesByName.getOrElse(o.size, sys.error(s"unknown size ${o.size}"))
    require(Workloads(o.workload), s"unknown workload ${o.workload}")
    val cores = Runtime.getRuntime.availableProcessors()
    val loadBefore = Env.loadAverage()
    val others = new Env.OtherLoad(cores)
    Files.createDirectories(Paths.get(o.work))
    Files.createDirectories(Paths.get(o.records))
    val spark = Env.session(cores, o.work)
    Env.log(f"session started in ${Env.secs(t0)}%.1f s")
    if (o.prepare) {
      try prepareIncremental(spark, o, sizes) finally { spark.stop(); others.stop() }
      return
    }
    val tracer = new Tracer(spark.sparkContext, o.trace)
    val outcome =
      try o.workload match {
        case "ingest_cold" => ingestCold(spark, o, sizes, tracer, t0)
        case "ingest_incremental" => ingestIncremental(spark, o, sizes, tracer, t0)
        case "snapshot_dml" => snapshotDml(spark, o, sizes, tracer, t0)
      } catch {
        // an operation that throws is a failed run, reported as such
        case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          Outcome(1, 1, Seq(s"threw ${e.getClass.getName}: ${e.getMessage}"), Nil, Nil)
      } finally spark.stop()
    val loadAfter = Env.loadAverage()
    val otherCores = others.stop()
    // other processes kept more than half a core busy on average
    val contended = otherCores > 0.5
    if (contended)
      Env.log(f"WARN contended run: other processes used $otherCores%.2f of $cores cores " +
        f"(load average $loadBefore%.2f before, $loadAfter%.2f after)")
    outcome.problems.foreach(p => System.err.println(s"GATE FAILED: $p"))

    val wanted = if (o.trace) PerLayer else EndToEnd
    val byName = outcome.metrics.map(m => m.name -> m).toMap
    val printed = wanted.map { case (n, u) =>
      n -> byName.get(n).map(_.copy(unit = u)).getOrElse(Metric(n, 0.0, u))
    }
    val record = obj(
      "workload" -> JString(o.workload), "seed" -> JLong(o.seed),
      "seconds" -> JLong(o.seconds), "trace" -> JBool(o.trace),
      "size" -> JString(o.size), "cores" -> JLong(cores),
      "xmx_mb" -> JLong(Runtime.getRuntime.maxMemory() / 1048576),
      "git_head" -> str(o.gitHead), "source_sha" -> str(o.sourceSha),
      "load_before" -> num(loadBefore), "load_after" -> num(loadAfter),
      "other_cores" -> num(otherCores), "contended" -> JBool(contended),
      "attempted" -> JLong(outcome.attempted), "failed" -> JLong(outcome.failed),
      "problems" -> arr(outcome.problems.map(JString(_))),
      "inputs" -> JObject(outcome.info.toList),
      "metrics" -> JObject(outcome.metrics.map(m => m.name -> num(m.value)).toList),
      "spans" -> tracer.json)
    val stamp = System.currentTimeMillis()
    Files.write(Paths.get(o.records,
      s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}-$stamp.json"),
      render(record).getBytes("UTF-8"))

    val correct = outcome.problems.isEmpty && outcome.failed == 0
    println(render(obj("correct" -> JBool(correct),
      "attempted" -> JLong(outcome.attempted), "failed" -> JLong(outcome.failed),
      "metrics" -> JObject(printed.map { case (n, m) =>
        n -> obj("value" -> num(m.value), "unit" -> JString(m.unit)) }.toList))))
  }

  /** A measured value; JSON has no NaN or infinity. */
  private def num(d: Double): JValue = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    JDouble(d)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("records"), need("cache"),
      m.getOrElse("size", "full"), m.getOrElse("source-sha", null),
      m.getOrElse("git-head", null), m.get("prepare").contains("1"))
  }

  /** Runs `op` at least once and until `seconds` have passed. */
  private def loop[A](seconds: Int)(op: Int => A): Seq[A] = {
    val t0 = Env.now()
    val out = mutable.ArrayBuffer.empty[A]
    while (out.isEmpty || Env.secs(t0) < seconds) out += op(out.size)
    out.toSeq
  }

  private def sparkGroupMetrics(tracer: Tracer, groups: Seq[String],
      per: Double): Seq[Metric] = groups.flatMap { g =>
    val s = tracer.group(g)
    Seq(Metric(s"spark.$g.jobs", s.jobs / per, "count"),
      Metric(s"spark.$g.tasks", s.tasks / per, "count"),
      Metric(s"spark.$g.task_ms", s.taskMs / per, "ms"),
      Metric(s"spark.$g.max_task_ms", s.maxTaskMs.toDouble, "ms"),
      Metric(s"spark.$g.shuffle_write_mb", s.shuffleWriteBytes / per / 1048576.0, "MB"),
      Metric(s"spark.$g.gc_ms", s.gcMs / per, "ms"))
  }

  // ---- ingest workloads ---------------------------------------------

  /** What the ingest gates found, and how long the rebuilds took. */
  final case class IngestGates(problems: Seq[String], mismatches: Long, reassembleMs: Double,
      masterDocsMs: Double)

  /** Gates shared by both ingest workloads: silver row counts and the
    * request and master documents rebuilt from silver. With `timed`
    * the two rebuilds run one after the other, so their times are
    * clean; otherwise all three checks overlap. */
  private def ingestGates(spark: SparkSession, state: String, api: ApiState,
      timed: Boolean): IngestGates = {
    val t = Gates.silver(spark, state)
    def rebuilt(docs: => DataFrame, mismatches: DataFrame => Long): (Long, Double) = {
      val t0 = Env.now()
      val d = docs.localCheckpoint(true)
      val ms = Env.secs(t0) * 1e3
      try (mismatches(d), ms) finally d.unpersist()
    }
    def check[A](body: => A): Future[A] =
      if (timed) Future.successful(body) else Future(body)(GatePool)
    val counts = Future(Gates.rowCounts(t, api))(GatePool)
    val req = check(rebuilt(Reassembly.toJsonDocs(t), Gates.requestDocMismatches(spark, api, _)))
    val master = check(rebuilt(MasterDocs.toJsonDocs(t), Gates.masterDocMismatches(spark, api, _)))
    val (reqBad, reqMs) = Await.result(req, Duration.Inf)
    val (masterBad, masterMs) = Await.result(master, Duration.Inf)
    val problems = Await.result(counts, Duration.Inf) ++
      (if (reqBad > 0) Seq(s"$reqBad request documents differ from the generated ones") else Nil) ++
      (if (masterBad > 0) Seq(s"$masterBad master documents differ from the generated ones") else Nil)
    IngestGates(problems, reqBad + masterBad, reqMs, masterMs)
  }

  private def ingestMetrics(setupS: Double, runs: Seq[RunStats], stateBytes: Long,
      api: ApiState, heapMb: Double): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("run_s", Env.median(runs.map(_.seconds)), "s"),
    Metric("write_amp", Env.median(runs.map(r => r.bytesWritten.toDouble / r.bytesFetched)),
      "ratio"),
    Metric("space_amp", stateBytes.toDouble / api.servedBytes, "ratio"),
    Metric("heap_live_mb", heapMb, "MB"))

  /** A traced ingest starting from `pre` (None: empty) and the
    * per-layer measurements below it: (metrics, gate problems).
    * `changedOrNew` counts the documents the run had to fetch. */
  private def ingestLayers(spark: SparkSession, driver: IngestDriver, tracer: Tracer,
      o: Opts, apiKey: String, pre: Option[String],
      changedOrNew: Int): (Seq[Metric], Seq[String]) = {
    val api = ApiRegistry.get(apiKey)
    val state = s"${o.work}/traced"
    pre.foreach(Env.copyTree(_, state))
    val r = driver.runTraced(apiKey, state)
    Env.log(f"traced run: ${r.seconds}%.2f s")
    val phases = IntegratorPhases.map(p => Metric(s"integrator.${p}_ms", tracer.ms(p), "ms"))
    val fetch = Seq(Metric("ingest.page_calls", r.pageCalls.toDouble, "count"),
      Metric("ingest.detail_calls", r.detailCalls.toDouble, "count"),
      Metric("ingest.fetch_busy_ms", r.fetchBusyMs, "ms"),
      Metric("ingest.refetch_ratio", r.detailCalls.toDouble / changedOrNew, "ratio"))
    val sparkM = sparkGroupMetrics(tracer, IntegratorPhases, 1.0)
    // layers below the run, timed on the run's own documents
    val (masters, requests) = driver.shred(api, ApiRegistry.counters.fetched.asScala.toSeq)
    val (masterBatches, mastersMs, mastersRows) = driver.forceAll(masters)
    val (requestBatches, requestsMs, requestsRows) = driver.forceAll(requests)
    Env.log(f"shred: ${mastersMs + requestsMs}%.0f ms")
    // the merge join: into a copy of the state before the run, or, on a
    // cold run, of the state the run wrote, so no workload times only
    // the bootstrap write
    val mergeState = s"${o.work}/merge"
    Env.copyTree(pre.getOrElse(state), mergeState)
    val batches = masterBatches ++ requestBatches
    val (mTotal, mMax, mRead, mWritten) = driver.mergeAll(mergeState, batches)
    batches.values.foreach(_.unpersist())
    Env.log(f"merge: $mTotal%.0f ms")
    val t = Gates.silver(spark, state)
    val (regMs, viewMs) = driver.viewTimes(t)
    Env.log(f"views: ${viewMs.map(_._2).sum}%.0f ms")
    val gates = ingestGates(spark, state, api, timed = true)
    Env.log(f"documents: ${gates.reassembleMs + gates.masterDocsMs}%.0f ms")
    // after an incremental run, the views equal the views over a fresh
    // shred of the same final API, which is what a cold ingest of it
    // writes
    val viewProblems = if (pre.isEmpty) Nil else {
      val (fm, fr) = driver.shred(api, api.landed.map(r => Model.render(r.json)))
      val fresh = (fm ++ fr).map { case (n, df) => n -> df.localCheckpoint(true) }
      val want = Gates.viewHashes(spark, fresh)
      fresh.values.foreach(_.unpersist())
      viewMs.collect { case (v, _, got) if got != want(v) =>
        s"$v differs from the views over a fresh shred of the API: $got vs ${want(v)}" }
    }
    val problems = gates.problems ++ viewProblems
    Env.log("gates done")
    val metrics = phases ++ sparkM ++ fetch ++ Seq(
      Metric("normalize.masters_ms", mastersMs, "ms"),
      Metric("normalize.requests_ms", requestsMs, "ms"),
      Metric("normalize.rows_out", (mastersRows + requestsRows).toDouble, "count"),
      Metric("merge.total_ms", mTotal, "ms"), Metric("merge.max_table_ms", mMax, "ms"),
      Metric("merge.bytes_read_mb", mRead, "MB"),
      Metric("merge.bytes_written_mb", mWritten, "MB"),
      Metric("views.register_ms", regMs, "ms")) ++
      viewMs.map { case (v, ms, _) => Metric(s"views.${v}_ms", ms, "ms") } ++ Seq(
      Metric("docs.reassemble_ms", gates.reassembleMs, "ms"),
      Metric("docs.master_docs_ms", gates.masterDocsMs, "ms"),
      Metric("docs.mismatches", gates.mismatches.toDouble, "count"),
      Metric("trace.run_s", r.seconds, "s"))
    (metrics, problems)
  }

  /** Ingest operations against the API registered as `key`, each from
    * a copy of `pre` (None: an empty state), in a fresh JVM as a
    * scheduled batch job runs them. `changedOrNew` counts the documents
    * a run has to fetch. */
  private def ingest(spark: SparkSession, o: Opts, tracer: Tracer, t0: Long,
      gen: SyntheticApi, key: String, pre: Option[String], changedOrNew: Int): Outcome = {
    val api = ApiRegistry.get(key)
    val driver = new IngestDriver(spark, tracer)
    val setupS = Env.secs(t0)
    Env.log(f"set-up done in $setupS%.1f s")
    val info = Seq("requests" -> JLong(api.requests.size.toLong),
      "users" -> JLong(api.users.size.toLong),
      "served_json_bytes" -> JLong(api.servedBytes),
      "open_status_share" -> num(gen.openShare),
      "changed_or_new" -> JLong(changedOrNew.toLong),
      "failing_fetches" -> JLong(api.failingIds.size.toLong))
    if (o.trace) {
      val (metrics, problems) = ingestLayers(spark, driver, tracer, o, key, pre, changedOrNew)
      Outcome(1, if (problems.nonEmpty) 1 else 0, problems, metrics, info)
    } else {
      val heap0 = Env.liveHeapMb(spark)
      val runs = loop(o.seconds) { i =>
        val state = s"${o.work}/run-$i"
        pre.foreach(Env.copyTree(_, state))
        val r = driver.run(key, state)
        Env.log(f"run $i: ${r.seconds}%.2f s")
        r
      }
      val last = s"${o.work}/run-${runs.size - 1}"
      // the documents the fetcher kept are the benchmark's, not the program's
      ApiRegistry.counters.reset()
      val heap = Env.liveHeapMb(spark) - heap0
      val stateBytes = Env.du(last)
      val problems = ingestGates(spark, last, api, timed = false).problems
      Env.log("gates done")
      Outcome(runs.size, if (problems.nonEmpty) 1 else 0, problems,
        ingestMetrics(setupS, runs, stateBytes, api, heap), info)
    }
  }

  /** One `Integrator.run()` into an empty state. */
  private def ingestCold(spark: SparkSession, o: Opts, sizes: Sizes, tracer: Tracer,
      t0: Long): Outcome = {
    val gen = new SyntheticApi(o.seed, o.seed, sizes.requests)
    ApiRegistry.put("cold", gen.before)
    ingest(spark, o, tracer, t0, gen, "cold", None, gen.before.requests.size)
  }

  private def preState(o: Opts): String = s"${o.cache}/prestate-${o.size}"

  /** Builds the state `ingest_incremental` starts from: a cold ingest
    * of the base API, published by rename once complete. */
  private def prepareIncremental(spark: SparkSession, o: Opts, sizes: Sizes): Unit = {
    ApiRegistry.put("before", new SyntheticApi(BaseSeed, BaseSeed, sizes.requests).before)
    val tmp = s"${preState(o)}.tmp"
    Env.deleteTree(tmp)
    val r = new IngestDriver(spark, new Tracer(spark.sparkContext, false)).run("before", tmp)
    Files.move(Paths.get(tmp), Paths.get(preState(o)))
    Env.log(f"pre-built state made in ${r.seconds}%.1f s")
  }

  /** One `Integrator.run()` over the pre-built state, against an API
    * with a small delta. Each run restores a copy of the state, untimed. */
  private def ingestIncremental(spark: SparkSession, o: Opts, sizes: Sizes, tracer: Tracer,
      t0: Long): Outcome = {
    val gen = new SyntheticApi(BaseSeed, o.seed, sizes.requests)
    ApiRegistry.put("after", gen.after)
    val pre = preState(o)
    require(Files.isDirectory(Paths.get(pre)), s"no pre-built state at $pre")
    ingest(spark, o, tracer, t0, gen, "after", Some(pre), gen.changedIds.size)
  }

  // ---- snapshot store -------------------------------------------------

  /** Chains of snapshot SQL statements on one table, the first in a
    * fresh JVM. Set-up loads the base rows. */
  private def snapshotDml(spark: SparkSession, o: Opts, sizes: Sizes, tracer: Tracer,
      t0: Long): Outcome = {
    val dir = s"${o.work}/snap"
    val chain = new SnapshotChain(spark, "bench", dir, o.seed, sizes.snapRows, sizes.snapBatch)
    chain.create()
    val setupS = Env.secs(t0)
    Env.log(f"set-up done in $setupS%.1f s")
    val heap0 = Env.liveHeapMb(spark)
    val (_, w0) = Env.ioBytes()
    val times = loop(o.seconds) { _ =>
      val c0 = Env.now()
      chain.chain(tracer)
      val s = Env.secs(c0)
      Env.log(f"chain: $s%.2f s")
      s
    }
    val written = Env.ioBytes()._2 - w0
    val heap = Env.liveHeapMb(spark) - heap0
    val spaceAmp = Env.du(dir).toDouble / chain.liveBytes
    val n = times.size
    val metrics =
      if (!o.trace) Seq(Metric("setup_s", setupS, "s"),
        Metric("run_s", Env.median(times), "s"),
        Metric("write_amp", written.toDouble / chain.changedBytes, "ratio"),
        Metric("space_amp", spaceAmp, "ratio"), Metric("heap_live_mb", heap, "MB"))
      else {
        val measured = SnapshotChain.Kinds.map(k => k -> chain.stmtMs(k).toSeq)
        measured.map { case (k, ms) => Metric(s"snapshots.${k}_ms", Env.median(ms), "ms") } ++
          sparkGroupMetrics(tracer, SnapshotChain.Kinds, n) ++ Seq(
          Metric("snapshots.stmt_p50_ms", Env.median(measured.flatMap(_._2)), "ms"),
          Metric("snapshots.files_written", chain.filesWritten.toDouble / n, "count"),
          Metric("snapshots.bytes_written_mb", written / 1048576.0 / n, "MB"),
          Metric("trace.run_s", Env.median(times), "s"))
      }
    chain.checkTable()
    val problems = chain.problems.toSeq
    // every statement of every chain is one operation
    val attempted = SnapshotChain.Kinds.size * n.toLong
    Outcome(attempted, math.min(problems.size.toLong, attempted), problems, metrics,
      Seq("base_rows" -> JLong(sizes.snapRows.toLong),
        "batch_rows" -> JLong(sizes.snapBatch.toLong),
        "live_rows" -> JLong(chain.liveRows.toLong), "chains" -> JLong(n.toLong)))
  }
}
