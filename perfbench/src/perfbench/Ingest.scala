package perfbench

import graft.integrator.Integrator
import graft.model.JobcanSchemas
import graft.normalize.{Normalize, NormalizeTables}
import graft.operators.ParquetMerge
import graft.views.Views
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._


/** What one `Integrator.run()` cost, seen from outside the program. */
final case class RunStats(seconds: Double, bytesWritten: Long, bytesFetched: Long,
    pageCalls: Long, detailCalls: Long, fetchBusyMs: Double)

/** Drives the integrator over a synthetic API and measures the layers
  * below it for the traced run. */
final class IngestDriver(spark: SparkSession, tracer: Tracer) {

  private def integrator(api: String, state: String) =
    new Integrator(spark, new SyntheticFetcher(api), state)

  private def measured(body: => Unit): RunStats = {
    val c = ApiRegistry.counters
    c.reset()
    val (_, w0) = Env.ioBytes()
    val t0 = Env.now()
    body
    val s = Env.secs(t0)
    RunStats(s, Env.ioBytes()._2 - w0, c.bytes.get, c.pageCalls.get,
      c.detailCalls.get, c.busyNanos.get / 1e6)
  }

  /** One untraced `Integrator.run()`. */
  def run(api: String, state: String): RunStats =
    measured(integrator(api, state).run())

  /** The same run, with the phases called one by one in `run()`'s
    * order, each in its own span and Spark job group. */
  def runTraced(api: String, state: String): RunStats = measured {
    val integ = integrator(api, state)
    tracer.span("run") {
      tracer.span("preflight")(integ.preflight())
      tracer.span("basic_data")(integ.updateBasicData())
      val (outline, captured) = tracer.span("outline")(integ.fetchOutlines())
      try tracer.span("detail")(integ.updateFormDetails(outline, captured))
      finally { outline.unpersist(); captured.unpersist() }
      tracer.span("register_views")(integ.registerViews())
    }
  }

  private def parse(docs: Seq[String], schema: org.apache.spark.sql.types.StructType) = {
    import spark.implicits._
    spark.createDataset(docs).select(from_json(col("value"), schema).as("d"))
      .select(col("d.*")).localCheckpoint(true)
  }

  /** The silver batches that the masters of `api` and the detail
    * documents `docs` shred into: (masters, request tables). */
  def shred(api: ApiState, docs: Seq[String]): (Map[String, DataFrame], Map[String, DataFrame]) = {
    def m(name: String) = parse(api.masterPages(name), name match {
      case "users" => JobcanSchemas.userSchema
      case "groups" => JobcanSchemas.groupSchema
      case "positions" => JobcanSchemas.positionSchema
      case "projects" => JobcanSchemas.projectSchema
      case "companies" => JobcanSchemas.companySchema
      case "fix_journals" => JobcanSchemas.fixJournalSchema
      case "forms" => JobcanSchemas.formSchema
    })
    val masters = Normalize.users(m("users")) ++ Normalize.fixJournals(m("fix_journals")) ++
      Map("groups" -> Normalize.groups(m("groups")),
        "positions" -> Normalize.positions(m("positions")),
        "projects" -> Normalize.projects(m("projects")),
        "companies" -> Normalize.companies(m("companies")),
        "forms" -> Normalize.forms(m("forms")))
    val requests = Normalize.requests(parse(docs, JobcanSchemas.requestDetailSchema))
    (masters, requests)
  }

  /** Runs every shred output to completion and keeps it, so that a
    * merge of it times the merge alone: (kept outputs, ms, rows). */
  def forceAll(outputs: Map[String, DataFrame]): (Map[String, DataFrame], Double, Long) = {
    val t0 = Env.now()
    val kept = outputs.map { case (name, df) => name -> df.localCheckpoint(true) }
    val ms = Env.secs(t0) * 1e3
    (kept, ms, kept.values.map(_.count()).sum)
  }

  /** `ParquetMerge.mergeTable` of each batch into a copy of the pre-run
    * state: (total ms, slowest table ms, MB read, MB written). */
  def mergeAll(state: String, batches: Map[String, DataFrame]): (Double, Double, Double, Double) = {
    val (r0, w0) = Env.ioBytes()
    val times = NormalizeTables.all.filter(batches.contains).map { name =>
      val t0 = Env.now()
      ParquetMerge.mergeTable(spark, s"$state/silver/$name", name, batches(name))
      Env.secs(t0) * 1e3
    }
    val (r1, w1) = Env.ioBytes()
    (times.sum, times.max, (r1 - r0) / 1048576.0, (w1 - w0) / 1048576.0)
  }

  /** Registers the views over a state, then evaluates each in full
    * once, to its row count and hash: (register ms, view → (ms, hash)). */
  def viewTimes(t: Map[String, DataFrame]): (Double, Seq[(String, Double, (Long, Long))]) = {
    val t0 = Env.now()
    new Views(t).registerAll()
    val reg = Env.secs(t0) * 1e3
    (reg, Gates.ViewNames.map { v =>
      val t1 = Env.now()
      val h = Gates.viewHash(spark, v)
      (v, Env.secs(t1) * 1e3, h)
    })
  }
}
