package graft.integrator

/** Progress side-channel — the reference's `_update_progress`
  * (`integrator/integrator.py:307-357`): each phase transition emits a
  * (status, detail, current/total) update that is logged, forwarded to
  * a toast-style notifier when it clears the configured level, and
  * persisted so an external observer (the reference's GUI) can read
  * the run state. The GUI itself is out of scope; the CONTRACT — a
  * pluggable sink receiving ordered phase updates plus a durable
  * last-status file (`app_status` analog, `save_status`) — is what
  * this module keeps.
  */
object Progress {

  /** The 4-phase ladder of `integrator.py _run()` plus bookends
    * (ProgressStatus in the reference). */
  sealed abstract class Phase(val order: Int, val name: String)
  case object Initializing extends Phase(0, "initializing")
  case object BasicData extends Phase(1, "basic_data")
  case object FormOutline extends Phase(2, "form_outline")
  case object FormDetail extends Phase(3, "form_detail")
  case object RegisterViews extends Phase(4, "register_views")
  case object Done extends Phase(5, "done")

  /** Levels mirror the reference's LogLevel gate for toasts
    * (notify_log_level): 0 info, 1 warn, 2 error. */
  val Info = 0
  val Warn = 1
  val Error = 2

  final case class Update(phase: Phase, detail: String,
      current: Long, total: Option[Long], level: Int) {
    /** None total renders like the reference: 0 → 0%, else 100%. */
    def percent: Int = total match {
      case Some(t) if t > 0 => ((current * 100) / t).toInt
      case Some(_) => 100
      case None => if (current == 0) 0 else 100
    }
    def message: String = {
      val frac = total.map(t => s" $current/$t").getOrElse("")
      s"[${phase.name}] $detail$frac ($percent%)"
    }
  }

  /** Where updates go. Implementations must be driver-side and cheap —
    * updates fire between Spark actions, never inside tasks. */
  trait Notifier {
    def update(u: Update): Unit
  }

  /** Default sink: structured log lines (the toast body analog),
    * toast-level gating included — updates below `minLevel` still log
    * at debug, mirroring the reference's always-log / sometimes-toast
    * split. */
  class LogNotifier(minLevel: Int = Info) extends Notifier
      with org.apache.spark.internal.Logging {
    override def update(u: Update): Unit =
      if (u.level >= minLevel) {
        if (u.level >= Error) logError(u.message)
        else if (u.level >= Warn) logWarning(u.message)
        else logInfo(u.message)
      } else logDebug(u.message)
  }

  /** Fan-out to several sinks (log + GUI + file, like the reference's
    * logger + notifier + app_status trio). Sinks are ISOLATED: one
    * sink failing (a status file on a full disk) must not starve the
    * sinks after it — every other sink still receives every update.
    */
  class Composite(sinks: Seq[Notifier]) extends Notifier {
    override def update(u: Update): Unit = sinks.foreach { s =>
      try s.update(u)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Durable last-status sink — the `app_status.progress.set` +
    * `save_status` analog: one small JSON file an external observer
    * polls. Goes through the Hadoop FileSystem API, NOT java.nio: the
    * Integrator hands this `$statePath/app_status.json`, and at scale
    * statePath is an object-store prefix (s3a://…) that java.nio
    * would silently mangle into a bogus local relative path — the
    * silver tables would land in the store while the status contract
    * broke with no signal (Composite swallows sink errors by design).
    * Write-temp-then-single-overwrite-rename (atomic on HDFS/posix;
    * object stores substitute a conditional put) so a crash mid-write
    * never leaves a torn file, and a crashed run's LAST phase
    * survives for the resume diagnosis. */
  class StatusFile(path: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()) extends Notifier {
    override def update(u: Update): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val f = p.getFileSystem(conf)
      Option(p.getParent).foreach(f.mkdirs(_))
      val tmp = new org.apache.hadoop.fs.Path(
        Option(p.getParent).getOrElse(new org.apache.hadoop.fs.Path(".")),
        p.getName + ".tmp")
      // json4s escapes `detail` fully: a Windows-style path or a stray
      // control byte must not produce an unparseable status file
      import org.json4s._
      val json = org.json4s.jackson.JsonMethods.compact(JObject(
        "phase" -> JString(u.phase.name), "order" -> JLong(u.phase.order),
        "detail" -> JString(u.detail), "current" -> JLong(u.current),
        "total" -> u.total.fold[JValue](JNull)(JLong(_)),
        "percent" -> JLong(u.percent)))
      val out = f.create(tmp, true)
      try out.write((json + "\n").getBytes("UTF-8")) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        f.makeQualified(tmp).toUri, conf)
      fc.rename(f.makeQualified(tmp), f.makeQualified(p),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }
}
