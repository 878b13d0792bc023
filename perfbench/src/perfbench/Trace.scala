package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.json4s._

import scala.collection.mutable

/** Spark work attributed to one job group. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var maxTaskMs = 0L
  var shuffleWriteBytes = 0L
  var gcMs = 0L
}

/** Counts jobs and task metrics per job group. The traced run gives
  * every call into the program its own job group. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val s = groups.getOrElseUpdate(g, new GroupStats)
    s.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new GroupStats)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.maxTaskMs = math.max(s.maxTaskMs, m.executorRunTime)
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.gcMs += m.jvmGCTime
    }
  }

  def stats(group: String): GroupStats = synchronized {
    groups.getOrElse(group, new GroupStats)
  }
}

/** One traced interval: name, start, end and the enclosing span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory during a traced run and written out at its
  * end. A span names the job group of the Spark jobs it starts; a
  * disabled tracer only runs the body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val listener = new GroupListener
  if (enabled) sc.addSparkListener(listener)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(name, name)
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, parent, t0, System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some((_, outer)) => sc.setJobGroup(outer, outer)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Duration of the last span of this name, in ms. */
  def ms(name: String): Double = done.reverseIterator.find(_.name == name).map(_.ms)
    .getOrElse(0.0)

  def group(name: String): GroupStats = {
    org.apache.spark.ListenerBusDrain(sc)
    listener.stats(name)
  }

  def json: JValue = JArray(done.sortBy(_.startNs).map(s => JObject(
    "id" -> JLong(s.id), "name" -> JString(s.name), "parent" -> JLong(s.parent),
    "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.endNs))).toList)
}
