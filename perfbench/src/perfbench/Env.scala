package perfbench

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Storage, memory and time measurements shared by the workloads. */
object Env {

  private val started = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.1fs] $msg")

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bytes read and written through Hadoop file systems in this JVM:
    * every table read and write, but not shuffle or block-manager
    * spills. */
  @annotation.nowarn("cat=deprecation")
  def ioBytes(): (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** Bytes on disk under `dir`, checksum files included. */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def files(dir: String): Set[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete(_: Path))
      finally s.close()
    }
  }

  /** Driver heap in use after a full collection, in MB: the least of
    * five readings a tenth of a second apart, so that blocks Spark
    * releases asynchronously are not counted as live. */
  def liveHeapMb(spark: SparkSession): Double = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  private def os = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  def loadAverage(): Double = os.getSystemLoadAverage

  /** Samples, twice a second, how many cores other processes keep
    * busy: system CPU load minus this JVM's. */
  final class OtherLoad(cores: Int) {
    private val bean = os.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    @volatile private var running = true
    private var sum = 0.0
    private var n = 0
    private val thread = new Thread(() => {
      while (running) {
        val sys = bean.getCpuLoad
        val own = bean.getProcessCpuLoad
        if (sys >= 0 && own >= 0) synchronized {
          sum += math.max(0.0, sys - own) * cores
          n += 1
        }
        Thread.sleep(500)
      }
    }, "other-load")
    thread.setDaemon(true)
    thread.start()

    /** Stops sampling; the mean number of cores others used. */
    def stop(): Double = {
      running = false
      thread.join()
      synchronized(if (n == 0) 0.0 else sum / n)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The program's recommended session at `local[cores]`, with every
    * scratch directory inside `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cores]", Some(cores))
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
