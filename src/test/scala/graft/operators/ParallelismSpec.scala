package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ParallelismSpec extends AnyFunSuite {
  private lazy val spark = graft.GraftSession
    .builder(master = "local[4]").getOrCreate()

  test("fanOut widens a narrow frame to defaultParallelism and " +
      "preserves the row multiset") {
    import spark.implicits._
    val narrow = (1 to 1000).toDF("x").coalesce(1)
    assert(Parallelism.planParts(narrow) == 1)
    val wide = Parallelism.fanOut(narrow)
    assert(Parallelism.planParts(wide) ==
      spark.sparkContext.defaultParallelism)
    assert(wide.agg(sum($"x"), count(lit(1))).head() ==
      narrow.agg(sum($"x"), count(lit(1))).head())
  }

  test("fanOut keyed form hash-partitions and is a no-op on an " +
      "already-wide frame") {
    import spark.implicits._
    val narrow = (1 to 100).map(i => (i % 7, i)).toDF("k", "x")
      .coalesce(1)
    val keyed = Parallelism.fanOut(narrow, col("k"))
    assert(Parallelism.planParts(keyed) ==
      spark.sparkContext.defaultParallelism)
    // same key → same partition: each k lands whole
    val spread = keyed
      .select(col("k"), org.apache.spark.sql.functions
        .spark_partition_id().as("p"))
      .distinct().groupBy(col("k")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(spread == 1L)
    val wide = narrow.repartition(16)
    assert(Parallelism.fanOut(wide) eq wide)
  }

  test("concurrently runs jobs under the caller's job group, rethrows " +
      "a failure's own exception after every thunk finished, and " +
      "leaves no thread behind") {
    import spark.implicits._
    val sc = spark.sparkContext
    // only this test's groups are recorded: other suites may share the
    // context, and jobs that all lost their group fail the count check
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("graft-cc-")).foreach(groups.add)
    }
    sc.addSparkListener(listener)
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]
    val counts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    def job(i: Int): () => Unit = () => {
      threads.add(Thread.currentThread())
      counts.put(i, (1 to 100 + i).toDF("x").filter($"x" % 2 === 0).count())
    }
    try {
      // two calls under two groups: threads kept from the first call
      // (a shared pool, the global context) would report group a for
      // the second call's jobs
      for (g <- Seq("graft-cc-a", "graft-cc-b")) {
        sc.setJobGroup(g, g)
        groups.clear()
        counts.clear()
        val n = 2 * sc.defaultParallelism
        Parallelism.concurrently(spark)(Seq.tabulate(n)(job))
        assert((0 until n).map(counts.get) ==
          (0 until n).map(i => ((100 + i) / 2).toLong))
        org.apache.spark.GraftTestBridge.drainListenerBus(sc)
        import scala.jdk.CollectionConverters._
        val seen = groups.asScala.toSeq
        assert(seen.size >= n && seen.forall(_ == g),
          s"jobs ran outside group $g: $seen")
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val pool = { import scala.jdk.CollectionConverters._
      threads.asScala.toSet - Thread.currentThread() }
    assert(pool.nonEmpty && pool.forall(!_.isAlive),
      "a pool thread outlived its call")

    val finished = new java.util.concurrent.atomic.AtomicInteger
    val slow = Seq.fill(3)(() => {
      Thread.sleep(300); finished.incrementAndGet(); ()
    })
    val boom = () => throw new IllegalStateException("boom")
    val e = intercept[IllegalStateException] {
      Parallelism.concurrently(spark)(boom +: slow)
    }
    assert(e.getMessage == "boom")
    assert(finished.get() == 3,
      "the failure must surface only after every other thunk finished")
  }
}
