package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Job budget of the silver-table merge: a bootstrap is one write
  * job, and only a plan that scans its own target pays the
  * lineage-cutting checkpoint before the overwrite. */
class ParquetMergeSpec extends SparkSpec {

  private def freshPath() =
    java.nio.file.Files.createTempDirectory("graft-pm").resolve("t")
      .toString

  private def groups(codes: Seq[Int], name: String) =
    spark.createDataFrame(codes.map(c => (s"g$c", name)))
      .toDF("group_code", "group_name")

  test("mergeTable of a plain projection into an absent path runs " +
      "exactly one job") {
    val path = freshPath()
    val batch = spark.range(5).select(
      concat(lit("g"), col("id").cast("string")).as("group_code"),
      lit("first").as("group_name"))
    val sites = graft.SparkSpec.jobSites(spark) {
      ParquetMerge.mergeTable(spark, path, "groups", batch)
    }
    assert(sites.size == 1, s"expected one write job, saw $sites")
    assert(spark.read.parquet(path).count() == 5)
  }

  test("a merge whose plan reads its own target goes through the " +
      "checkpoint and keeps every row") {
    val path = freshPath()
    ParquetMerge.mergeTable(spark, path, "groups",
      groups(1 to 4, "first"))
    // the incoming batch itself is derived from the target: its plan
    // and the old-table read both scan the files the overwrite deletes
    val own = ParquetMerge.read(spark, path).get
      .filter(col("group_code") <= "g2")
      .withColumn("group_name", lit("second"))
    val sites = graft.SparkSpec.jobSites(spark) {
      ParquetMerge.mergeTable(spark, path, "groups",
        own.unionByName(groups(Seq(5), "second")))
    }
    assert(sites.exists(_.startsWith("localCheckpoint at ParquetMerge")),
      s"the overwrite of a self-reading plan must checkpoint: $sites")
    val rows = spark.read.parquet(path).orderBy("group_code").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(rows == Seq("g1" -> "second", "g2" -> "second",
      "g3" -> "first", "g4" -> "first", "g5" -> "second"))
  }

  test("readsPath sees the target through subqueries and ignores " +
      "other paths and checkpointed plans") {
    val path = freshPath()
    groups(1 to 3, "x").write.parquet(path)
    val other = freshPath()
    groups(1 to 3, "y").write.parquet(other)
    val target = spark.read.parquet(path)
    val elsewhere = spark.read.parquet(other)
    assert(ParquetMerge.readsPath(target, path))
    assert(ParquetMerge.readsPath(target, path + "/"))
    assert(!ParquetMerge.readsPath(elsewhere, path))
    target.createOrReplaceTempView("pm_spec_target")
    elsewhere.createOrReplaceTempView("pm_spec_other")
    val viaSubquery = spark.sql("SELECT * FROM pm_spec_other WHERE " +
      "group_code IN (SELECT group_code FROM pm_spec_target)")
    assert(ParquetMerge.readsPath(viaSubquery, path))
    val cut = target.localCheckpoint(true)
    try assert(!ParquetMerge.readsPath(cut.filter(col("group_code") > "g1"),
      path))
    finally cut.unpersist()
  }
}
