package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Each snapshot version records its read schema (`_version.json`)
  * when it is sealed, and every read of a version's files takes it:
  * the record equals what `spark.read.parquet(vDir)` infers, for
  * every writer, except where the files a statement wrote or carried
  * would type a partition column differently from its base version,
  * whose type the record keeps; reading a recorded version starts no
  * Spark job. */
class SchemaRecordSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def recordOf(dir: String, v: Long) =
    Snapshots.schemaOf(spark, s"$dir/v=$v")
      .getOrElse(fail(s"v=$v of $dir has no schema record"))

  /** `v`'s record equals what inference reads from its data files. */
  private def assertRecorded(dir: String, v: Long): Unit =
    assert(recordOf(dir, v) == spark.read.parquet(s"$dir/v=$v").schema,
      s"v=$v of $dir")

  /** 40 rows with a nested struct column, an integer partition value
    * `p` and a string partition value `q`. */
  private def rows(from: Int = 0) =
    (from until from + 40).map(i =>
      (i.toLong, s"n$i", (i, s"s$i"), i % 3, s"c${i % 2}"))
      .toDF("id", "name", "detail", "p", "q")

  private def partitioned(dir: String): Long =
    Snapshots.commitWithStats(spark, rows(), dir, statsCols = Seq("id"),
      partitionByCols = Seq("p", "q"), bloomCols = Seq("name"))

  test("commit records the inferred schema: flat, and partitioned by " +
    "an integer and a string value, with a nested struct column") {
    val flat = freshDir("graft-rec-flat")
    assert(Snapshots.commit(spark, rows(), flat) == 1L)
    assertRecorded(flat, 1)
    val dir = freshDir("graft-rec-part")
    assert(partitioned(dir) == 1L)
    assertRecorded(dir, 1)
    val rec = recordOf(dir, 1)
    // partition columns last, typed from the directory names
    assert(rec.fieldNames.toSeq == Seq("id", "name", "detail", "p", "q"))
    assert(rec("p").dataType == org.apache.spark.sql.types.IntegerType)
    assert(rec("q").dataType == org.apache.spark.sql.types.StringType)
    assert(Snapshots.read(spark, dir).schema == rec)
    assert(Snapshots.tableSchema(spark, dir) == rec)
  }

  test("append records the inferred schema, onto a plain head and " +
    "onto a merge-on-read head; an MoR delete, which has no data file " +
    "of its own, records none and reads through its homes' records") {
    val dir = freshDir("graft-rec-append")
    partitioned(dir)
    assert(Snapshots.appendVersion(spark, rows(100), dir) == 2L)
    assertRecorded(dir, 2)
    val (v3, ms) = MergeOnRead.deleteWhere(spark, dir, col("id") === 103L)
    assert(v3 == 3L && ms.tombstonesAdded == 1L)
    // references and tombstones only: no data file of its own
    assert(MergeOnRead.isMorVersion(spark, dir, 3))
    assert(Snapshots.schemaOf(spark, s"$dir/v=3").isEmpty)
    assert(Snapshots.read(spark, dir).schema == recordOf(dir, 2))
    assert(Snapshots.appendVersion(spark, rows(200), dir) == 4L)
    assert(MergeOnRead.isMorVersion(spark, dir, 4))
    assertRecorded(dir, 4)
    assert(Snapshots.read(spark, dir).count() == 119L)
  }

  test("an overwrite that changes the schema records the new schema") {
    val dir = freshDir("graft-rec-overwrite")
    Snapshots.commitWithStats(spark, rows(), dir, statsCols = Seq("id"))
    val next = (0 until 5).map(i => (i.toLong, i * 0.5)).toDF("id", "x")
    assert(Snapshots.overwriteVersion(spark, next, dir) == 2L)
    assertRecorded(dir, 2)
    assert(recordOf(dir, 2).fieldNames.toSeq == Seq("id", "x"))
    assert(Snapshots.tableSchema(spark, dir) == recordOf(dir, 2))
    assert(recordOf(dir, 1).fieldNames.toSeq ==
      Seq("id", "name", "detail", "p", "q"))
  }

  test("copy-on-write delete, update and merge record the inferred " +
    "schema, also a delete that only carries files and one that " +
    "empties the table") {
    val dir = freshDir("graft-rec-cow")
    partitioned(dir)
    assert(CopyOnWrite.deleteWhere(spark, dir, col("id") === 5L)._1 == 2L)
    assertRecorded(dir, 2)
    assert(CopyOnWrite.updateWhere(spark, dir, col("id") < 10L,
      Map("name" -> lit("u")))._1 == 3L)
    assertRecorded(dir, 3)
    assert(CopyOnWrite.mergeInto(spark, dir, rows(30).limit(20),
      Seq("id"))._1 == 4L)
    assertRecorded(dir, 4)
    // every row of partition p=1 deleted: the stage writes no file of
    // its own and carries the rest
    assert(CopyOnWrite.deleteWhere(spark, dir, col("p") === 1)._1 == 5L)
    assertRecorded(dir, 5)
    assert(recordOf(dir, 5) == recordOf(dir, 4))
    // the whole table deleted: one schema-carrying zero-row file
    assert(CopyOnWrite.deleteWhere(spark, dir, lit(true))._1 == 6L)
    assertRecorded(dir, 6)
    assert(Snapshots.read(spark, dir).count() == 0L)
    assert(Snapshots.read(spark, dir).schema == recordOf(dir, 6))
  }

  test("a statement keeps its base version's partition column types, " +
    "whichever partition directories it writes or carries") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val dir = freshDir("graft-rec-carry")
    val big = 1L << 40
    Snapshots.commitWithStats(spark,
      Seq((1L, "a", "EU", big, Some(1)), (2L, "b", "US", big, Some(2)),
        (3L, "c", "EU", 1L, None), (4L, "d", "US", 1L, Some(1)))
        .toDF("id", "v", "region", "big", "k"),
      dir, statsCols = Seq("id"), partitionByCols = Seq("region", "big", "k"))
    val rec = recordOf(dir, 1)
    assert(Seq("region", "big", "k").map(rec(_).dataType) ==
      Seq(StringType, LongType, IntegerType))
    // an append whose only new directory is region=001, which alone
    // would type `region` as an integer
    assert(Snapshots.appendVersion(spark,
      Seq((5L, "e", "001", 1L, Some(2))).toDF("id", "v", "region", "big",
        "k"), dir) == 2L)
    // a copy-on-write update that rewrites only the directory
    // region=EU/big=1/k=__HIVE_DEFAULT_PARTITION__, which alone would
    // type `big` as an integer and `k` as a string
    assert(CopyOnWrite.updateWhere(spark, dir, col("id") === 3L,
      Map("v" -> lit("u")))._1 == 3L)
    // and one that rewrites only region=001
    assert(CopyOnWrite.updateWhere(spark, dir, col("id") === 5L,
      Map("v" -> lit("w")))._1 == 4L)
    (2L to 4L).foreach { v =>
      assertRecorded(dir, v)
      assert(recordOf(dir, v) == rec, s"v=$v")
    }
    def rowsOf(v: Long) = Snapshots.read(spark, dir, v).orderBy("id")
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3), Option(r.get(4))))
    assert(rowsOf(4) ==
      Seq((1L, "a", "EU", big, Some(1)), (2L, "b", "US", big, Some(2)),
        (3L, "u", "EU", 1L, None), (4L, "d", "US", 1L, Some(1)),
        (5L, "w", "001", 1L, Some(2))))
    // a delete that leaves only region=001: inference over the
    // version's files would now read `region` as the integer 1
    assert(CopyOnWrite.deleteWhere(spark, dir, col("id") =!= 5L)._1 == 5L)
    assert(spark.read.parquet(s"$dir/v=5").schema("region").dataType ==
      IntegerType)
    assert(recordOf(dir, 5) == rec)
    assert(rowsOf(5) == Seq((5L, "w", "001", 1L, Some(2))))
    assert(SnapshotMaintenance.compact(spark, dir, 1L << 20)._1 == 6L)
    assert(recordOf(dir, 6) == rec)
    assert(rowsOf(6) == rowsOf(5))
  }

  test("stats over a partition column are typed like the table: a " +
    "point delete on a value only an append wrote finds its row") {
    val dir = freshDir("graft-rec-pstats")
    Snapshots.commitWithStats(spark,
      Seq((1L, "EU"), (2L, "US")).toDF("id", "region"), dir,
      statsCols = Seq("id", "region"), partitionByCols = Seq("region"))
    assert(Snapshots.appendVersion(spark,
      Seq((5L, "001")).toDF("id", "region"), dir) == 2L)
    val added = FileStats.readManifest(spark, s"$dir/v=2")
      .filter(_.relPath.startsWith("region=001/"))
    assert(added.map(_.cols("region")) == Seq(Some(("001", "001"))))
    val (pruned, _) = prunedRead(dir, col("region") === "001")
    assert(pruned.select("id").as[Long].collect().toSeq == Seq(5L))
    val (v3, st) = CopyOnWrite.deleteWhere(spark, dir,
      col("region") === "001")
    assert(v3 == 3L && st.rowsChanged == 1L)
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect()
      .sorted.toSeq == Seq(1L, 2L))
  }

  test("a merge-on-read append and update keep the base's partition " +
    "column types for their own files") {
    val dir = freshDir("graft-rec-morpart")
    Snapshots.commitWithStats(spark,
      Seq((1L, "a", "EU"), (2L, "b", "US")).toDF("id", "v", "region"),
      dir, statsCols = Seq("id"), partitionByCols = Seq("region"))
    val rec = recordOf(dir, 1)
    assert(MergeOnRead.deleteWhere(spark, dir, col("id") === 1L)._1 == 2L)
    assert(Snapshots.appendVersion(spark,
      Seq((5L, "e", "001")).toDF("id", "v", "region"), dir) == 3L)
    assert(MergeOnRead.isMorVersion(spark, dir, 3))
    assert(recordOf(dir, 3) == rec)
    assert(MergeOnRead.updateWhere(spark, dir, col("id") === 5L,
      Map("v" -> lit("w")))._1 == 4L)
    assert(recordOf(dir, 4) == rec)
    assert(Snapshots.read(spark, dir).orderBy("id").as[(Long, String,
      String)].collect().toSeq == Seq((2L, "b", "US"), (5L, "w", "001")))
  }

  test("merge-on-read update images, fold, compact and ZORDER record " +
    "the inferred schema") {
    val dir = freshDir("graft-rec-mor")
    partitioned(dir)
    val (v2, ms) = MergeOnRead.updateWhere(spark, dir, col("id") < 5L,
      Map("name" -> lit("u")))
    assert(v2 == 2L && ms.tombstonesAdded == 5L)
    assertRecorded(dir, 2)
    assert(MergeOnRead.fold(spark, dir) == 3L)
    assertRecorded(dir, 3)
    assert(SnapshotMaintenance.compact(spark, dir, 1L << 20)._1 == 4L)
    assertRecorded(dir, 4)
    val z = freshDir("graft-rec-zorder")
    Snapshots.commitWithStats(spark,
      (0L until 64L).map(i => (i, 63L - i, s"r$i")).toDF("x", "y", "s"),
      z, statsCols = Seq("x"))
    val (zv, _) = SnapshotMaintenance.optimizeClustered(spark, z,
      Seq("x", "y"), bits = 4, bucketWidth = 64L)
    assertRecorded(z, zv)
    assert(recordOf(z, zv).fieldNames.contains("z_bucket"))
  }

  test("a plain commit re-landed above a head that passed it keeps " +
    "its record") {
    val dir = freshDir("graft-rec-reland")
    Snapshots.commit(spark, Seq(1L).toDF("k"), dir)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val outer = Snapshots.withHook(dir, { s =>
      if (s == "occupy" && fired.compareAndSet(false, true))
        assert(Snapshots.commit(spark, Seq((2L, "x")).toDF("k", "s"),
          dir) == 3L)
    })(Snapshots.commit(spark, Seq((3L, 0.5)).toDF("k", "d"), dir))
    assert(outer == 4L)
    assertRecorded(dir, 3)
    assertRecorded(dir, 4)
    assert(recordOf(dir, 4).fieldNames.toSeq == Seq("k", "d"))
  }

  test("a version with no record reads exactly as before, and the " +
    "next statement on it records its own") {
    val dir = freshDir("graft-rec-none")
    partitioned(dir)
    val vDir = s"$dir/v=1"
    Seq("_version.json", "._version.json.crc")
      .foreach(n => new java.io.File(vDir, n).delete())
    assert(Snapshots.schemaOf(spark, vDir).isEmpty)
    val inferred = spark.read.parquet(vDir)
    assert(Snapshots.read(spark, dir).schema == inferred.schema)
    assert(Snapshots.tableSchema(spark, dir) == inferred.schema)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "name", "p", "q").orderBy("id").collect().toSeq
    assert(sorted(Snapshots.table(spark, dir)) == sorted(inferred))
    val (pruned, census) = prunedRead(dir, col("id") === 7L)
    assert(pruned.count() == 1L && census.filesSkipped > 0L)
    assert(CopyOnWrite.deleteWhere(spark, dir, col("id") === 7L)._1 == 2L)
    assertRecorded(dir, 2)
    assert(Snapshots.read(spark, dir).count() == 39L)
  }

  test("reading a recorded version starts no Spark job: table, read, " +
    "tableSchema, and planning SELECT … VERSION AS OF") {
    val dir = freshDir("graft-rec-jobs")
    partitioned(dir)
    Snapshots.appendVersion(spark, rows(100), dir)
    spark.sql(s"CREATE TABLE rec_jobs USING snapshot OPTIONS (path '$dir')")
    try {
      val sites = graft.SparkSpec.jobSites(spark) {
        Snapshots.table(spark, dir)
        Snapshots.table(spark, dir, 1)
        Snapshots.read(spark, dir, 1)
        Snapshots.tableSchema(spark, dir)
        spark.sql("SELECT count(*), sum(id) FROM rec_jobs VERSION AS OF 1")
          .queryExecution.optimizedPlan
      }
      assert(sites.isEmpty, s"schema jobs: $sites")
    } finally { spark.sql("DROP TABLE IF EXISTS rec_jobs"); () }
  }

  test("a SQL point DELETE on a stats-tracked table starts no job " +
    "outside its stage write and its stats scan") {
    // the stage write's call site: a plain commit is that one job
    val writeSites = graft.SparkSpec.jobSites(spark)(
      Snapshots.commit(spark, Seq(1L).toDF("k"), freshDir("graft-rec-w")))
    assert(writeSites.size == 1, writeSites)
    val dir = freshDir("graft-rec-del")
    Snapshots.commitWithStats(spark, rows(), dir, statsCols = Seq("id"),
      partitionByCols = Seq("p", "q"))
    spark.sql(s"CREATE TABLE rec_del USING snapshot OPTIONS (path '$dir')")
    try {
      val sites = graft.SparkSpec.jobSites(spark)(assert(
        spark.sql("DELETE FROM rec_del WHERE id = 7").head().getLong(0)
          == 1L))
      // the stats scan is one aggregate: two jobs under AQE, both
      // submitted from AQE's own thread; a schema inference would be
      // a `parquet at …` job of the caller
      val others = sites.filterNot(_ == writeSites.head)
      assert(sites.size - others.size == 1 && others.size <= 2 &&
        others.forall(!_.startsWith("parquet at")), sites)
    } finally { spark.sql("DROP TABLE IF EXISTS rec_del"); () }
  }
}
