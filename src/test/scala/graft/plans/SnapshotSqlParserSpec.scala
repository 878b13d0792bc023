package graft.plans

import graft.SparkSpec
import graft.operators.{MergeOnRead, Snapshots}
import org.apache.spark.sql.functions._

/** The delegating SQL parser (SnapshotSqlParser): time travel
  * (`VERSION AS OF` / `TIMESTAMP AS OF`) on `USING snapshot` tables,
  * `VACUUM` / `OPTIMIZE [PURGE | ZORDER BY]` / `DESCRIBE HISTORY`
  * statements, strict delegation for everything else — and the
  * freshness contract across maintenance (a vacuumed store must
  * never serve a stale cached plan into FILE_NOT_EXIST). */
class SnapshotSqlParserSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private var n = 0
  private def mkTable(): (String, String) = {
    n += 1
    val dir = freshDir("graft-sqlp")
    val df = (0L until 400L).map(i => (i, i / 100, s"p$i"))
      .toDF("k", "b", "payload").repartition(col("b"))
    Snapshots.commitWithStats(spark, df, dir, statsCols = Seq("k"),
      partitionByCols = Seq("b"))
    val t = s"sqlp_$n"
    spark.sql(s"CREATE TABLE $t USING snapshot OPTIONS (path '$dir')")
    (t, dir)
  }

  test("VERSION AS OF / TIMESTAMP AS OF serve pinned history " +
    "through plain SQL; non-snapshot tables keep Spark's own error") {
    val (t, dir) = mkTable()
    Thread.sleep(30); val mid = System.currentTimeMillis()
    Thread.sleep(30)
    spark.sql(s"DELETE FROM $t WHERE k < 100")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 300L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 1")
      .head.getLong(0) == 400L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t TIMESTAMP AS OF " +
      s"'${java.time.Instant.ofEpochMilli(mid)}'").head.getLong(0)
      == 400L)
    // time-travel relations still prune through the stats index
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $t VERSION AS OF 1 WHERE k < 50")
      .head.getLong(0) == 50L)
    // an invalid version fails with the library's own message
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF 99").collect()
    }
    assert(e.getMessage.toLowerCase.contains("version"), e.getMessage)
    // a parquet table keeps Spark's UNSUPPORTED_FEATURE error
    spark.sql("CREATE TABLE sqlp_plain (k BIGINT) USING parquet")
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM sqlp_plain VERSION AS OF 1").collect()
    }
    assert(e2.getMessage.contains("not supported"), e2.getMessage)
  }

  test("DESCRIBE HISTORY lists the version log; OPTIMIZE compacts " +
    "(folding MoR heads); OPTIMIZE PURGE applies deletion vectors; " +
    "OPTIMIZE ZORDER BY clusters") {
    val (t, dir) = mkTable()
    spark.sql(s"CREATE TABLE ${t}_m USING snapshot " +
      s"OPTIONS (path '$dir', dmlMode 'mor')")
    spark.sql(s"DELETE FROM ${t}_m WHERE k < 10")
    val hist = spark.sql(s"DESCRIBE HISTORY $t").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(hist.forall(_.getBoolean(1))) // both published
    // PURGE: v3 rewrites only the dirty file, references the rest
    val p = spark.sql(s"OPTIMIZE $t PURGE").head
    assert(p.getLong(0) == 3L && p.getString(1) == "purge")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 390L)
    // plain OPTIMIZE folds the reference-assembled head self-contained
    val o = spark.sql(s"OPTIMIZE $t").head
    assert(o.getString(1) == "compact")
    assert(!MergeOnRead.isMorVersion(spark, dir,
      Snapshots.latestVersion(spark, dir)))
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 390L)
    // ZORDER BY takes two or three columns
    val z = spark.sql(s"OPTIMIZE $t ZORDER BY (k, b)").head
    assert(z.getString(1) == "zorder")
    // 3-D Morton (interleave3): reclusters, rows invariant, and the
    // recomputed manifest tracks the THIRD column too
    val dir3 = freshDir("graft-sqlp-z3")
    val df3 = (0L until 400L).map(i => (i, i % 20, (i * 7) % 31))
      .toDF("x", "y", "w")
    Snapshots.commitWithStats(spark, df3, dir3, statsCols = Seq("x"))
    spark.sql(s"CREATE TABLE ${t}_z3 USING snapshot " +
      s"OPTIONS (path '$dir3')")
    val z3 = spark.sql(s"OPTIMIZE ${t}_z3 ZORDER BY (x, y, w)").head
    assert(z3.getString(1) == "zorder")
    assert(spark.sql(s"SELECT count(*) AS n FROM ${t}_z3")
      .head.getLong(0) == 400L)
    assert(spark.sql(s"SELECT sum(x) AS s FROM ${t}_z3")
      .head.getLong(0) == (0L until 400L).sum)
    val head3 = Snapshots.latestVersion(spark, dir3)
    val ms = graft.operators.FileStats
      .readManifest(spark, s"$dir3/v=$head3")
    assert(ms.nonEmpty && ms.forall(e => e.cols.contains("w") &&
      e.cols.contains("y")),
      "3-col ZORDER must track all three columns' stats")
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"OPTIMIZE $t ZORDER BY (k)").collect()
    }
    assert(e.getMessage.contains("three columns"), e.getMessage)
  }

  test("VACUUM reclaims through SQL with the library's ref/dv " +
    "pinning, and SELECT after maintenance+vacuum serves the CURRENT " +
    "head — never a stale cached plan into FILE_NOT_EXIST") {
    val (t, dir) = mkTable()
    // cache the relation at the MoR head, then maintain + vacuum
    spark.sql(s"CREATE TABLE ${t}_m USING snapshot " +
      s"OPTIONS (path '$dir', dmlMode 'mor')")
    spark.sql(s"DELETE FROM ${t}_m WHERE k < 10")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 390L) // caches the v2 assembly plan
    spark.sql(s"OPTIMIZE $t") // folds -> v3 self-contained
    val reclaimed = spark.sql(s"VACUUM $t RETAIN 1 VERSIONS")
      .collect().map(_.getLong(0)).toSeq
    assert(reclaimed == Seq(1L, 2L), reclaimed)
    // the probe-caught regression: a stale cached v2 plan would now
    // throw FILE_NOT_EXIST reading the vacuumed deletion vector
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 390L)
    // the DataFrame API route must be fresh too (spark.table bypasses
    // the parser — the rule's identity rewrite covers it)
    assert(spark.table(t).count() == 390L)
    // default retention
    val (t2, _) = mkTable()
    spark.sql(s"DELETE FROM $t2 WHERE k < 5")
    spark.sql(s"DELETE FROM $t2 WHERE k < 10")
    assert(spark.sql(s"VACUUM $t2").collect().map(_.getLong(0)).toSeq
      == Seq(1L)) // keepLast defaults to 2
  }

  test("review hardening: no regex blow-up on malformed statements, " +
    "temp views shadow catalog tables, typed TIMESTAMP/DATE literals " +
    "pin, ZORDER BY () and trailing-dot identifiers refuse") {
    val (t, dir) = mkTable()
    // catastrophic-backtracking guard: a malformed OPTIMIZE with a
    // long identifier must fail fast, not hang the parse thread
    val t0 = System.nanoTime()
    intercept[Exception] {
      spark.sql("OPTIMIZE db.user_events_daily_aggregates_long_name " +
        "WHERE date > '2026-01-01'").collect()
    }
    assert((System.nanoTime() - t0) / 1e9 < 5.0, "parser hung")
    // a TEMP VIEW shadowing the catalog table: maintenance and time
    // travel must NOT silently target the shadowed snapshot table
    spark.sql(s"CREATE TEMPORARY VIEW shadow_$n AS SELECT 1 AS k")
    spark.sql(s"CREATE TABLE shadow_$n" + "_backing USING snapshot " +
      s"OPTIONS (path '$dir')")
    // (same-name shadowing: make a temp view named exactly like t)
    spark.sql(s"CREATE TEMPORARY VIEW $t" + "_tv AS SELECT 1 AS k")
    intercept[Exception] {
      spark.sql(s"VACUUM $t" + "_tv").collect() // view: Spark's error
    }
    // typed literal forms pin like the string form
    Thread.sleep(30)
    spark.sql(s"DELETE FROM $t WHERE k < 100")
    val iso = java.time.Instant.now().toString
    assert(spark.sql(s"SELECT count(*) AS n FROM $t TIMESTAMP AS OF " +
      s"TIMESTAMP '${iso.replace("T", " ").stripSuffix("Z")}'")
      .head.getLong(0) == 300L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t TIMESTAMP AS OF " +
      "DATE '2099-01-01'").head.getLong(0) == 300L)
    // empty ZORDER refuses instead of silently compacting
    val e = intercept[Exception] {
      spark.sql(s"OPTIMIZE $t ZORDER BY ()").collect()
    }
    assert(e.getMessage.contains("column"), e.getMessage)
    // a trailing-dot identifier is malformed — Spark's parse error,
    // never a vacuum of the prefix table
    intercept[Exception] { spark.sql(s"VACUUM $t.").collect() }
    assert(Snapshots.latestVersion(spark, dir) >= 2L) // t untouched
  }

  test("strict delegation: VACUUM/OPTIMIZE against unknown or " +
    "non-snapshot targets fall through to Spark's parser, and the " +
    "keywords inside ordinary statements are untouched") {
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("VACUUM no_such_table_xyz")
    }
    spark.sql("CREATE TABLE sqlp_plain2 (optimize BIGINT) USING parquet")
    // a column named 'optimize' parses and queries normally
    assert(spark.sql(
      "SELECT optimize FROM sqlp_plain2 WHERE optimize > 0")
      .count() == 0L)
    // DESCRIBE HISTORY of a parquet table is not ours: Spark errors
    intercept[Exception] {
      spark.sql("DESCRIBE HISTORY sqlp_plain2").collect()
    }
  }
}
