package graft.plans

import graft.SparkSpec
import graft.operators.{CopyOnWrite, MergeOnRead, PipelineHook, Snapshots}
import org.apache.spark.sql.functions._

/** SQL DML on `USING snapshot` tables (SnapshotDmlRule) and per-query
  * catalog freshness (SnapshotFreshnessRule): a SQL/BI user must be
  * able to DELETE/UPDATE/MERGE with zero Scala, get the Tx
  * (conflict-detected) path by default, choose merge-on-read per
  * table, and every statement — DML or SELECT — must see the store's
  * CURRENT head, never a session-cached stale version. */
class SnapshotSqlDmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private var n = 0
  /** A fresh catalog table over a fresh 400-row store. */
  private def mkTable(opts: String = ""): (String, String) = {
    n += 1
    val dir = freshDir("graft-sqldml")
    val df = (0L until 400L).map(i => (i, i / 100, s"p$i"))
      .toDF("k", "b", "payload").repartition(col("b"))
    Snapshots.commitWithStats(spark, df, dir, statsCols = Seq("k"),
      partitionByCols = Seq("b"))
    val t = s"sqldml_$n"
    spark.sql(s"CREATE TABLE $t USING snapshot " +
      s"OPTIONS (path '$dir'$opts)")
    (t, dir)
  }

  test("DELETE FROM / UPDATE / MERGE INTO run end to end through " +
    "spark.sql with affected-row counts, and history stays " +
    "time-travelable") {
    val (t, dir) = mkTable()
    assert(spark.sql(s"DELETE FROM $t WHERE k < 100").head.getLong(0)
      == 100L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 300L)
    assert(spark.sql(
      s"UPDATE $t SET payload = 'upd' WHERE k BETWEEN 100 AND 109")
      .head.getLong(0) == 10L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t " +
      "WHERE payload = 'upd'").head.getLong(0) == 10L)
    // canonical upsert MERGE: keys 396..405 — 4 replace, 6 insert
    assert(spark.sql(
      s"""MERGE INTO $t USING (
         |  SELECT id + 396 AS k, CAST(9 AS BIGINT) AS b,
         |         'merged' AS payload FROM range(10)
         |) src ON $t.k = src.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .head.getLong(0) == 10L)
    val after = spark.sql(
      s"SELECT count(*) AS n FROM $t WHERE payload = 'merged'")
    assert(after.head.getLong(0) == 10L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 306L) // 300 existing - 4 replaced in place + 6 inserted
    // DML provenance recorded; v1 still serves the original table
    assert(Snapshots.read(spark, dir, 1L).count() == 400L)
    // DELETE without WHERE empties the table
    assert(spark.sql(s"DELETE FROM $t").head.getLong(0) == 306L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 0L)
  }

  test("dmlMode 'mor' routes DELETE/UPDATE merge-on-read: tombstone " +
    "sidecars, zero data files for a delete, SELECT serves the " +
    "assembly") {
    val (t, dir) = mkTable(", dmlMode 'mor'")
    assert(spark.sql(s"DELETE FROM $t WHERE k < 50").head.getLong(0)
      == 50L)
    val head = Snapshots.latestVersion(spark, dir)
    assert(MergeOnRead.isMorVersion(spark, dir, head))
    // pure-delete MoR version: no data files of its own
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val local = f.listStatus(new org.apache.hadoop.fs.Path(
      s"$dir/v=$head")).map(_.getPath.getName)
      .filterNot(x => x.startsWith("_") || x.startsWith("."))
    assert(local.isEmpty, local.toSeq)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 350L)
    assert(spark.sql(s"UPDATE $t SET payload = 'u' WHERE k = 399")
      .head.getLong(0) == 1L)
    assert(spark.sql(s"SELECT payload FROM $t WHERE k = 399")
      .head.getString(0) == "u")
    // an invalid mode is refused loudly at first DML/SELECT use
    val dir2 = freshDir("graft-sqldmlbad")
    Snapshots.commit(spark, Seq((1L, "x")).toDF("k", "s"), dir2)
    spark.sql(s"CREATE TABLE sqldml_bad USING snapshot " +
      s"OPTIONS (path '$dir2', dmlMode 'sideways')")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM sqldml_bad WHERE k = 1").collect()
    }
    assert(e.getMessage.contains("dmlMode"), e.getMessage)
  }

  test("per-query freshness: SELECT sees library commits, SQL DML, " +
    "and writes made through OTHER catalog aliases of the same store " +
    "— never the session-cached version") {
    val (t, dir) = mkTable()
    // populate the relation cache
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 400L)
    // library-side commit behind the catalog's back
    Snapshots.appendVersion(spark,
      Seq((9000L, 9L, "new")).toDF("k", "b", "payload"), dir)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 401L, "stale cached relation after a library commit")
    // a second alias over the same store, then DML through it
    spark.sql(s"CREATE TABLE ${t}_alias USING snapshot " +
      s"OPTIONS (path '$dir')")
    assert(spark.sql(s"SELECT count(*) AS n FROM ${t}_alias")
      .head.getLong(0) == 401L)
    spark.sql(s"DELETE FROM ${t}_alias WHERE k >= 9000")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 400L, "alias A stale after DML through alias B")
    // an explicitly pinned table NEVER refreshes
    spark.sql(s"CREATE TABLE ${t}_v1 USING snapshot " +
      s"OPTIONS (path '$dir', versionAsOf '1')")
    assert(spark.sql(s"SELECT count(*) AS n FROM ${t}_v1")
      .head.getLong(0) == 400L)
    Snapshots.appendVersion(spark,
      Seq((9001L, 9L, "x")).toDF("k", "b", "payload"), dir)
    assert(spark.sql(s"SELECT count(*) AS n FROM ${t}_v1")
      .head.getLong(0) == 400L, "pinned table must not refresh")
  }

  test("freshness descends into subquery plans: after a commit, a " +
    "scalar or IN subquery over the same table serves the new head — " +
    "one statement never mixes two versions") {
    val (t, dir) = mkTable()
    // cache the relation via a statement that reads the table BOTH as
    // the main scan and inside a scalar subquery
    assert(spark.sql(s"SELECT count(*) AS n FROM $t " +
      s"WHERE k < (SELECT max(k) FROM $t)").head.getLong(0) == 399L)
    Snapshots.appendVersion(spark,
      Seq((9000L, 9L, "new")).toDF("k", "b", "payload"), dir)
    // stale subquery would keep max(k)=399 → 399 rows; fresh → 400
    assert(spark.sql(s"SELECT count(*) AS n FROM $t " +
      s"WHERE k < (SELECT max(k) FROM $t)").head.getLong(0) == 400L,
      "scalar subquery served a stale cached version")
    // IN-subquery: the appended row is only visible if the predicate
    // subquery refreshed too (stale → empty set → 0 rows)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t " +
      s"WHERE b IN (SELECT b FROM $t WHERE k >= 9000)")
      .head.getLong(0) == 1L,
      "IN subquery served a stale cached version")
  }

  test("the SQL path is the Tx path: a statement that loses the " +
    "commit race re-validates like deleteWhereTx — disjoint DML " +
    "re-executes, both land") {
    val (t, dir) = mkTable()
    // the worker commits after the SQL statement staged, so the
    // statement always loses its claim of v2 (the DmlConflictSpec
    // determinism trick)
    var workerV = -1L
    val affected = PipelineHook.raceAt(dir, "seal") {
      workerV = CopyOnWrite.deleteWhere(spark, dir, col("k") >= 350L)._1
    }(spark.sql(s"DELETE FROM $t WHERE k < 50").head.getLong(0))
    assert(workerV == 2L && affected == 50L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 300L) // BOTH deletes applied — never last-write-wins
    assert(spark.sql(s"SELECT min(k) AS mn, max(k) AS mx FROM $t")
      .head.toSeq == Seq(50L, 349L))
  }

  test("unsupported statement shapes are refused loudly — never run " +
    "with different semantics") {
    val (t, _) = mkTable()
    // subquery in WHERE
    val e1 = intercept[UnsupportedOperationException] {
      spark.sql(s"DELETE FROM $t WHERE k IN (SELECT id FROM range(3))")
        .collect()
    }
    assert(e1.getMessage.contains("MERGE"), e1.getMessage)
    // non-equi / non-key merge condition
    val e2 = intercept[UnsupportedOperationException] {
      spark.sql(s"MERGE INTO $t USING (SELECT 1 AS k, CAST(0 AS " +
        s"BIGINT) AS b, 'z' AS payload) s ON $t.k > s.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *").collect()
    }
    assert(e2.getMessage.contains("equality"), e2.getMessage)
    // partial SET lowers onto the GENERAL merge engine (round 18) —
    // it must run, not be refused
    assert(spark.sql(s"MERGE INTO $t USING (SELECT CAST(1 AS " +
      s"BIGINT) AS k, CAST(0 AS BIGINT) AS b, 'z' AS payload) s " +
      s"ON $t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET payload = 'zz' " +
      "WHEN NOT MATCHED THEN INSERT *").head.getLong(0) == 1L)
    assert(spark.sql(s"SELECT payload FROM $t WHERE k = 1")
      .head.getString(0) == "zz")
    // statements on NON-snapshot tables pass through untouched and
    // fail with Spark's own error, not ours
    spark.sql("CREATE TABLE sqldml_plain (k BIGINT) USING parquet")
    val e4 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("DELETE FROM sqldml_plain WHERE k = 1").collect()
    }
    assert(e4.getMessage.contains("does not support"), e4.getMessage)
  }

  test("INSERT INTO / INSERT OVERWRITE are versioned, race-safe " +
    "writes: append publishes a NEW version with provenance and " +
    "spliced stats, self-referencing overwrite works, a lost claim " +
    "retries — never Spark's in-place write into v=N") {
    val (t, dir) = mkTable() // (k, payload, b-partitioned), stats k
    val hfs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // plain INSERT appends a NEW version; v1 is untouched history
    assert(spark.sql(s"INSERT INTO $t (k, b, payload) " +
      "VALUES (9000, 9, 'ins')").head.getLong(0) == 1L)
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    assert(Snapshots.read(spark, dir, 1L).count() == 400L,
      "INSERT mutated the published v=1 in place")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 401L)
    val provPath = new org.apache.hadoop.fs.Path(s"$dir/v=2/_version.json")
    assert(hfs.exists(provPath), "append published no record")
    val provText = {
      val in = hfs.open(provPath)
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    assert(provText.contains("\"op\":\"append\"") &&
      provText.contains("\"touched\":[]"), provText)
    assert(graft.operators.FileStats
      .readManifest(spark, s"$dir/v=2").nonEmpty,
      "append dropped the stats manifest")
    // column list: unlisted columns land as typed NULLs
    assert(spark.sql(s"INSERT INTO $t (k, b) VALUES (9001, 9)")
      .head.getLong(0) == 1L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t " +
      "WHERE payload IS NULL").head.getLong(0) == 1L)
    // self-referencing INSERT OVERWRITE — Spark's own path refuses
    // this (UNSUPPORTED_OVERWRITE); a versioned store stages the new
    // head while reading the old one
    assert(spark.sql(s"INSERT OVERWRITE $t " +
      s"SELECT k, payload, b FROM $t WHERE k < 100")
      .head.getLong(0) == 100L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 100L)
    val head = Snapshots.latestVersion(spark, dir)
    assert(Snapshots.read(spark, dir, head - 1).count() == 402L,
      "overwrite destroyed history")
    assert(graft.operators.FileStats
      .readManifest(spark, s"$dir/v=$head").nonEmpty,
      "overwrite dropped the stats manifest")
    // race: a worker lands a delete after the INSERT staged, the
    // INSERT loses its claim, re-stages and BOTH land (append
    // commutes)
    var workerV = -1L
    assert(PipelineHook.raceAt(dir, "seal") {
      workerV = CopyOnWrite.deleteWhere(spark, dir, col("k") < 10L)._1
    }(spark.sql(s"INSERT INTO $t (k, b, payload) " +
      "VALUES (9100, 9, 'race')").head.getLong(0)) == 1L)
    assert(workerV == head + 1, s"worker landed at $workerV")
    assert(Snapshots.latestVersion(spark, dir) == head + 2)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 91L) // 100 - 10 deleted + 1 inserted
    // static PARTITION specs are refused loudly
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"INSERT INTO $t PARTITION (b=1) VALUES (1, 'x')")
        .collect()
    }
    assert(e.getMessage.contains("PARTITION"), e.getMessage)
    // duplicate column lists refuse — never first-claimant-wins
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(s"INSERT INTO $t (k, k) VALUES (1, 2)").collect()
    }
    assert(e2.getMessage.contains("duplicate column"), e2.getMessage)
    // INSERT OVERWRITE on a MERGE-ON-READ head: the MoR version dir
    // carries no manifests of its own — sidecar config must derive
    // from the home versions, or the table silently stops pruning
    val (tm, dirM) = mkTable(", dmlMode 'mor'")
    spark.sql(s"DELETE FROM $tm WHERE k < 10")
    assert(spark.sql(s"INSERT OVERWRITE $tm " +
      s"SELECT k, payload, b FROM $tm WHERE k < 200")
      .head.getLong(0) == 190L)
    val headM = Snapshots.latestVersion(spark, dirM)
    assert(graft.operators.FileStats
      .readManifest(spark, s"$dirM/v=$headM").nonEmpty,
      "overwrite on an MoR head dropped the stats manifest")
    assert(spark.sql(s"SELECT count(*) AS n FROM $tm")
      .head.getLong(0) == 190L)
  }

  test("INSERT affected_rows come from the write: an empty INSERT " +
    "returns 0, a rand() source returns exactly the rows that landed, " +
    "a lost race re-stages and counts its batch once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val (t, dir) = mkTable()
    def count(where: String): Long =
      spark.sql(s"SELECT count(*) FROM $t WHERE $where").head.getLong(0)
    def versionDirs = new java.io.File(dir).list().toSeq
      .filter(_.startsWith("v=")).sorted
    val before = (Snapshots.latestVersion(spark, dir), versionDirs)
    val empty = Future(spark.sql(s"INSERT INTO $t (k, b, payload) " +
      "SELECT id AS k, " +
      "1 AS b, 'none' AS payload FROM range(10) WHERE false")
      .head.getLong(0))(scala.concurrent.ExecutionContext.global)
    assert(Await.result(empty, 120.seconds) == 0L)
    assert(count("true") == 400L)
    // a no-op INSERT publishes nothing: no new head, no new v=N
    assert((Snapshots.latestVersion(spark, dir), versionDirs) == before,
      "an empty INSERT published a version")
    // the source is evaluated once: the count is of the rows written
    val drawn = spark.sql(s"INSERT INTO $t (k, b, payload) " +
      "SELECT id + 1000 AS k, " +
      "1 AS b, 'rand' AS payload FROM range(200) WHERE rand() < 0.5")
      .head.getLong(0)
    assert(drawn == count("payload = 'rand'"))
    assert(drawn > 0L && drawn < 200L, drawn)
    // a commit planted while the INSERT stages: the INSERT loses the
    // claim, re-stages on the new head and publishes above it
    val head = Snapshots.latestVersion(spark, dir)
    val n = PipelineHook.raceAt(dir, "stage")(Snapshots.appendVersion(
      spark, Seq((5000L, 2, "race")).toDF("k", "b", "payload"), dir))(
      spark.sql(s"INSERT INTO $t (k, b, payload) " +
        "SELECT id + 3000 AS k, 3 AS b, " +
        "'batch' AS payload FROM range(7)").head.getLong(0))
    assert(n == 7L)
    assert(Snapshots.latestVersion(spark, dir) == head + 2)
    assert(count("payload = 'batch'") == 7L &&
      count("payload = 'race'") == 1L)
  }

  test("MERGE beyond the upsert: conditional MATCHED DELETE/UPDATE " +
    "(first match wins), partial-column conditional INSERT, and " +
    "WHEN NOT MATCHED BY SOURCE lower onto the general engine") {
    val (t, dir) = mkTable() // 400 rows: k 0..399, payload p<k>, b
    val m1 = spark.sql(
      s"""MERGE INTO $t USING (
         |  SELECT id * 10 AS mk, CAST(id AS BIGINT) AS amt
         |  FROM range(12)
         |  UNION ALL SELECT 9000, CAST(50 AS BIGINT)
         |  UNION ALL SELECT 9100, CAST(2 AS BIGINT)
         |) src ON $t.k = src.mk
         |WHEN MATCHED AND src.amt < 3 THEN DELETE
         |WHEN MATCHED AND src.amt < 8 THEN
         |  UPDATE SET payload = concat('m-', CAST(src.amt AS STRING))
         |WHEN NOT MATCHED AND src.amt >= 40 THEN
         |  INSERT (k, b, payload) VALUES (src.mk, 9, 'ins')"""
        .stripMargin).head.getLong(0)
    // matched mk 0..110: amt<3 deletes 0/10/20; amt<8 updates
    // 30..70; 80..110 fall through. 9000 (amt 50) inserts; 9100
    // (amt 2) fails the insert condition and drops.
    assert(m1 == 3L + 5L + 1L, s"affected_rows $m1")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 398L) // 400 - 3 + 1
    assert(spark.sql(s"SELECT payload FROM $t WHERE k = 30")
      .head.getString(0) == "m-3")
    assert(spark.sql(s"SELECT payload FROM $t WHERE k = 80")
      .head.getString(0) == "p80", "fall-through row must be kept")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t WHERE k = 0")
      .head.getLong(0) == 0L)
    assert(spark.sql(
      s"SELECT payload IS NULL AS pn FROM $t WHERE k = 9000")
      .head.getBoolean(0) == false)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t WHERE k = 9100")
      .head.getLong(0) == 0L)
    // NOT MATCHED BY SOURCE with a condition + different-name ON
    val m2 = spark.sql(
      s"""MERGE INTO $t USING (
         |  SELECT CAST(id AS BIGINT) AS k2 FROM range(100)
         |) s ON $t.k = s.k2
         |WHEN NOT MATCHED BY SOURCE AND $t.k >= 300 THEN DELETE"""
        .stripMargin).head.getLong(0)
    assert(m2 == 101L, s"m2 $m2") // k 300..399 (100 rows) + 9000
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head.getLong(0)
      == 297L) // 398 - 101
    // the canonical upsert still routes through the fast path and
    // both paths interleave on one table
    assert(spark.sql(
      s"""MERGE INTO $t USING (
         |  SELECT CAST(1 AS BIGINT) AS k, CAST(0 AS BIGINT) AS b,
         |         'up' AS payload
         |) s ON $t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .head.getLong(0) == 1L)
    assert(spark.sql(s"SELECT payload FROM $t WHERE k = 1")
      .head.getString(0) == "up")
  }
}
