package perfbench

import graft.operators.Snapshots
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.Random

/** A seeded chain of SQL statements on a `USING snapshot` table, run
  * against an in-memory model of the same table: each statement's
  * affected-row count, the time-travel read and the final table are
  * checked against the model. */
final class SnapshotChain(spark: SparkSession, name: String, dir: String, seed: Long,
    baseRows: Int, batch: Int) {
  import SnapshotChain._

  private val rng = new Random(seed)
  private val Table = name
  private val MorTable = s"${name}_mor"
  /** k → (b, amount, note) */
  private val model = mutable.LongMap.empty[(Long, Long, String)]
  private var nextKey = 0L
  /** (count, sum of amount) of the model after each version. */
  private val versions = mutable.Map.empty[Long, (Long, Long)]
  val problems = mutable.ArrayBuffer.empty[String]
  /** Bytes of the rows the statements inserted, rewrote or deleted. */
  var changedBytes = 0L
  /** ms per statement kind, over every chain so far. */
  val stmtMs: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  /** Files each traced statement added under the table. */
  var filesWritten = 0L

  private def rowBytes(k: Long, v: (Long, Long, String)): Long =
    SyntheticApi.utf8Bytes(s"""{"k":$k,"b":${v._1},"amount":${v._2},"note":"${v._3}"}""")

  /** Rows `range(n)` shifted to start at `from`, as SQL and as model. */
  private def genRows(from: Long, n: Int, salt: Long): (String, Seq[(Long, (Long, Long, String))]) = {
    val sql = s"SELECT id + $from AS k, (id + $from) % $Buckets AS b, " +
      s"((id + $from) * 7919 + $salt) % 100000 AS amount, " +
      s"concat('n', CAST(id + $from AS STRING), '-', CAST($salt AS STRING)) AS note " +
      s"FROM range($n)"
    sql -> (0L until n).map { i =>
      val k = i + from
      k -> ((k % Buckets, (k * 7919 + salt) % 100000, s"n$k-$salt"))
    }
  }

  private def snapshotModel(): Unit =
    versions(Snapshots.latestVersion(spark, dir)) = (model.size.toLong, model.valuesIterator.map(_._2).sum)

  /** Loads the base rows and registers the two catalog aliases: the
    * default copy-on-write one and a merge-on-read one. */
  def create(): Unit = {
    val (sql, rows) = genRows(0, baseRows, seed)
    Snapshots.commitWithStats(spark, spark.sql(sql).repartition(col("b")), dir,
      statsCols = Seq("k"), partitionByCols = Seq("b"))
    rows.foreach { case (k, v) => model(k) = v }
    nextKey = baseRows
    spark.sql(s"CREATE TABLE $Table USING snapshot OPTIONS (path '$dir')")
    spark.sql(s"CREATE TABLE $MorTable USING snapshot OPTIONS (path '$dir', dmlMode 'mor')")
    snapshotModel()
  }

  private def existingKey(): Long = {
    var k = rng.nextLong(nextKey)
    while (!model.contains(k)) k = rng.nextLong(nextKey)
    k
  }

  private def expectCount(kind: String, got: Long, want: Long): Unit =
    if (got != want) problems += s"$kind affected $got rows, model says $want"

  private def timed[A](tracer: Tracer, kind: String)(body: => A): A = {
    val before = if (tracer.enabled) Env.files(dir) else Set.empty[String]
    val t0 = Env.now()
    val r = tracer.span(kind)(body)
    stmtMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += Env.secs(t0) * 1e3
    if (tracer.enabled) filesWritten += (Env.files(dir) -- before).size
    r
  }

  private def removeRange(lo: Long, hi: Long): Long = {
    val gone = (lo to hi).filter(model.contains)
    gone.foreach { k => changedBytes += rowBytes(k, model(k)); model -= k }
    gone.size.toLong
  }

  /** One chain of the eight statement kinds, each statement in its own
    * span of `tracer`. */
  def chain(tracer: Tracer): Unit = {
    def stmt[A](kind: String)(body: => A): A = timed(tracer, kind)(body)
    val salt = rng.nextInt(1000000).toLong
    val (insSql, insRows) = genRows(nextKey, batch, salt)
    nextKey += batch
    val inserted = stmt("insert")(spark.sql(s"INSERT INTO $Table (k, b, amount, note) $insSql").head().getLong(0))
    insRows.foreach { case (k, v) => model(k) = v; changedBytes += rowBytes(k, v) }
    expectCount("insert", inserted, batch)
    snapshotModel()
    val travelTo = Snapshots.latestVersion(spark, dir)

    val victim = existingKey()
    val deleted = stmt("delete")(spark.sql(s"DELETE FROM $Table WHERE k = $victim").head().getLong(0))
    expectCount("delete", deleted, removeRange(victim, victim))
    snapshotModel()

    val lo = rng.nextLong(nextKey - UpdateSpan)
    val updated = stmt("update")(spark.sql(
      s"UPDATE $Table SET amount = amount + 1 WHERE k BETWEEN $lo AND ${lo + UpdateSpan}")
      .head().getLong(0))
    val hit = (lo to lo + UpdateSpan).filter(model.contains)
    hit.foreach { k =>
      val v = model(k)
      model(k) = v.copy(_2 = v._2 + 1)
      changedBytes += rowBytes(k, model(k))
    }
    expectCount("update", updated, hit.size)
    snapshotModel()

    // half the source rows match the newest keys, half are new
    val from = nextKey - batch / 2
    val (mSql, mRows) = genRows(from, batch, salt + 1)
    nextKey = from + batch
    val merged = stmt("merge")(spark.sql(
      s"""MERGE INTO $Table USING ($mSql) src ON $Table.k = src.k
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .head().getLong(0))
    mRows.foreach { case (k, v) => model(k) = v; changedBytes += rowBytes(k, v) }
    expectCount("merge", merged, batch)
    snapshotModel()

    val dlo = rng.nextLong(nextKey - batch)
    val morDeleted = stmt("mor_delete")(spark.sql(
      s"DELETE FROM $MorTable WHERE k BETWEEN $dlo AND ${dlo + batch / 2}").head().getLong(0))
    expectCount("mor_delete", morDeleted, removeRange(dlo, dlo + batch / 2))
    snapshotModel()

    stmt("optimize")(spark.sql(s"OPTIMIZE $Table").collect())
    snapshotModel()

    val tt = stmt("time_travel")(spark.sql(
      s"SELECT count(*), coalesce(sum(amount), 0) FROM $Table VERSION AS OF $travelTo").head())
    if ((tt.getLong(0), tt.getLong(1)) != versions(travelTo))
      problems += s"time travel to v$travelTo read ${(tt.getLong(0), tt.getLong(1))}, " +
        s"model says ${versions(travelTo)}"

    stmt("vacuum")(spark.sql(s"VACUUM $Table RETAIN 2 VERSIONS").collect())
  }

  /** The table's current rows equal the model's. */
  def checkTable(): Unit = {
    val rows = spark.sql(s"SELECT k, b, amount, note FROM $Table").collect()
    // the partition column reads back with an inferred integer type
    def long(v: Any): Long = v.asInstanceOf[Number].longValue
    val got = rows.map(r => long(r.get(0)) -> ((long(r.get(1)), long(r.get(2)),
      r.getString(3)))).toMap
    if (got.size != rows.length) problems += "table holds duplicate keys"
    val missing = model.keysIterator.count(k => !got.get(k).contains(model(k)))
    val extra = got.keysIterator.count(k => !model.contains(k))
    if (missing + extra > 0)
      problems += s"table differs from model: $missing rows missing or changed, $extra extra"
  }

  def liveBytes: Long = model.iterator.map { case (k, v) => rowBytes(k, v) }.sum
  def liveRows: Int = model.size
}

object SnapshotChain {
  val Kinds: Seq[String] = Seq("insert", "delete", "update", "merge", "mor_delete",
    "optimize", "time_travel", "vacuum")
  val Buckets = 8
  val UpdateSpan = 200L
}
