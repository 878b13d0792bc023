package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{JArray, JLong, JObject, JString, JValue}

/** Per-file Bloom sidecars for POINT lookups — the equality
  * complement to [[FileStats]]' min/max ranges. Min/max pruning only
  * pays on columns the layout clusters; a point lookup on any OTHER
  * high-cardinality column (an id, a url, a user key) intersects
  * every file's [min,max] and reads the whole table. A per-file Bloom
  * filter answers "can this file contain value v?" for any column at
  * ~m bits per file: at 100 TB / 100k files, one driver-side sidecar
  * read replaces a full scan for id lookups — the same design as
  * Parquet's bloom_filter column metadata and Iceberg's
  * bloom-filter file metrics, rebuilt portably.
  *
  * PORTABILITY: bit positions come from the repo's oracle-portable
  * md5-60 hash — bit(i, v) = md5hash60("bf" + i + ":" + v) mod m for
  * k seeds i = 1..k — so the ENTIRE keep/skip decision (including
  * false positives) is replayable in DuckDB with the same
  * `('0x' || substr(md5(…),1,15))::BIGINT % m` arithmetic the
  * sketch family already uses: a file is kept iff for EVERY seed some
  * value in the file shares the probe's bit. xq26 pins exactly that.
  *
  * Sidecar format: `_bloom_<column>.json` inside the version
  * directory, one line per data file: relative path, row count, m, k,
  * and the SORTED set bit positions (≤ m small ints — at m=1024 a
  * worst-case line is ~5 KB; typical files set far fewer). Values are
  * hashed from their CANONICAL STRING CAST (CAST(v AS STRING) on both
  * engines), nulls don't participate (an equality probe can't match
  * null). Files absent from the sidecar are kept conservatively.
  */
object BloomStats {

  def manifestName(column: String): String = {
    require(column.nonEmpty && column.forall(c =>
      c.isLetterOrDigit || c == '_'),
      s"bloom columns are [A-Za-z0-9_]+ (the name rides in a file " +
        s"name): '$column'")
    s"_bloom_$column.json"
  }

  /** One file's filter: path relative to the version root, rows, the
    * geometry, and the set bit positions. */
  case class FileBloom(relPath: String, rows: Long, m: Int, k: Int,
      bits: Set[Int])

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The bit position for seed `i` of canonical value `v` — column
    * form (executor side, codegen'd). */
  private def bitCol(i: Int, v: Column, m: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"bf$i:"), v)), 1, 15), 16, 10)
      .cast("long"), lit(m.toLong)).cast("int")

  /** The same bit position computed driver-side for a probe value. */
  private[operators] def bitOf(i: Int, v: String, m: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"bf$i:$v".getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % m).toInt
  }

  /** Compute per-file Bloom bits for `column` over the parquet files
    * under `dataDir` and write `_bloom_<column>.json` there. ONE
    * distributed scan reading only the column (k bit expressions ride
    * one explode), one file-keyed set aggregate — the same shape and
    * cost class as [[FileStats.writeManifest]].
    */
  def writeManifest(spark: SparkSession, dataDir: String,
      column: String, m: Int = 1024, k: Int = 4): Unit = {
    require(m > 1 && k >= 1 && k <= 16, s"bad bloom geometry m=$m k=$k")
    manifestName(column) // validate the column name up front
    val rootUri = fs(spark, dataDir)
      .makeQualified(new Path(dataDir)).toUri.getPath
    val v = col(column).cast("string")
    val perFile = Snapshots.readFileSet(spark, dataDir)
      .select(input_file_name().as("__file"), v.as("__v"))
      .select(col("__file"),
        explode(array(
          (lit(-1) +: // rows ride the same explode as a sentinel
            (1 to k).map(i =>
              when(col("__v").isNotNull, bitCol(i, col("__v"), m))
                .otherwise(lit(-2)))): _*)).as("__bit"))
      .groupBy(col("__file"))
      .agg(
        sum(when(col("__bit") === -1, 1L).otherwise(0L)).as("__rows"),
        sort_array(collect_set(
          when(col("__bit") >= 0, col("__bit")))).as("__bits"))
      .collect()
    val entries = perFile.toSeq.map { r =>
      val full = new java.net.URI(r.getString(0)).getPath
      val rel = full.stripPrefix(rootUri).stripPrefix("/")
      FileBloom(rel, r.getAs[Long]("__rows"), m, k,
        r.getSeq[Int](2).toSet)
    }
    writeEntries(spark, dataDir, column, entries)
  }

  /** A sidecar line: `{"file":…,"rows":…,"m":…,"k":…,"bits":[…]}`,
    * bits ascending. */
  private[operators] def toJson(e: FileBloom): JValue =
    JObject("file" -> JString(e.relPath), "rows" -> JLong(e.rows),
      "m" -> JLong(e.m), "k" -> JLong(e.k),
      "bits" -> JArray(e.bits.toList.sorted.map(JLong(_))))

  /** The entry of one sidecar line ([[toJson]]'s format). */
  private[operators] def fromJson(j: JValue): FileBloom = {
    import StoreJson.formats
    FileBloom((j \ "file").extract[String], (j \ "rows").extract[Long],
      (j \ "m").extract[Int], (j \ "k").extract[Int],
      (j \ "bits").extract[List[Int]].toSet)
  }

  /** Write a bloom sidecar from pre-computed entries — the splice
    * path for copy-on-write rewrites (untouched files keep their old
    * filters; only new files were scanned). */
  def writeEntries(spark: SparkSession, dataDir: String,
      column: String, entries: Seq[FileBloom]): Unit =
    StoreJson.write(fs(spark, dataDir),
      new Path(dataDir, manifestName(column)), entries.map(toJson))

  /** Parse `_bloom_<column>.json` under `dataDir`. */
  def readManifest(spark: SparkSession, dataDir: String,
      column: String): Seq[FileBloom] =
    StoreJson.read(fs(spark, dataDir),
      new Path(dataDir, manifestName(column))).map(fromJson)

  /** Can `fb`'s file possibly contain `value`? True unless some
    * seed's probe bit is absent — absence is a proof (bits are only
    * ever set by present values); presence may be a false positive. */
  def admits(fb: FileBloom, value: String): Boolean =
    (1 to fb.k).forall(i => fb.bits(bitOf(i, value, fb.m)))

  /** Keep/skip split for an equality probe — skipped files are
    * proven to contain no row equal to `value`; never lossy. */
  def pruneEquals(manifest: Seq[FileBloom], value: String)
      : (Seq[FileBloom], Seq[FileBloom]) =
    manifest.partition(admits(_, value))
}
