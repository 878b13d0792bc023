package graft.plans

import graft.SparkSpec
import graft.operators.{CopyOnWrite, Snapshots}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Stats pruning never mis-prunes, checked on seeded random stores:
  * flat and partitioned layouts over numeric, string (values past
  * the 64-code-point truncation length, multi-byte and supplementary
  * characters), date and null-bearing columns, with and without bloom
  * sidecars, under random range / IN / equality / startsWith /
  * IS [NOT] NULL predicates and their conjunctions.
  *  - read: a filtered `Snapshots.table` read (the stats index
  *    decides) returns exactly the rows of the index-less read of the
  *    same files — an explicit file list, whose several root paths
  *    the planner rule leaves alone;
  *  - DML: `deleteWhere(p)` (the same decision admits its files)
  *    leaves exactly the rows of `NOT p OR p IS NULL`.
  */
class PruningPropertySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("i", LongType), StructField("x", DoubleType),
    StructField("s", StringType), StructField("dt", DateType),
    StructField("p", IntegerType)))

  private val long = "é" * 30 + "a" * 40 // past the cut in bytes
  private val stems = Seq("", "a" * 63, "a" * 64, "a" * 70, long,
    "漢字", "😀x", "k")

  private def orNull[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency(1 -> Gen.const(None), 6 -> g.map(Some(_)))

  private val genS: Gen[String] = for {
    stem <- Gen.oneOf(stems)
    tail <- Gen.choose(0, 30).map(n => f"$n%02d")
  } yield stem + tail

  private val genDate: Gen[java.sql.Date] =
    Gen.choose(0, 400).map(d =>
      java.sql.Date.valueOf(java.time.LocalDate.of(2023, 6, 1)
        .plusDays(d.toLong)))

  private val genRow: Gen[Row] = for {
    i <- orNull(Gen.choose(-500L, 500L))
    x <- orNull(Gen.choose(-50.0, 50.0))
    s <- orNull(genS)
    d <- orNull(genDate)
    p <- Gen.choose(0, 3)
  } yield Row(i.map(Long.box).orNull, x.map(Double.box).orNull,
    s.orNull, d.orNull, p)

  /** A store: rows, partitioned or flat (then range-clustered on
    * `clusterOn` so files carry selective bounds), the bloom columns. */
  private case class StoreCase(rows: Seq[Row], partitioned: Boolean,
      clusterOn: String, files: Int, blooms: Seq[String]) {
    override def toString: String =
      if (partitioned) s"partitioned by p, blooms $blooms"
      else s"$files files clustered on $clusterOn, blooms $blooms"
  }

  private val genStore: Gen[StoreCase] = for {
    n <- Gen.choose(40, 160)
    rows <- Gen.listOfN(n, genRow)
    part <- Gen.oneOf(true, false)
    on <- Gen.oneOf("i", "x", "s", "dt")
    files <- Gen.choose(2, 6)
    withBloom <- Gen.oneOf(true, false)
    blooms <- Gen.someOf("i", "s", "dt")
  } yield StoreCase(rows, part, on, files,
    if (withBloom) blooms.toSeq.sorted else Nil)

  /** A literal drawn from a column's domain: mostly a value present
    * in the data (so predicates select), sometimes a fresh one. */
  private def genLit(c: String, rows: Seq[Row]): Gen[Any] = {
    val idx = schema.fieldIndex(c)
    val present = rows.map(_.get(idx)).filter(_ != null)
    val fresh: Gen[Any] = c match {
      case "i" => Gen.choose(-600L, 600L)
      case "x" => Gen.choose(-60.0, 60.0)
      case "s" => genS
      case "dt" => genDate
      case _ => Gen.choose(0, 4)
    }
    if (present.isEmpty) fresh
    else Gen.frequency(3 -> Gen.oneOf(present), 1 -> fresh)
  }

  private def genAtom(rows: Seq[Row], c: String)
      : Gen[(String, Column)] = {
    val cc = col(c)
    val range = for {
      op <- Gen.oneOf("<", "<=", ">", ">=", "=")
      v <- genLit(c, rows)
    } yield (s"$c $op $v", op match {
      case "<" => cc < lit(v)
      case "<=" => cc <= lit(v)
      case ">" => cc > lit(v)
      case ">=" => cc >= lit(v)
      case _ => cc === lit(v)
    })
    val between = for {
      a <- genLit(c, rows); b <- genLit(c, rows)
    } yield (s"$c BETWEEN $a AND $b", cc.between(lit(a), lit(b)))
    val in = for {
      vs <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, genLit(c, rows)))
      withNull <- Gen.oneOf(true, false)
    } yield (s"$c IN (${vs.mkString(",")}${if (withNull) ",NULL" else ""})",
      cc.isin((if (withNull) vs :+ null else vs): _*))
    val nulls = Gen.oneOf((s"$c IS NULL", cc.isNull),
      (s"$c IS NOT NULL", cc.isNotNull))
    val prefix = for {
      v <- genLit("s", rows)
      k <- Gen.choose(1, 75)
    } yield {
      val str = v.toString
      val cut = str.offsetByCodePoints(0,
        math.min(k, str.codePointCount(0, str.length)))
      val pre = str.substring(0, cut)
      (s"s STARTSWITH '$pre'", col("s").startsWith(pre))
    }
    if (c == "s") Gen.frequency(3 -> range, 1 -> between, 2 -> in,
      1 -> nulls, 3 -> prefix)
    else Gen.frequency(3 -> range, 1 -> between, 2 -> in, 1 -> nulls)
  }

  /** 1–2 atoms, half of them on `focus` — the column the layout
    * clusters, where bounds are selective enough to skip files. */
  private def genPred(rows: Seq[Row], cols: Seq[String], focus: String)
      : Gen[(String, Column)] = {
    val atom = Gen.frequency(1 -> Gen.const(focus), 1 -> Gen.oneOf(cols))
      .flatMap(genAtom(rows, _))
    Gen.choose(1, 2).flatMap(Gen.listOfN(_, atom))
      .map(as => (as.map(_._1).mkString(" AND "),
        as.map(_._2).reduce(_ && _)))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def dataFiles(vDir: String): Seq[String] = {
    val root = new java.io.File(vDir)
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles.toSeq
        .filterNot(g => g.getName.startsWith("_") ||
          g.getName.startsWith("."))
        .flatMap(walk)
      else Seq(f.getAbsolutePath)
    walk(root)
  }

  test("seeded property: a stats-pruned read equals the index-less " +
    "read, and deleteWhere leaves exactly NOT p OR p IS NULL") {
    val cases = Gen.listOfN(8, genStore)
      .apply(Gen.Parameters.default, Seed(20261018L)).get
    var skipped = 0L
    var predSeed = 7L
    cases.zipWithIndex.foreach { case (sc, n) =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-prune-prop-$n").toString + "/t"
      val df0 = spark.createDataFrame(
        spark.sparkContext.parallelize(sc.rows, 2), schema)
      val (df, pcols) =
        if (sc.partitioned) (df0.repartition(col("p")), Seq("p"))
        else (df0.drop("p").repartitionByRange(sc.files,
          col(sc.clusterOn)), Nil)
      Snapshots.commitWithStats(spark, df, dir,
        statsCols = Seq("i", "x", "s", "dt"),
        partitionByCols = pcols, bloomCols = sc.blooms)
      val cols = Seq("i", "x", "s", "dt") ++ pcols
      val vDir = s"$dir/v=1"
      val files = dataFiles(vDir)
      assert(StatsFileIndex.indexOf(Snapshots.table(spark, dir)).isDefined)
      val preds = Gen.listOfN(14, genPred(sc.rows, cols, sc.clusterOn))
        .apply(Gen.Parameters.default, Seed(predSeed)).get
      predSeed += 1
      preds.foreach { case (desc, p) =>
        val clue = s"store $n ($sc), predicate $desc"
        val q = Snapshots.table(spark, dir).filter(p)
        val got = canon(q)
        val want = canon(spark.read.option("basePath", vDir)
          .parquet(files: _*).filter(p))
        assert(got == want, clue)
        // no census when the optimizer folded the filter to false
        skipped += StatsFileIndex.indexOf(q).flatMap(_.lastPrune)
          .map(_.filesSkipped).getOrElse(0L)
      }
      // the DML check on the first predicate
      preds.take(1).foreach { case (desc, p) =>
        val before = Snapshots.read(spark, dir)
        val want = canon(before.filter(!p || p.isNull))
        CopyOnWrite.deleteWhere(spark, dir, p)
        assert(canon(Snapshots.read(spark, dir)) == want,
          s"store $n ($sc), DELETE WHERE $desc")
      }
    }
    // the property is not vacuous: the index did skip files
    assert(skipped > 0, "no predicate ever skipped a file")
  }
}
