package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The file-skipping manifest's contracts: a committed version and
  * its `_stats.json` are inseparable, a filtered table read opens
  * STRICTLY fewer files than the full scan while losing no matching
  * row, the manifest decision ([[FileStats.prune]]) is conservative
  * for null/absent stats, min/max round-trip exactly for longs past
  * 2^53 (the double-corruption zone), and a fully-pruned read keeps
  * schema.
  */
class FileStatsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("commitWithStats seals a per-file manifest into the version; " +
    "a filtered table read opens strictly fewer files and loses no " +
    "matching row") {
    val dir = freshDir("graft-fstats")
    // 4 disjoint key ranges, one file each via the partition column
    val df = (0L until 400L).map(i => (i, i / 100, s"r$i"))
      .toDF("k", "bucket", "payload")
      .repartition(col("bucket"))
    val v = Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("k"), partitionByCols = Seq("bucket"))
    assert(v == 1L)
    val full = Snapshots.read(spark, dir)
    assert(full.inputFiles.length == 4)
    // range [150, 249] spans exactly buckets 1 and 2
    val (pruned, ps) = prunedRead(dir, col("k").between(150, 249))
    // THE plan-shape guarantee: the pruned scan reads strictly fewer
    // files, and only files the full scan also reads
    val scanned = scanOf(pruned).metrics("numFiles").value
    assert(scanned == 2, s"scanned $scanned files")
    assert(scanned < full.inputFiles.length)
    def paths(fs: Seq[String]) =
      fs.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    val readFrom = paths(pruned.select(input_file_name()).distinct()
      .as[String].collect().toSeq)
    assert(readFrom.size == 2 &&
      readFrom.subsetOf(paths(full.inputFiles.toSeq)), readFrom)
    assert(ps == FileStats.PruneStats(2, 2, 200, 200))
    // superset guarantee: every matching row survives pruning
    val got = pruned.orderBy(col("k")).select(col("k")).as[Long]
      .collect()
    assert(got.toSeq == (150L to 249L))
    // the partition-directory column survives the pruned listing
    assert(pruned.columns.contains("bucket"))
  }

  test("multi-column conjunctive pruning: both ranges must intersect " +
    "a file's stats — predicates prune multiplicatively") {
    val dir = freshDir("graft-fstats-2d")
    // 4 files = the 2x2 grid of (k-range, j-range) quadrants:
    // bucket b holds k in [100·(b/2), +99], j in [100·(b%2), +99]
    val df = (0L until 400L).map { i =>
      val b = i % 4
      ((b / 2) * 100 + i % 100, (b % 2) * 100 + i % 100, b)
    }.toDF("k", "j", "bucket").repartition(col("bucket"))
    Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("k", "j"), partitionByCols = Seq("bucket"))
    // k-range keeps 2 of 4 quadrants; adding the j-range keeps 1
    val (_, psK) = prunedRead(dir, col("k").between(0, 99))
    assert(psK.filesRead == 2 && psK.filesSkipped == 2)
    val (pruned, ps2) = prunedRead(dir,
      col("k").between(0, 99) && col("j").between(0, 99))
    assert(ps2.filesRead == 1 && ps2.filesSkipped == 3,
      ps2.toString)
    assert(pruned.count() == 100)
  }

  test("pruning is conservative: a file whose stats column is " +
    "all-null is always kept, and never counted as skipped") {
    val dir = freshDir("graft-fstats-null")
    val df = Seq((Some(1L), 0), (Some(2L), 0),
        (None: Option[Long], 1), (None, 1))
      .toDF("k", "bucket").repartition(col("bucket"))
    Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("k"), partitionByCols = Seq("bucket"))
    // range far away from [1,2]: the stats-bearing file is skipped,
    // the all-null file MUST be kept (its rows might match under a
    // different predicate form; min/max proves nothing about it)
    val manifest = FileStats.readManifest(spark, s"$dir/v=1")
    val (kept, skipped) = FileStats.prune(manifest,
      Seq(FileStats.NumRange("k", Some(100), Some(200))))
    assert(kept.size == 1 && skipped.size == 1)
    assert(kept.head.cols("k").isEmpty && kept.head.rows == 2)
    // through the planner: a null-safe equality implies no IS NOT
    // NULL, so only min/max decide — the all-null file is read and
    // never counted as skipped, and nothing matches
    val (pruned, ps) = prunedRead(dir, col("k") <=> 150L)
    assert(ps.filesRead == 1 && ps.filesSkipped == 1, ps)
    assert(ps.rowsInRead == 2, ps)
    assert(scanOf(pruned).metrics("numFiles").value == 1)
    assert(pruned.count() == 0)
  }

  test("manifest min/max are exact decimal strings: longs beyond " +
    "2^53 survive the round-trip (a double would corrupt them)") {
    val dir = freshDir("graft-fstats-big")
    val big = (1L << 53) + 1L // not representable as a double
    val df = Seq((big, 0), (big + 2, 0)).toDF("k", "bucket")
      .repartition(col("bucket"))
    Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("k"), partitionByCols = Seq("bucket"))
    val m = FileStats.readManifest(spark,
      s"$dir/v=1")
    assert(m.size == 1)
    assert(m.head.cols("k").contains((big.toString, (big + 2).toString)))
    // a range that excludes [big, big+2] only under EXACT compare:
    // [big+3, big+4] — as doubles, big+2 == big+3 rounds together
    val (_, ps) = prunedRead(dir, col("k").between(big + 3, big + 4))
    assert(ps.filesSkipped == 1 && ps.filesRead == 0)
  }

  test("compactVersion: small files bin-pack into a NEW version whose " +
    "manifest is recomputed over the new layout; pruning still exact") {
    val dir = freshDir("graft-fstats-compact")
    // 4 small files with known k-ranges: an EXPLICIT 4-partition range
    // (narrow plan, no exchange — AQE partition coalescing can't
    // merge it down to one file the way a repartition would be)
    val df = spark.range(0, 400, 1, 4).select(col("id").as("k"))
    // flat layout (no partition dirs), many small files
    val v1 = Snapshots.commitWithStats(spark, df, dir, Seq("k"))
    val v1Files = Snapshots.read(spark, dir).inputFiles.length
    assert(v1Files > 1, "fixture needs multiple files")
    val (v2, cs) = SnapshotMaintenance.compact(spark, dir,
      targetBytes = 1L << 30) // everything fits one bin
    assert(v2 == v1 + 1 && Snapshots.latestVersion(spark, dir) == v2)
    assert(cs.nInputFiles == v1Files)
    val v2Files = Snapshots.read(spark, dir).inputFiles.length
    assert(v2Files < v1Files, s"$v2Files !< $v1Files")
    // manifest recomputed: entries = new files, content preserved
    val m = FileStats.readManifest(spark, s"$dir/v=$v2")
    assert(m.size == v2Files)
    assert(Snapshots.read(spark, dir).count() == 400)
    // stats columns inherited from the source manifest (none passed)
    val (pruned, ps) = prunedRead(dir, col("k").between(0, 399))
    assert(ps.filesRead == v2Files.toLong && ps.rowsInRead == 400)
    assert(pruned.count() == 400)
    // the OLD version is untouched until vacuum — maintenance never
    // breaks an in-flight reader
    assert(Snapshots.read(spark, dir, v1).count() == 400)
    // a partitioned layout compacts through the same entry point
    val pdir = freshDir("graft-fstats-compact-part")
    Snapshots.commitWithStats(spark,
      Seq((1L, 0), (2L, 1)).toDF("k", "bucket")
        .repartition(col("bucket")),
      pdir, Seq("k"), partitionByCols = Seq("bucket"))
    val (av, _) = SnapshotMaintenance.compact(spark, pdir, 1L << 30)
    assert(av == 2L)
    assert(Snapshots.read(spark, pdir).count() == 2L)
  }

  test("compactPartitionedVersion: each partition directory bins " +
    "independently, manifest recomputed, pruning intact") {
    val dir = freshDir("graft-fstats-pcompact")
    // 4 explicit partitions × partitionBy(bucket): bucket=0 holds
    // k 0..199 in TWO files, bucket=1 holds k 200..399 in two more
    val df = spark.range(0, 400, 1, 4)
      .select(col("id").as("k"),
        (col("id") / 200).cast("long").as("bucket"))
    val v1 = Snapshots.commitWithStats(spark, df, dir, Seq("k"),
      partitionByCols = Seq("bucket"))
    val before = Snapshots.read(spark, dir).inputFiles.length
    assert(before == 4, s"fixture expected 4 files, got $before")
    val (v2, cs) = SnapshotMaintenance.compact(spark, dir,
      targetBytes = 1L << 30)
    assert(v2 == v1 + 1 && cs.nInputFiles == 4)
    val after = Snapshots.read(spark, dir)
    assert(after.inputFiles.length == 2, after.inputFiles.mkString(","))
    // files never merge ACROSS partition values: the partition column
    // still reconstructs, and each bucket keeps exactly its rows
    // (partition-directory inference types bucket as INT, not LONG)
    assert(after.groupBy(col("bucket")).count().orderBy(col("bucket"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1))).toSeq ==
      Seq((0L, 200L), (1L, 200L)))
    // manifest recomputed over the compacted layout; k-range pruning
    // now skips the bucket the predicate can't touch
    val (pruned, ps) = prunedRead(dir, col("k").between(0, 150))
    assert(ps.filesRead == 1 && ps.filesSkipped == 1, ps.toString)
    assert(pruned.count() == 151)
  }

  test("non-numeric stats never prune and never throw: a range " +
    "predicate against a string column keeps every file") {
    val dir = freshDir("graft-fstats-str")
    val df = Seq((1L, "alpha", 0), (2L, "beta", 1))
      .toDF("k", "s", "bucket").repartition(col("bucket"))
    Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("k", "s"), partitionByCols = Seq("bucket"))
    // the planner only extracts type-matched predicates, so a numeric
    // range on a string column exists only as a manifest decision
    val (kept, skipped) = FileStats.prune(
      FileStats.readManifest(spark, s"$dir/v=1"),
      Seq(FileStats.NumRange("s", Some(0), Some(1))))
    assert(kept.size == 2 && skipped.isEmpty)
    assert(kept.map(_.rows).sum == 2)
  }

  test("a fully-pruned read returns an empty frame with the full " +
    "schema, and the census accounts for every file") {
    val dir = freshDir("graft-fstats-empty")
    val df = Seq((1L, "a", 0), (2L, "b", 1)).toDF("k", "s", "bucket")
      .repartition(col("bucket"))
    Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("k"), partitionByCols = Seq("bucket"))
    val (pruned, ps) = prunedRead(dir, col("k").between(100, 200))
    assert(ps.filesRead == 0 && ps.filesSkipped == 2)
    assert(ps.rowsInSkipped == 2)
    assert(pruned.count() == 0)
    assert(pruned.columns.toSet == Set("k", "s", "bucket"))
  }

  test("string stat values with JSON metacharacters round-trip: a " +
    "published manifest is never poisoned by quotes, backslashes, or " +
    "newlines in the data") {
    val dir = freshDir("graft-fstats-esc")
    // adversarial min/max per file: the old raw interpolation wrote a
    // manifest readManifest could not parse, breaking pruned reads
    // AND compaction on a validly published table
    val df = Seq(
      ("\"quoted\" start", 0), ("zz\\backslash", 0),
      ("line\nbreak", 1), ("tab\there ctl", 1))
      .toDF("s", "bucket").repartition(col("bucket"))
    Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("s"), partitionByCols = Seq("bucket"))
    val manifest = FileStats.readManifest(spark, s"$dir/v=1")
    assert(manifest.size == 2)
    val allStats = manifest.flatMap(_.cols("s")).sortBy(_._1)
    assert(allStats.contains(("\"quoted\" start", "zz\\backslash")),
      allStats.toString)
    assert(allStats.exists(_._1 == "line\nbreak"), allStats.toString)
    // the manifest stays consumable end-to-end: string-pruned read
    // and compaction both parse it
    val (pruned, ps) = prunedRead(dir, col("s").between("a", "z"))
    assert(ps.filesRead + ps.filesSkipped == 2)
    assert(pruned.count() >= 1)
    SnapshotMaintenance.compact(spark, dir,
      targetBytes = 1L << 30)
    assert(Snapshots.latestVersion(spark, dir) == 2L)
  }

  test("string-range pruning (the reference's text-typed applied_date " +
    "shape): a date-string predicate opens strictly fewer files and " +
    "loses no matching row") {
    val dir = freshDir("graft-fstats-str")
    // 4 files of disjoint month ranges, TEXT dates — the reference's
    // most-queried incremental predicate could never prune before
    val df = (0 until 120).map { i =>
      val month = i / 30 + 1
      (f"2024-$month%02d-${i % 30 + 1}%02d", i.toLong, i / 30)
    }.toDF("applied_date", "k", "bucket").repartition(col("bucket"))
    Snapshots.commitWithStats(spark, df, dir,
      statsCols = Seq("applied_date"), partitionByCols = Seq("bucket"))
    val (pruned, ps) = prunedRead(dir,
      col("applied_date").between("2024-02-15", "2024-03-15"))
    assert(ps.filesRead == 2 && ps.filesSkipped == 2, ps.toString)
    val got = pruned.count()
    val want = Snapshots.read(spark, dir)
      .filter(col("applied_date").between("2024-02-15", "2024-03-15"))
      .count()
    assert(got == want && want > 0)
    // open-ended bound — the applied_after pushdown shape
    val (_, psOpen) = prunedRead(dir,
      col("applied_date") >= "2024-04-01")
    assert(psOpen.filesRead == 1 && psOpen.filesSkipped == 3)
  }

  test("truncated string bounds stay sound at the boundary: a max " +
    "sharing the cut prefix is kept, a value past the incremented " +
    "prefix is provably skippable, untruncatable stats keep the file") {
    // unit layer: the truncation algebra itself
    assert(FileStats.truncateLower("abcdef", 4) == "abcd")
    assert(FileStats.truncateUpper("abcdef", 4).contains("abce"))
    assert(FileStats.truncateUpper("abc", 4).contains("abc"))
    // increment carries over a code point at the ceiling
    val maxCp = new String(Character.toChars(0x10FFFF))
    assert(FileStats.truncateUpper("ab" + maxCp * 3, 4)
      .contains("ac"))
    assert(FileStats.truncateUpper(maxCp * 5, 4).isEmpty)
    // an increment landing in the surrogate gap jumps past it
    assert(FileStats.truncateUpper("a퟿zzz", 2)
      .contains("a"))
    // integration: boundary-adversarial pruning. One file whose true
    // max ("aaaa_zzz") is truncated to min="aaaa", max="aaab"
    val dir = freshDir("graft-fstats-trunc")
    val df = Seq(("aaaa_mmm", 0), ("aaaa_zzz", 0), ("bbbb_xxx", 1),
      ("bbbb_yyy", 1)).toDF("s", "bucket").repartition(col("bucket"))
    val stage = s"$dir/data"
    df.write.partitionBy("bucket").parquet(stage)
    FileStats.writeManifest(spark, stage, Seq("s"), maxStatLen = 4)
    val manifest = FileStats.readManifest(spark, stage)
    assert(manifest.flatMap(_.cols("s")).toSet ==
      Set(("aaaa", "aaab"), ("bbbb", "bbbc")))
    // predicate inside the truncated envelope but past the TRUE max:
    // must be KEPT (truncation widens, never narrows)
    val (k1, _) = FileStats.prune(manifest,
      Seq(FileStats.StrRange("s", Some("aaaa_zzzz"), Some("aaaa_zzzz"))))
    assert(k1.size == 1, "widened bound must keep the file")
    // predicate past the incremented prefix: provably disjoint
    val (k2, s2) = FileStats.prune(manifest,
      Seq(FileStats.StrRange("s", Some("aaac"), Some("aab"))))
    assert(k2.isEmpty && s2.size == 2)
    // matching reads lose nothing through the truncated manifest
    val (kept, _) = FileStats.prune(manifest,
      Seq(FileStats.StrRange("s", Some("aaaa_zzz"), Some("bbbb_xxx"))))
    assert(kept.size == 2)
  }

  test("writeManifest refuses a TOP-LEVEL column whose name contains " +
    "a dot — its manifest key would alias a nested struct path and " +
    "mis-prune nested predicates") {
    val dir = freshDir("graft-fsdot")
    // both a flat column literally named "detail.amount" and a
    // struct path detail.amount: the filter side renders
    // GetStructField chains to the SAME dotted key
    val df = (0L until 10L).map(i => (i, i * 2, i * 100))
      .toDF("k", "flatAmt", "nestedAmt")
      .withColumn("detail", struct(col("nestedAmt").as("amount")))
      .withColumnRenamed("flatAmt", "detail.amount")
      .drop("nestedAmt")
    df.coalesce(1).write.parquet(dir)
    val e = intercept[IllegalArgumentException] {
      FileStats.writeManifest(spark, dir, Seq("detail.amount"))
    }
    assert(e.getMessage.contains("dot"), e.getMessage)
    // the unambiguous nested-only shape still works
    val dir2 = freshDir("graft-fsdot2")
    (0L until 10L).map(i => (i, i * 100)).toDF("k", "amt")
      .withColumn("detail", struct(col("amt").as("amount"))).drop("amt")
      .coalesce(1).write.parquet(dir2)
    FileStats.writeManifest(spark, dir2, Seq("detail.amount"))
    val m = FileStats.readManifest(spark, dir2)
    assert(m.nonEmpty && m.head.cols.contains("detail.amount"))
  }
}
