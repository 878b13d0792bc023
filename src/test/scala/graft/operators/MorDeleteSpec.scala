package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read deletes (MergeOnRead.deleteWhere): a DELETE must
  * move ZERO data bytes — only a deletion-vector sidecar and a
  * reference list — while every reader (read/table/connector/stream
  * replay) serves exactly the copy-on-write answer; folding restores
  * the self-contained, stats-indexed form; vacuum must never reclaim
  * a version directory that still physically serves a survivor.
  */
class MorDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def hfs =
    new org.apache.hadoop.fs.Path("/tmp").getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** 400 rows, 4 bucketed files, stats+partitioning — one store. */
  private def build(dir: String): Unit = {
    val df = (0L until 400L).map(i => (i, i / 100, s"d$i"))
      .toDF("k", "b", "payload").repartition(col("b"))
    Snapshots.commitWithStats(spark, df, dir, statsCols = Seq("k"),
      partitionByCols = Seq("b"))
  }

  private def dataFilesIn(vDir: String): Seq[String] = {
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
      hfs.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (s.isDirectory) walk(s.getPath)
        else Seq(s.getPath.toString)
      }
    walk(new org.apache.hadoop.fs.Path(vDir))
  }

  test("MoR delete equals CoW delete row-for-row, with zero data " +
    "files written and sidecar bytes far below the CoW movement") {
    val cowDir = freshDir("graft-morA")
    val morDir = freshDir("graft-morB")
    build(cowDir); build(morDir)
    val pred = col("k") % 10 === 3 && col("k") < 200
    val (_, cow) = CopyOnWrite.deleteWhere(spark, cowDir, pred)
    val (v2, mor) = MergeOnRead.deleteWhere(spark, morDir, pred)
    assert(v2 == 2L)
    assert(cow.rowsChanged == 20L && mor.tombstonesAdded == 20L)
    // the MoR version directory holds NO data files at all
    assert(dataFilesIn(s"$morDir/v=2").isEmpty)
    assert(mor.filesReferenced == 4L)
    // sidecar = tombstones + the version record; even on
    // this 400-row fixture it is a small fraction of the CoW movement
    // (at scale the ratio is bytes-vs-terabytes)
    assert(mor.bytesWritten < mor.cowBytesAvoided / 3,
      s"sidecar ${mor.bytesWritten} vs cow ${mor.cowBytesAvoided}")
    // identical table content, partition column included
    val a = Snapshots.read(spark, cowDir)
      .orderBy("k").collect().toSeq
    val b = Snapshots.read(spark, morDir)
      .select(a.headOption.map(_ => Snapshots.read(spark, cowDir)
        .columns).getOrElse(Array("k")).toSeq.map(col): _*)
      .orderBy("k").collect().toSeq
    assert(a == b)
    assert(Snapshots.read(spark, morDir).count() == 380L)
    // time travel: v1 still serves the pre-delete table
    assert(Snapshots.read(spark, morDir, 1L).count() == 400L)
  }

  test("consecutive MoR deletes accumulate tombstones; a no-op " +
    "delete publishes nothing; NULL predicates keep rows") {
    val dir = freshDir("graft-morC")
    build(dir)
    val (_, m1) = MergeOnRead.deleteWhere(spark, dir, col("k") < 50L)
    val (v3, m2) = MergeOnRead.deleteWhere(spark, dir,
      col("k").between(350, 500))
    assert(m1.tombstonesAdded == 50L && m1.tombstonesTotal == 50L)
    assert(m2.tombstonesAdded == 50L && m2.tombstonesTotal == 100L)
    assert(v3 == 3L)
    assert(Snapshots.read(spark, dir).count() == 300L)
    assert(Snapshots.read(spark, dir).agg(min("k"), max("k")).head()
      .toSeq == Seq(50L, 349L))
    // re-deleting the same range: already-tombstoned rows are gone
    // from the scan, so this is a no-op and publishes NOTHING
    val (v3b, m3) = MergeOnRead.deleteWhere(spark, dir, col("k") < 50L)
    assert(v3b == 3L && m3.tombstonesAdded == 0L &&
      m3.tombstonesTotal == 100L)
    // NULL predicate keeps (SQL DELETE): no payload is null here
    val (v3c, m4) = MergeOnRead.deleteWhere(spark, dir,
      when(col("payload").isNull, lit(true)))
    assert(v3c == 3L && m4.tombstonesAdded == 0L)
  }

  test("a metadata aggregate over an MoR head runs the REAL plan — " +
    "counts stay exact after deletes, never a stale-manifest answer") {
    val dir = freshDir("graft-morM")
    build(dir)
    MergeOnRead.deleteWhere(spark, dir, col("k") < 25L)
    val q = Snapshots.table(spark, dir)
      .agg(count(lit(1)).as("n"), min(col("k")).as("mn"))
    val r = q.head()
    assert(r.getLong(0) == 375L && r.getLong(1) == 25L)
  }

  test("foldMor materializes a self-contained version: layout, " +
    "stats index, and metadata aggregates all restored; " +
    "compactVersion delegates to the fold") {
    val dir = freshDir("graft-morF")
    build(dir)
    MergeOnRead.deleteWhere(spark, dir, col("k").between(100, 149))
    val v3 = MergeOnRead.fold(spark, dir, statsCols = Seq("k"))
    assert(v3 == 3L && !MergeOnRead.isMorVersion(spark, dir, 3L))
    val folded = Snapshots.read(spark, dir)
    assert(folded.count() == 350L)
    assert(folded.filter(col("k").between(100, 149)).count() == 0L)
    // partitioned layout restored
    assert(hfs.exists(new org.apache.hadoop.fs.Path(s"$dir/v=3/b=0")))
    // pruning works again through the planner index
    val tbl = Snapshots.table(spark, dir)
    assert(tbl.filter(col("k") < 50L).count() == 50L)
    val ps = graft.plans.StatsFileIndex.indexOf(tbl)
      .flatMap(_.lastPrune).getOrElse(fail("no stats index after fold"))
    assert(ps.filesSkipped > 0L, ps)
    // compaction on a fresh MoR head folds it
    val dir2 = freshDir("graft-morF2")
    build(dir2)
    MergeOnRead.deleteWhere(spark, dir2, col("k") < 10L)
    val (nv, cs) = SnapshotMaintenance.compact(spark, dir2, 1L << 20,
      statsCols = Seq("k"))
    assert(nv == 3L && !MergeOnRead.isMorVersion(spark, dir2, nv))
    assert(cs.nInputFiles == 4 && cs.nRewrittenFiles > 0)
    assert(Snapshots.read(spark, dir2).count() == 390L)
  }

  test("appendVersion on an MoR head keeps zero-copy semantics: new " +
    "rows land locally, references and tombstones carry forward") {
    val dir = freshDir("graft-morP")
    build(dir)
    MergeOnRead.deleteWhere(spark, dir, col("k") < 100L)
    val nv = Snapshots.appendVersion(spark,
      (1000L until 1050L).map(i => (i, 0L, s"d$i"))
        .toDF("k", "b", "payload").coalesce(1), dir)
    assert(nv == 3L && MergeOnRead.isMorVersion(spark, dir, 3L))
    val t = Snapshots.read(spark, dir)
    assert(t.count() == 350L)
    assert(t.filter(col("k") >= 1000L).count() == 50L)
    assert(t.filter(col("k") < 100L).count() == 0L)
    // only the new rows' files are local to v=3
    val local = dataFilesIn(s"$dir/v=3")
    assert(local.nonEmpty && local.forall(_.contains("/v=3/")))
    assert(spark.read.option("basePath", s"$dir/v=3")
      .parquet(local: _*).count() == 50L)
    // a further MoR delete spanning old and new rows works on the mix
    val (_, m) = MergeOnRead.deleteWhere(spark, dir,
      col("k").isin(150L, 1001L))
    assert(m.tombstonesAdded == 2L)
    assert(Snapshots.read(spark, dir).count() == 348L)
  }

  test("copy-on-write ops refuse an MoR head loudly; vacuum never " +
    "reclaims a version that physically serves a survivor") {
    val dir = freshDir("graft-morV")
    build(dir)
    MergeOnRead.deleteWhere(spark, dir, col("k") < 10L)
    val e = intercept[IllegalArgumentException] {
      CopyOnWrite.deleteWhere(spark, dir, col("k") < 20L)
    }
    assert(e.getMessage.contains("MergeOnRead.fold"))
    // keepLast=1 would doom v=1, but v=2 serves v=1's files
    assert(SnapshotMaintenance.vacuum(spark, dir, keepLast = 1).isEmpty)
    assert(Snapshots.read(spark, dir).count() == 390L)
    // after folding, nothing pins v1/v2 and both reclaim
    MergeOnRead.fold(spark, dir, statsCols = Seq("k"))
    assert(SnapshotMaintenance.vacuum(spark, dir, keepLast = 1) == Seq(1L, 2L))
    assert(Snapshots.read(spark, dir).count() == 390L)
    // a failed delete (bad predicate) leaves the head untouched
    val before = Snapshots.latestVersion(spark, dir)
    intercept[Exception] {
      MergeOnRead.deleteWhere(spark, dir, col("no_such_col") === 1L)
    }
    assert(Snapshots.latestVersion(spark, dir) == before)
  }

  test("plan shape: the tombstone application is a BROADCAST left-" +
    "anti hash join — never a shuffled join while the deletion " +
    "vector is sidecar-sized, and never a cartesian") {
    val dir = freshDir("graft-morPlan")
    build(dir)
    MergeOnRead.deleteWhere(spark, dir, col("k") % 100 === 3L)
    val q = Snapshots.read(spark, dir).filter(col("k") < 200L)
    q.count() // finalize any AQE decisions
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"),
      s"tombstone anti-join not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("MoR UPDATE tombstones the old images and lands the new ones " +
    "as local files — equal to CoW updateWhere, zero untouched bytes " +
    "moved, partition-column changes re-route") {
    val cowDir = freshDir("graft-morUa")
    val morDir = freshDir("graft-morUb")
    build(cowDir); build(morDir)
    val pred = col("k") % 25 === 7
    val sets = Map("payload" -> concat(lit("upd:"), col("payload")),
      "b" -> lit(9L)) // moves rows to a NEW partition directory
    CopyOnWrite.updateWhere(spark, cowDir, pred, sets)
    val (v2, m) = MergeOnRead.updateWhere(spark, morDir, pred, sets)
    assert(v2 == 2L && m.tombstonesAdded == 16L)
    val a = Snapshots.read(spark, cowDir).orderBy("k", "payload")
      .collect().toSeq
    val cols = Snapshots.read(spark, cowDir).columns.toSeq
    val b = Snapshots.read(spark, morDir).select(cols.map(col): _*)
      .orderBy("k", "payload").collect().toSeq
    assert(a == b)
    // only the 16 updated rows are local; everything else is a ref
    val local = dataFilesIn(s"$morDir/v=2")
    assert(local.nonEmpty &&
      local.forall(p => p.contains("/v=2/") && p.contains("b=9")))
    assert(spark.read.option("basePath", s"$morDir/v=2")
      .parquet(local: _*).count() == 16L)
    // composes with MoR delete on the mixed (refs+local) head
    val (_, d) = MergeOnRead.deleteWhere(spark, morDir,
      col("payload").startsWith("upd:") && col("k") < 100L)
    assert(d.tombstonesAdded == 4L)
    assert(Snapshots.read(spark, morDir).count() == 396L)
    // and folds back clean
    MergeOnRead.fold(spark, morDir, statsCols = Seq("k"))
    assert(Snapshots.read(spark, morDir).count() == 396L)
    assert(Snapshots.read(spark, morDir)
      .filter(col("b") === 9L).count() == 12L)
  }

  test("compactVersion on an MoR head INHERITS the homes' sidecar " +
    "columns by default — the folded version prunes and answers " +
    "metadata-only without the caller naming the schema") {
    val dir = freshDir("graft-morS")
    val df = (0L until 400L).map(i => (i, i / 100, s"d$i"))
      .toDF("k", "b", "payload").repartition(col("b"))
    Snapshots.commitWithStats(spark, df, dir, statsCols = Seq("k"),
      partitionByCols = Seq("b"), bloomCols = Seq("payload"))
    MergeOnRead.deleteWhere(spark, dir, col("k") < 50L)
    // the common maintenance call: NO statsCols argument
    val (nv, _) = SnapshotMaintenance.compact(spark, dir, 1L << 20)
    assert(!MergeOnRead.isMorVersion(spark, dir, nv))
    val vDir = s"$dir/v=$nv"
    assert(hfs.exists(new org.apache.hadoop.fs.Path(vDir,
      FileStats.ManifestName)), "stats manifest dropped by the fold")
    assert(hfs.exists(new org.apache.hadoop.fs.Path(vDir,
      "_bloom_payload.json")), "bloom sidecar dropped by the fold")
    val m = FileStats.readManifest(spark, vDir)
    assert(m.forall(_.cols.contains("k")) && m.map(_.rows).sum == 350L)
    // and the metadata-only aggregate works again, with EXACT counts
    val agg = Snapshots.table(spark, dir)
      .agg(count(lit(1)).as("n"), min(col("k")).as("mn"))
    val metadataOnly = agg.queryExecution.optimizedPlan.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources
        .LogicalRelation => lr
    }.isEmpty
    assert(metadataOnly, agg.queryExecution.optimizedPlan.toString)
    assert(agg.head().toSeq == Seq(350L, 50L))
  }

  test("the connector serves MoR versions correctly (assembled scan) " +
    "and duplicates delete positionally, not by value") {
    val dir = freshDir("graft-morX")
    // duplicate rows: value-keyed deletes would be ambiguous;
    // position-keyed tombstones are not
    val df = (0L until 100L).map(i => (i % 10, "dup")).toDF("k", "p")
      .coalesce(1)
    Snapshots.commit(spark, df, dir)
    val (_, m) = MergeOnRead.deleteWhere(spark, dir, col("k") === 3L)
    assert(m.tombstonesAdded == 10L)
    val viaConnector = spark.read.format("snapshot").load(dir)
    assert(viaConnector.count() == 90L)
    assert(viaConnector.filter(col("k") === 3L).count() == 0L)
    assert(viaConnector.groupBy(col("k")).count()
      .filter(col("count") =!= 10L).count() == 0L)
  }

  test("every pruned reader serves an MoR head through the FULL " +
    "assembly (everything-kept census) — references resolved, " +
    "tombstones applied, never the bare local files") {
    val dir = freshDir("graft-morPrune")
    build(dir) // stats on k, partitioned by b
    // pure-delete MoR head: v=2 has ZERO local data files — the old
    // code path either misread (readTopK on an update head) or threw
    MergeOnRead.deleteWhere(spark, dir, col("k") < 100L)
    assert(MergeOnRead.isMorVersion(spark, dir, 2L))
    // readTopK: must see the whole live table, not v=2's (empty)
    // local files, and must NOT resurrect tombstoned rows
    val (top, psT) = PrunedReads.readTopK(spark, dir, "k", 5)
    val topK = top.orderBy(col("k").desc).limit(5)
      .collect().map(_.getAs[Long]("k")).toSeq
    assert(topK == Seq(399L, 398L, 397L, 396L, 395L))
    assert(psT.filesSkipped == 0L && psT.filesRead == 4L, psT)
    val (bot, _) = PrunedReads.readTopK(spark, dir, "k", 3,
      desc = false, nullsFirst = true)
    assert(bot.orderBy(col("k")).limit(3)
      .collect().map(_.getAs[Long]("k")).toSeq == Seq(100L, 101L, 102L))
    // a filtered planner read of the head: exactly the live rows of
    // the range, no tombstoned row resurrected
    val live = Snapshots.table(spark, dir).filter(col("k") <= 150L)
      .select(col("k")).as[Long].collect().sorted.toSeq
    assert(live == (100L to 150L)) // 0..99 tombstoned
    assert(Snapshots.table(spark, dir).filter(col("k") < 100L)
      .count() == 0L) // all tombstoned
    // readJoinPruned: full assembly, join still row-level correct
    val dim = Seq(50L, 150L, 250L).toDF("k")
    val (jp, psJ) = PrunedReads.readJoinPruned(spark, dir, "k", dim)
    assert(jp.join(dim, "k").count() == 2L) // 50 deleted; 150/250 live
    assert(psJ.filesSkipped == 0L, psJ)
    // an UPDATE head (has local files too) through readTopK: the old
    // no-manifest branch would read ONLY the local updated images
    MergeOnRead.updateWhere(spark, dir, col("k") === 399L,
      Map("k" -> lit(1000L)))
    val (top2, _) = PrunedReads.readTopK(spark, dir, "k", 2)
    assert(top2.orderBy(col("k").desc).limit(2)
      .collect().map(_.getAs[Long]("k")).toSeq == Seq(1000L, 398L))
    // time travel through the guard: version pin still works
    val (tv, _) = PrunedReads.readTopK(spark, dir, "k", 1, version = 1L)
    assert(tv.agg(max(col("k"))).head().getLong(0) == 399L)
  }

  test("incremental deletion vectors: statement cost is O(statement)," +
    " never O(accumulated deletes) — a 1-row delete after a 200-row " +
    "delete writes a small fraction of the first statement's bytes") {
    val dir = freshDir("graft-morDV")
    // 40k rows so the first statement's deletion vector dwarfs fixed
    // parquet overheads — the ratio below then actually measures the
    // union-rewrite-vs-incremental difference
    val df = (0L until 40000L).map(i => (i, i / 10000, s"d$i"))
      .toDF("k", "b", "payload").repartition(col("b"))
    Snapshots.commitWithStats(spark, df, dir, statsCols = Seq("k"),
      partitionByCols = Seq("b"))
    val (_, big) = MergeOnRead.deleteWhere(spark, dir,
      col("k") < 30000L)
    assert(big.tombstonesAdded == 30000L)
    val (_, tiny) = MergeOnRead.deleteWhere(spark, dir,
      col("k") === 35000L)
    assert(tiny.tombstonesAdded == 1L && tiny.tombstonesTotal == 30001L)
    // the old union-rewrite made every statement pay for ALL prior
    // tombstones; the incremental dv writes only its own — the 1-row
    // statement must cost a small fraction of the 30k-row one
    assert(tiny.bytesWritten < big.bytesWritten / 4,
      s"tiny ${tiny.bytesWritten} vs big ${big.bytesWritten}")
    assert(Snapshots.read(spark, dir).count() == 9999L)
    // dv metadata: v3 carries v2's dv by reference + its own locally
    val head = Snapshots.latestVersion(spark, dir)
    val entries = MergeOnRead.dvEntries(spark, dir, head)
    assert(entries.size == 2, entries)
    assert(entries.map(_.rows).sorted == Seq(1L, 30000L))
    assert(entries.forall(_.keys.nonEmpty))
    // fold clears them all
    MergeOnRead.fold(spark, dir, statsCols = Seq("k"))
    assert(Snapshots.read(spark, dir).count() == 9999L)
    assert(MergeOnRead.dvEntries(spark, dir,
      Snapshots.latestVersion(spark, dir)).isEmpty)
  }

  test("dirty/clean scan split: files untouched by every deletion " +
    "vector scan PLAIN — no lineage derivation, no anti-join above " +
    "them; only dirty files pay the join") {
    val dir = freshDir("graft-morDS")
    build(dir)
    // delete rows living ONLY in bucket 0's file
    MergeOnRead.deleteWhere(spark, dir, col("k") < 10L)
    val head = Snapshots.latestVersion(spark, dir)
    val keys = MergeOnRead.dvEntries(spark, dir, head)
      .flatMap(_.keys)
    assert(keys.size == 1 && keys.head.contains("b=0"), keys)
    val q = Snapshots.read(spark, dir)
    assert(q.count() == 390L)
    val plan = q.queryExecution.executedPlan.toString
    // one anti-join (the dirty branch) + a Union with the clean scans
    assert("LeftAnti".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("Union"), plan)
    // and the results are right file-by-file
    assert(q.filter(col("b") === 0L).count() == 90L)
    assert(q.filter(col("b") =!= 0L).count() == 300L)
  }

  test("vacuum pins versions whose _dv directory a survivor still " +
    "references — a carried deletion vector is content, not cleanup") {
    val dir = freshDir("graft-morDVp")
    build(dir)
    MergeOnRead.deleteWhere(spark, dir, col("k") < 25L) // v2: dv here
    Snapshots.appendVersion(spark,
      (500L until 510L).map(i => (i, 0L, s"d$i"))
        .toDF("k", "b", "payload").coalesce(1), dir) // v3: carries dv ref
    assert(Snapshots.read(spark, dir).count() == 385L)
    // keepLast=1 dooms v1,v2 — but v3 references v1's data files AND
    // v2's deletion vector: nothing may be reclaimed
    assert(SnapshotMaintenance.vacuum(spark, dir, keepLast = 1).isEmpty)
    assert(Snapshots.read(spark, dir).count() == 385L)
    assert(Snapshots.read(spark, dir).filter(col("k") < 25L)
      .count() == 0L, "tombstones lost after vacuum")
    // fold → self-contained head → everything older reclaims
    MergeOnRead.fold(spark, dir, statsCols = Seq("k"))
    assert(SnapshotMaintenance.vacuum(spark, dir, keepLast = 1)
      == Seq(1L, 2L, 3L))
    assert(Snapshots.read(spark, dir).count() == 385L)
  }

  test("URI-encodable partition values never leak deleted rows " +
    "through the dirty/clean split: dv keys are URL-encoded " +
    "(input_file_name), file listings are decoded — both spellings " +
    "classify dirty") {
    val dir = freshDir("graft-morEnc")
    // partition values with spaces: the directory is 'city=New York'
    // in the listing but 'city=New%20York' in input_file_name
    val df = (0L until 100L)
      .map(i => (i, if (i < 50) "New York" else "Sao Paulo"))
      .toDF("k", "city").repartition(col("city"))
    Snapshots.commit(spark, df, dir)
    val (_, m) = MergeOnRead.deleteWhere(spark, dir,
      col("city") === "New York" && col("k") < 10L)
    assert(m.tombstonesAdded == 10L)
    val t = Snapshots.read(spark, dir)
    assert(t.count() == 90L, "deleted rows resurrected — the dirty/" +
      "clean split misclassified an encoded-key file as clean")
    assert(t.filter(col("city") === "New York").count() == 40L)
    assert(t.filter(col("k") < 10L).count() == 0L)
    // and a filtered planner read serves the assembly on an MoR
    // head: the tombstoned point stays deleted, a live one is served
    assert(Snapshots.table(spark, dir).filter(col("k") === 5L)
      .count() == 0L)
    val p55 = Snapshots.table(spark, dir).filter(col("k") === 55L)
      .collect()
    assert(p55.length == 1 &&
      p55.head.getAs[String]("city") == "Sao Paulo")
  }

  test("purgeMor rewrites ONLY dirty files (clean files carry by " +
    "reference), drops every deletion vector, and reads skip the " +
    "anti-join afterwards — O(dirty bytes), not O(table)") {
    val dir = freshDir("graft-morPurge")
    build(dir) // 400 rows, 4 files, b=0..3
    // dirty exactly bucket 0's file
    MergeOnRead.deleteWhere(spark, dir, col("k") < 10L)
    val (nv, ps) = MergeOnRead.purge(spark, dir)
    assert(ps.filesRewritten == 1L && ps.filesReferenced == 3L, ps)
    assert(ps.tombstonesApplied == 10L)
    assert(ps.bytesRewritten < ps.bytesSkipped,
      s"purge cost not proportional to dirty bytes: $ps")
    // still reference-assembled, but dv-free: NO anti-join in the plan
    assert(MergeOnRead.isMorVersion(spark, dir, nv))
    assert(MergeOnRead.dvEntries(spark, dir, nv).isEmpty)
    val q = Snapshots.read(spark, dir)
    assert(q.count() == 390L)
    assert(q.filter(col("k") < 10L).count() == 0L)
    assert(!q.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "purged version still anti-joins")
    // partition layout preserved for the rewritten file's rows
    assert(q.filter(col("b") === 0L).count() == 90L)
    // a further MoR delete on the purged head composes
    val (_, m2) = MergeOnRead.deleteWhere(spark, dir, col("k") === 200L)
    assert(m2.tombstonesAdded == 1L && m2.tombstonesTotal == 1L,
      "purge did not reset the tombstone count")
    assert(Snapshots.read(spark, dir).count() == 389L)
    // no-op purges are refused loudly
    MergeOnRead.fold(spark, dir, statsCols = Seq("k"))
    val e = intercept[IllegalArgumentException] {
      MergeOnRead.purge(spark, dir)
    }
    assert(e.getMessage.contains("MergeOnRead.purge"), e.getMessage)
    // vacuum keeps the homes a purged version references
    val dir2 = freshDir("graft-morPurge2")
    build(dir2)
    MergeOnRead.deleteWhere(spark, dir2, col("k") < 10L)
    MergeOnRead.purge(spark, dir2) // v3 references v1's clean files
    // v1 is pinned by v3's refs; v2 (which held only the now-dropped
    // deletion vector) is legitimately reclaimable
    assert(SnapshotMaintenance.vacuum(spark, dir2, keepLast = 1) == Seq(2L))
    assert(Snapshots.read(spark, dir2).count() == 390L)
  }

  test("MoR DML's matching scan is sidecar-routed: a point delete " +
    "on a stats-tracked store admits fewer files than it references " +
    "— and a predicate with no route still reads everything") {
    val dir = freshDir("graft-morRoute")
    build(dir) // 4 files (b=0..3, k-quartiles), stats on k
    val (_, st) = MergeOnRead.deleteWhere(spark, dir, col("k") === 55L)
    assert(st.tombstonesAdded == 1L)
    assert(st.filesScanned == 1L && st.filesReferenced == 4L,
      st.toString)
    assert(Snapshots.read(spark, dir).count() == 399L)
    // second statement routes through the HOME version's sidecars
    // (the MoR head's refs point at v1's files)
    val (_, st2) = MergeOnRead.deleteWhere(spark, dir,
      col("k") === 250L)
    assert(st2.filesScanned == 1L, st2.toString)
    assert(Snapshots.read(spark, dir).count() == 398L)
    // no sidecar decides a payload predicate — conservative full scan
    val (_, st3) = MergeOnRead.deleteWhere(spark, dir,
      col("payload") === "d300")
    assert(st3.filesScanned == 4L, st3.toString)
    assert(Snapshots.read(spark, dir).count() == 397L)
    // MoR UPDATE routes the same way and its images stay correct
    val (_, st4) = MergeOnRead.updateWhere(spark, dir,
      col("k") === 10L, Map("payload" -> lit("u10")))
    assert(st4.filesScanned == 1L, st4.toString)
    val t = Snapshots.read(spark, dir)
    assert(t.filter(col("payload") === "u10").count() == 1L)
    assert(t.count() == 397L)
  }

  test("a purge that dirties EVERY file restores the stats manifest " +
    "itself (no refs → head stops being MoR → no later fold would) — " +
    "and compactAuto carries it through the partitioned layout") {
    val dir = freshDir("graft-morPurgeAll")
    build(dir) // 400 rows, 4 files, b = k/100 → k-ranges are disjoint
    // k % 4 == 0 hits every bucket: all 4 files dirty
    MergeOnRead.deleteWhere(spark, dir, pmod(col("k"), lit(4L)) === 0L)
    val (nv, ps) = MergeOnRead.purge(spark, dir)
    assert(ps.filesRewritten == 4L && ps.filesReferenced == 0L, ps)
    assert(!MergeOnRead.isMorVersion(spark, dir, nv),
      "all-dirty purge should be self-contained")
    // the manifest was recomputed fold-style from the homes
    val ms = FileStats.readManifest(spark, s"$dir/v=$nv")
    assert(ms.nonEmpty && ms.forall(_.cols.contains("k")),
      s"purge lost the stats manifest: $ms")
    // ...and it actually prunes: k in [0,50] lives only in b=0's file
    val (pr, pst) = prunedRead(dir, col("k").between(0, 50))
    assert(pst.filesSkipped == 3L && pst.filesRead == 1L, pst.toString)
    assert(pr.count() == 38L) // 51 - 13 purged
    // compaction (what SQL OPTIMIZE runs) bins the partitioned
    // layout, and keeps the manifest again
    val (cv, _) = SnapshotMaintenance.compact(spark, dir, 1L << 30)
    assert(cv == nv + 1)
    assert(FileStats.readManifest(spark, s"$dir/v=$cv").nonEmpty)
    val (_, pst2) = prunedRead(dir, col("k").between(0, 50))
    assert(pst2.filesSkipped == 3L, pst2.toString)
    assert(Snapshots.read(spark, dir).count() == 300L)
  }
}
