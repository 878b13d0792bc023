package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression guards: the optimizations that make these
  * operators scale are properties of the PHYSICAL PLAN, not of the
  * row counts a correctness oracle checks — a silent regression to a
  * nested-loop join or an extra global sort would still pass the
  * oracle. Lock the load-bearing shapes down here.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def count(plan: String, token: String): Int =
    token.r.findAllIn(plan).size

  /** Every registered query built ONCE, by name: its formatted
    * physical plan and its optimized logical plan — the two GLOBAL
    * sweeps share it instead of each building the whole registry. */
  private lazy val sweep: Seq[(String, String,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qe = fn(spark, sf0001).queryExecution
      val p = qe.explainString(ExplainMode.fromString("formatted"))
      val optimized = qe.optimizedPlan
      graft.operators.ManagedCache.releaseAll()
      (name, p, optimized)
    }

  test("xj4 range join plans a hash join on the bin key, never a nested loop") {
    val p = plan("xj4_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.linesIterator.take(25).mkString("\n"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("dd8's join condition evaluates the cheap conjuncts before levenshtein") {
    val p = plan("dd8_fuzzy_edit")
    val cond = p.linesIterator.find(_.contains("Join condition"))
      .getOrElse(fail("no join condition in plan"))
    val lev = cond.indexOf("levenshtein")
    val cheap = cond.indexOf("<")
    assert(lev >= 0 && cheap >= 0 && cheap < lev,
      s"levenshtein must come after the cheap predicates: $cond")
  }

  test("ts3 sessionize reuses ONE exchange+sort for both window passes") {
    val p = plan("ts3_sessionize")
    // windows (lag + cumsum) sit back-to-back over a single sort; the
    // only other exchanges are the aggregation and the output sort
    val win = count(p, "\\(\\d+\\) Window")
    assert(win == 2, s"expected 2 Window nodes, got $win")
    assert(count(p, "\\(\\d+\\) (?:Exchange|AQEShuffleRead)") <= 4 &&
      count(p, "Exchange hashpartitioning") <= 3,
      s"too many exchanges:\n${p.linesIterator.take(25).mkString("\n")}")
  }

  test("PrefixSum consumers never plan a single-partition window exchange") {
    // px4/tx10/xq1 exist to avoid Window.orderBy-without-partition,
    // which plans Exchange SinglePartition before the window
    for (q <- Seq("px4_pack_sequences", "tx10_vocab_ids", "xq1_skyline")) {
      val p = plan(q)
      assert(!p.contains("Exchange SinglePartition"),
        s"$q plans an Exchange SinglePartition")
    }
  }

  test("dd10's verify evaluates the integer size band before " +
    "array_intersect (hot-bucket cost control)") {
    val p = plan("dd10_minhash_full")
    // wherever Catalyst placed the pushed verify predicate (join
    // condition or filter), the cheap size-band comparison must
    // precede the per-candidate array work
    val line = p.linesIterator
      .find(l => l.contains("array_intersect") && l.contains("least"))
      .getOrElse(fail("verify predicate not found in plan"))
    assert(line.indexOf("least") < line.indexOf("array_intersect"),
      s"size band must evaluate before array_intersect: $line")
  }

  test("xv1 incremental refresh broadcasts the change-key set into " +
    "both the anti and semi joins") {
    val p = plan("xv1_incr_view_multi")
    assert(p.contains("BroadcastHashJoin") &&
      p.contains("LeftAnti") && p.contains("LeftSemi"))
    // the keep/rebuild split must never shuffle the materialized view
    // against the (tiny) change-key set: every TREE line carrying the
    // anti/semi join (operator lines end in "(n)") must be a broadcast
    // join. Detail lines like "Join type: LeftAnti" are skipped.
    val opLine = """\(\d+\)""".r
    for (line <- p.linesIterator
        if (line.contains("LeftAnti") || line.contains("LeftSemi")) &&
          opLine.findFirstIn(line).isDefined)
      assert(line.contains("BroadcastHashJoin"),
        s"refresh join regressed to a shuffle: $line")
  }

  test("w4 top-k compiles to TakeOrderedAndProject with zero exchanges") {
    val p = plan("w4_topk_limit")
    assert(p.contains("TakeOrderedAndProject"))
    assert(count(p, "\\(\\d+\\) Exchange") == 0)
  }

  test("flagship broadcasts both dims and shuffles only on the agg/join key") {
    val p = plan("flagship_report")
    assert(count(p, "BroadcastHashJoin") >= 2)
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("xs4 heavy hitters: the exact second pass is broadcast, not shuffled") {
    val p = plan("xs4_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("GLOBAL: no registered query plans a cartesian product or a " +
    "single-partition exchange") {
    // the whole-registry net under the per-query guards: a true
    // CartesianProduct or an Exchange SinglePartition anywhere is a
    // scale regression (the 1-row broadcast crossJoins plan as
    // BroadcastNestedLoopJoin over bounded frames — allowed; a
    // whitelist entry here must carry a documented bound)
    val whitelist = Set(
      // xq16's single-partition window runs over the frequency-of-
      // frequencies frame only — rows = #DISTINCT per-key counts
      // (hundreds at any data scale), never keys or fact rows
      // (SkewProbe.scala quantile step)
      "xq16_key_skew")
    val offenders = sweep.flatMap { case (name, p, _) =>
      val bad = Seq(
        "CartesianProduct" -> p.contains("CartesianProduct"),
        "SinglePartition" -> p.contains("Exchange SinglePartition"))
        .collect { case (what, true) => what }
      if (bad.nonEmpty && !whitelist(name))
        Some(s"$name: ${bad.mkString(", ")}")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("GLOBAL: no query windows RAW facts partitioned only by " +
    "low-cardinality keys") {
    // The scale-killer this bans: Window.partitionBy(event_type)-style
    // frames over an unaggregated fact table — one task sorts a hot
    // key's ENTIRE stream at 100×. A window whose partition spec
    // includes ANY non-low-card expression (user_id, a SaltedWindow
    // time bucket, doc_id) spreads; a window over an AGGREGATED or
    // deliberately persisted (InMemoryRelation — already reduced and
    // materialized) input is bounded by the aggregate's cardinality,
    // not the fact table. Offender = every partition expression
    // references only known low-card columns AND the subtree below
    // still reads a raw relation with no Aggregate in between.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val lowCard = Set("event_type", "source", "from_type", "to_type",
      "o_orderstatus", "o_orderpriority", "l_returnflag", "l_linestatus",
      "n_name", "r_name", "c_mktsegment", "status", "priority")
    // whitelist entries MUST carry a documented bound on the window
    // input — "it passes the oracle" is not a bound
    val whitelist = Map(
      "w5_rank_functions" -> ("input pre-filtered to the constant key " +
        "range l_orderkey < 200 — a bounded slice, not the open fact " +
        "stream; ntile/percent_rank/cume_dist are whole-partition by " +
        "definition (the at-scale alternative is the xs8 sketch)"))
    val offenders = sweep
      .filterNot { case (name, _, _) => whitelist.contains(name) }
      .flatMap { case (name, _, plan) =>
        plan.collect {
          case w: LWindow
              if w.partitionSpec.nonEmpty &&
                w.partitionSpec.forall(_.references.nonEmpty) &&
                w.partitionSpec.forall(
                  _.references.forall(a => lowCard(a.name))) &&
                !w.child.exists(_.isInstanceOf[Aggregate]) &&
                w.child.collectLeaves()
                  .exists(_.isInstanceOf[LogicalRelation]) =>
            s"$name: raw-fact window on [" +
              w.partitionSpec.map(_.sql).mkString(", ") + "]"
        }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("xq17 correlation matrix computes all 15 moments in ONE " +
    "parquet scan — no per-pair re-read") {
    val p = plan("xq17_correlation_matrix")
    assert(count(p, "\\(\\d+\\) Scan parquet") == 1,
      p.linesIterator.filter(_.contains("Scan")).mkString("\n"))
  }

  test("xv3 delta join broadcasts every delta side — no sort-merge " +
    "over the big tables") {
    val p = plan("xv3_incr_join_delta")
    assert(count(p, "\\(\\d+\\) BroadcastHashJoin") == 3 &&
      !p.contains("SortMergeJoin"),
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("px13 exact AUC plans no single-partition exchange and no " +
    "residual documents re-read after the census") {
    // the one parquet scan itself runs inside PrefixSum's eagerly
    // materialized first pass, so the FINAL plan must read only the
    // checkpointed census (Scan ExistingRDD) — a parquet scan HERE
    // would mean a second documents read after the census
    val p = plan("px13_auc_exact")
    assert(count(p, "\\(\\d+\\) Scan parquet") == 0,
      p.linesIterator.filter(_.contains("Scan")).mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("ts7 trailing moments are WINDOW-FREE (prefix sums) and read " +
    "the fact table once") {
    // TrailingAgg path: a sliding range frame would re-aggregate the
    // whole buffer per row (O(n·w̄) — ~quadratic in event density,
    // measured on the sf0.5/sf1 scale-up sets), so the plan must
    // contain NO Window node at all; the three row-roles ride ONE
    // explode, never a self-union that re-reads the source
    val p = plan("ts7_rolling_anomaly")
    assert(count(p, "\\(\\d+\\) Window") == 0,
      s"ts7 must be window-free:\n${p.linesIterator.take(40).mkString("\n")}")
    assert(!p.contains("Exchange SinglePartition"))
    // exchanges AFTER the PrefixSum fold (its leaf is the narrow-scan
    // RDD): the per-id aggregate and the output order — nothing else
    assert(count(p, "\\(\\d+\\) Exchange") <= 2,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // the one-parquet-scan property lives UPSTREAM of the fold
    // (narrowScan severs lineage): assert it on the operator's OWN
    // pre-shuffle stage — the 3-role explode over the events read
    import org.apache.spark.sql.functions.{col, round, unix_micros}
    val ev = graft.Tables.load(spark, sf0001, "events")
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("x", round(col("value") * 100).cast("long"))
      .select(col("event_id"), col("event_type"), col("us"), col("x"))
    val staged = graft.operators.TrailingAgg.staged(ev,
      Seq("event_type"), "us", "event_id", "x", 86400000000L, Seq("x"))
    val sp = staged.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(count(sp, "\\(\\d+\\) Scan parquet") == 1 &&
      count(sp, "\\(\\d+\\) Generate") == 1,
      sp.linesIterator.take(20).mkString("\n"))
  }

  test("filters reach the parquet scan as PushedFilters — not " +
    "post-scan Filter-only plans") {
    // p3 filters orders on a constant predicate; the scan itself must
    // carry it (row-group skipping at 100 TB) — a plan that reads
    // everything and filters after is wrong even when row-correct
    val p = plan("p3_eq_filter")
    val scan = p.linesIterator.find(_.contains("PushedFilters"))
      .getOrElse(fail(s"no PushedFilters line:\n" +
        p.linesIterator.take(30).mkString("\n")))
    assert(scan.contains("EqualTo") || scan.contains("In("),
      s"constant predicate not pushed: $scan")
  }

  test("projections prune the parquet ReadSchema to the referenced " +
    "columns only") {
    // p1 selects 3 of orders' 9 columns; the scan must not read the
    // rest (column pruning is the other half of scan cost at scale)
    val p = plan("p1_projection")
    val rs = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(rs.nonEmpty, s"no ReadSchema:\n" +
      p.linesIterator.take(30).mkString("\n"))
    val line = rs.head
    assert(!line.contains("o_comment") && !line.contains("o_clerk"),
      s"unreferenced columns still read: $line")
  }

  test("k7 CDC apply never plans a window over the log — one hash " +
    "aggregate on the key") {
    val p = plan("k7_cdc_apply")
    assert(count(p, "\\(\\d+\\) Window") == 0,
      "the log is the big side; a window sort over it doesn't scale")
    assert(count(p, "Exchange hashpartitioning") <= 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("xq5 regression joins the per-group base by broadcast, no " +
    "window, no sort-merge") {
    val p = plan("xq5_linear_regression")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(count(p, "\\(\\d+\\) Window") == 0)
  }

  test("ts5 EWMA's 8 lag taps share ONE window node over one sort") {
    val p = plan("ts5_ewma")
    assert(count(p, "\\(\\d+\\) Window") == 1,
      p.linesIterator.filter(_.contains("Window")).mkString("\n"))
  }

  test("dd13 chunk dedup plans no join at all and exactly three " +
    "exchanges (chunk window, doc reassembly, output sort)") {
    val p = plan("dd13_chunk_dedup")
    // the scale property: exact dedup via grouping, never a self-join
    assert(!p.contains("Join"),
      s"dd13 must not plan a join:\n${p.linesIterator.take(25).mkString("\n")}")
    val ex = count(p, "\\(\\d+\\) Exchange")
    assert(ex == 3, s"expected 3 exchanges, got $ex:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("dd15's join condition evaluates the id inequality before the " +
    "64-dim cosine") {
    val p = plan("dd15_semantic_dedup")
    val cond = p.linesIterator.find(l => l.contains("Join condition") &&
        l.contains("cosine_sim"))
      .getOrElse(fail("no cosine join condition in plan"))
    val cos = cond.indexOf("cosine_sim")
    val cheap = cond.indexOf("<")
    assert(cos >= 0 && cheap >= 0 && cheap < cos,
      s"cosine must come after the cheap id inequality: $cond")
  }

  test("xv2 additive refresh: no semi/anti rebuild, delta merged " +
    "via broadcast left join") {
    val p = plan("xv2_incr_view_additive")
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"),
      "additive refresh must not rebuild")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"))
  }

  test("sql4: BandLevenshtein injects the |Δlength| conjunct ahead " +
    "of the naive levenshtein predicate") {
    val p = plan("sql4_auto_banded_lev")
    val cond = p.linesIterator.find(l => l.contains("Join condition") &&
        l.contains("levenshtein"))
      .getOrElse(fail("no levenshtein join condition in plan"))
    val bandAt = cond.indexOf("abs(")
    val levAt = cond.indexOf("levenshtein")
    assert(bandAt >= 0, s"band conjunct not injected: $cond")
    assert(bandAt < levAt,
      s"band must short-circuit before levenshtein: $cond")
    // injected exactly once (fixpoint-idempotent via the node tag)
    assert(count(cond, "abs\\(") == 1, cond)
  }

  test("BandLevenshtein does NOT fire on the threshold form, whose " +
    "-1 sentinel would break the band implication") {
    import org.apache.spark.sql.functions.{col, levenshtein, lit, lower}
    import spark.implicits._
    // parquet-backed so the predicate can't constant-fold away
    val c = spark.read.parquet(s"$sf0001/customer.parquet")
      .select(lower(col("c_name")).as("a"),
        col("c_mktsegment").as("b"))
    val p3 = c.filter(levenshtein(col("a"), col("b"), 3) <= lit(5))
    assert(!p3.queryExecution.optimizedPlan.toString.contains("abs("),
      "threshold-form levenshtein must not be banded")
    // the 2-arg form still gets the band
    val p2 = c.filter(levenshtein(col("a"), col("b")) <= lit(5))
    assert(p2.queryExecution.optimizedPlan.toString.contains("abs("))
    // semantics of the sentinel the rule must respect: lev(a,b,3)
    // returns -1 past the threshold, so the naive band would drop
    // rows the predicate keeps
    val row = Seq(("x", "xxxxxxxxxx")).toDF("a", "b")
      .filter(levenshtein(col("a"), col("b"), 3) <= lit(5))
    assert(row.count() == 1)
  }

  test("ann6 PQ: top-5 rides a PARTIAL WindowGroupLimit before the " +
    "shuffle and the codebook/distance-table joins broadcast") {
    val p = plan("ann6_pq_adc")
    // two-phase top-k: per-partition group limit, exchange, final —
    // without it the rank<=5 filter shuffles corpus × queries rows
    assert(count(p, "\\(\\d+\\) WindowGroupLimit") >= 2,
      s"expected partial+final WindowGroupLimit:\n" +
        p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    // the corpus side must never sort-merge against codebooks/queries
    assert(!p.contains("SortMergeJoin"),
      "PQ joins must broadcast, not shuffle the corpus")
    assert(count(p, "BroadcastExchange") >= 2)
  }

  test("tx15 repetition signals are computed in the scan: no join, no " +
    "aggregation, only the presentation sort exchanges") {
    val p = plan("tx15_repetition_signals")
    assert(!p.contains("Join"), "tx15 must not join")
    assert(!p.contains("HashAggregate"),
      "the bigram top-count is a per-row fold, not an explode+groupBy")
    // only exchange allowed: rangepartitioning for the output ORDER BY
    assert(count(p, "Exchange hashpartitioning") == 0,
      s"unexpected hash exchange:\n${p.linesIterator.take(30).mkString("\n")}")
  }

  test("px6 boilerplate: the DF aggregation and the membership join " +
    "share the chunk-key partitioning (no third chunk exchange)") {
    val p = plan("px6_boilerplate_removal")
    // chunk-keyed exchanges: one feeding the countDistinct aggregate,
    // one (reused layout) for the probe side of the left join; doc_id
    // reassembly and the output sort are the only others
    assert(count(p, "Exchange hashpartitioning\\(chunk") <= 2,
      s"chunk key shuffled more than twice:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("xg2 triangles: wedge and closing-edge joins are equi-joins; " +
    "the only nested loop is the 10-row summary attach") {
    val p = plan("xg2_triangle_count")
    // sketch pair stage (5 sketch rows) + summary crossJoins are
    // broadcast nested loops over tiny frames; the wedge volume must
    // ride hash/sort-merge equi-joins
    assert(count(p, "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin")
      >= 3, "wedge/closing joins must be equi-joins")
    assert(!p.contains("CartesianProduct"),
      "no cartesian product anywhere in the triangle plan")
  }
}
