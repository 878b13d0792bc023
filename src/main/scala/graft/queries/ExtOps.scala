package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Joins
import graft.functions.GroupConcatOrdered

/** Extended operators beyond the reference's surface: as-of join
  * (composed union+window — no O(n·m) range product), skew-salted
  * join, and the custom ordered-GROUP_CONCAT Aggregator (§2.11).
  */
object ExtOps {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  /** lineitem's (x, y) = (partkey, suppkey) mod 1024, Z-clustered
    * into Morton buckets of 16384 curve points: `partitionBy(z_bucket)`
    * after this repartition writes exactly one data file per
    * non-empty bucket — the bijection that makes the pruning queries'
    * physical file census SQL-replayable. */
  private def zBuckets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(pmod(col("l_partkey"), lit(1024)).as("x"),
        pmod(col("l_suppkey"), lit(1024)).as("y"))
      .withColumn("z",
        graft.operators.ZOrder.interleave2(col("x"), col("y"), 10))
      .withColumn("z_bucket",
        call_function("div", col("z"), lit(16384L)))
      .drop("z")
      .repartition(col("z_bucket"))

  /** The census the stats index in `tbl`'s plan recorded for the
    * last action run over a frame derived from `tbl`. */
  private def lastPrune(tbl: DataFrame)
      : graft.operators.FileStats.PruneStats =
    graft.plans.StatsFileIndex.indexOf(tbl).flatMap(_.lastPrune)
      .getOrElse(sys.error("planner index recorded no census"))

  /** The pruning queries' one-row census: `ps`'s file and row
    * accounting, then `m`'s matched-row count and checksums (longs),
    * named `rows_matched` and `checks`. */
  private def censusRow(s: SparkSession,
      ps: graft.operators.FileStats.PruneStats,
      m: org.apache.spark.sql.Row, checks: String*): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val names = Seq("files_total", "files_read", "files_skipped",
      "rows_in_read", "rows_in_skipped", "rows_matched") ++ checks
    val values = Seq(ps.filesRead + ps.filesSkipped, ps.filesRead,
      ps.filesSkipped, ps.rowsInRead, ps.rowsInSkipped) ++
      (0 until m.length).map(m.getLong)
    s.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row.fromSeq(values)),
      StructType(names.map(StructField(_, LongType, nullable = false))))
  }

  /** Run `body` on one fresh snapshot-store path per name
    * (`<tmpdir>/graft-<name>-<uuid>`) and delete every store on exit,
    * whether `body` returns or throws. */
  private def withStores[A](s: SparkSession, names: String*)(
      body: Seq[String] => A): A = {
    val tag = java.util.UUID.randomUUID()
    val stores = names.map(n => new java.io.File(
      System.getProperty("java.io.tmpdir", "/tmp"), s"graft-$n-$tag")
      .getAbsolutePath)
    try body(stores)
    finally stores.foreach { st =>
      val p = new org.apache.hadoop.fs.Path(st)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Argmin cell assignment against broadcast centroids (cl, c):
    * the k centroids are packed into ONE broadcast row and the argmin
    * is an `aggregate` fold over that array per vector — genuinely
    * row-local (no exchange of the vectors; a k-way crossJoin +
    * row_number window would re-shuffle the whole embedding corpus on
    * vec_id every Lloyd round). Ties break to the lower cluster id,
    * same as ORDER BY (dist, cl). */
  private def assignCells(e: DataFrame, centroids: DataFrame): DataFrame = {
    val packed = centroids
      .agg(collect_list(struct(col("cl"), col("c"))).as("cents"))
    e.crossJoin(broadcast(packed))
      .withColumn("best", aggregate(
        col("cents"),
        struct(lit(Double.MaxValue).as("dist"),
          lit(Int.MaxValue).as("cl")),
        (acc, ct) => {
          val d = graft.expressions.L2DistanceSq(col("embedding"),
            ct.getField("c"))
          when(d < acc.getField("dist") ||
              (d === acc.getField("dist") &&
                ct.getField("cl") < acc.getField("cl")),
            struct(d.as("dist"), ct.getField("cl").as("cl")))
            .otherwise(acc)
        }))
      .select(col("vec_id"), col("embedding"),
        col("best.cl").as("cl"), col("best.dist").as("dist"))
  }

  /** The DuckDB replay of [[kmeansCentroids]] + final assignment:
    * shared CTE prefix for the ann4/ann5 oracles (e = double vectors,
    * c0..c2 = centroid generations, a3 = final cell assignment). */
  private val kmeansCteSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           FROM embeddings),
       c0 AS (SELECT CASE vec_id WHEN 0 THEN 0 WHEN 7 THEN 1
             WHEN 19 THEN 2 ELSE 3 END AS cl, v AS c
           FROM e WHERE vec_id IN (0, 7, 19, 41)),
       a1 AS (SELECT vec_id, v, cl FROM (
           SELECT e.vec_id, e.v, c0.cl, row_number() OVER (
             PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, 65),
               i -> (e.v[i]-c0.c[i])*(e.v[i]-c0.c[i]))), c0.cl) AS rn
           FROM e CROSS JOIN c0) WHERE rn = 1),
       m1 AS (SELECT cl, i, round(avg(v[i]), 6) AS m
           FROM a1 CROSS JOIN range(1, 65) r(i) GROUP BY cl, i),
       c1 AS (SELECT cl, list(m ORDER BY i) AS c FROM m1 GROUP BY cl),
       a2 AS (SELECT vec_id, v, cl FROM (
           SELECT e.vec_id, e.v, c1.cl, row_number() OVER (
             PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, 65),
               i -> (e.v[i]-c1.c[i])*(e.v[i]-c1.c[i]))), c1.cl) AS rn
           FROM e CROSS JOIN c1) WHERE rn = 1),
       m2 AS (SELECT cl, i, round(avg(v[i]), 6) AS m
           FROM a2 CROSS JOIN range(1, 65) r(i) GROUP BY cl, i),
       c2 AS (SELECT cl, list(m ORDER BY i) AS c FROM m2 GROUP BY cl),
       a3 AS (SELECT vec_id, cl FROM (
           SELECT e.vec_id, c2.cl, row_number() OVER (
             PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, 65),
               i -> (e.v[i]-c2.c[i])*(e.v[i]-c2.c[i]))), c2.cl) AS rn
           FROM e CROSS JOIN c2) WHERE rn = 1)"""

  /** Two unrolled Lloyd iterations from the fixed seed vectors
    * (0, 7, 19, 41); per-dim means rounded to 6 dp each round so the
    * centroid stream is engine-replayable (see ann4's oracle). */
  private def kmeansCentroids(e: DataFrame): DataFrame = {
    def recompute(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cl"), posexplode(col("embedding"))
          .as(Seq("dim", "vf")))
        .groupBy(col("cl"), col("dim"))
        .agg(round(avg(col("vf").cast("double")), 6).as("m"))
        .groupBy(col("cl"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("m")))),
          x => x.getField("m")).as("c"))
    val seeds = Seq(0, 7, 19, 41)
    val init = e.filter(col("vec_id").isin(seeds.map(_.toLong): _*))
      .select(seeds.zipWithIndex.tail.foldLeft(
          when(col("vec_id") === seeds.head, 0)) {
          case (acc, (v, i)) => acc.when(col("vec_id") === v, i)
        }.as("cl"),
        transform(col("embedding"), x => x.cast("double")).as("c"))
    recompute(assignCells(e, recompute(assignCells(e, init))))
  }

  /** PQ geometry: 64 dims split into 4 subspaces × 16 dims, 4
    * centroids per subspace — 64 float dims (256 B) compress to 4
    * small codes per vector. */
  private val PqM = 4
  private val PqK = 4
  private val PqDim = 16

  /** (vec_id, m, sv): each embedding split into its [[PqM]] subvectors
    * — row-local (explode a 4-element sequence; no shuffle). */
  private def pqSubvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"),
        col("embedding"))
      .select(col("vec_id"), col("m"),
        slice(col("embedding"), col("m") * PqDim + 1, lit(PqDim))
          .as("sv"))

  /** Nearest-centroid assignment per (vector, subspace) against the
    * broadcast codebook (m, cl, c): the per-subspace centroids pack
    * into one row per m (PqM rows total) and the argmin is a fold —
    * the subvector corpus is never shuffled, same shape as
    * [[assignCells]]. Ties break to the lower code, order-independent
    * of the collect_list packing. */
  private def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame = {
    val packed = cb.groupBy(col("m"))
      .agg(collect_list(struct(col("cl"), col("c"))).as("cents"))
    sub.join(broadcast(packed), Seq("m"))
      .withColumn("best", aggregate(
        col("cents"),
        struct(lit(Double.MaxValue).as("dist"),
          lit(Int.MaxValue).as("cl")),
        (acc, ct) => {
          val d = graft.expressions.L2DistanceSq(col("sv"),
            ct.getField("c"))
          when(d < acc.getField("dist") ||
              (d === acc.getField("dist") &&
                ct.getField("cl") < acc.getField("cl")),
            struct(d.as("dist"), ct.getField("cl").as("cl")))
            .otherwise(acc)
        }))
      .select(col("vec_id"), col("m"), col("sv"),
        col("best.cl").as("cl"))
  }

  /** Product-Quantization codebook (Jégou et al., TPAMI 2011): seed
    * each subspace's [[PqK]] centroids from fixed vectors (0, 7, 19,
    * 41), one Lloyd round (assign → per-dim mean), means rounded to
    * 6 dp so the codebook stream is engine-replayable — the same
    * pinning discipline as [[kmeansCentroids]]. All subspaces train
    * in ONE plan keyed (m, cl). */
  private def pqCodebook(sub: DataFrame): DataFrame = {
    val seeds = Seq(0L, 7L, 19L, 41L)
    val init = sub.filter(col("vec_id").isin(seeds: _*))
      .select(col("m"),
        seeds.zipWithIndex.tail.foldLeft(
            when(col("vec_id") === seeds.head, 0)) {
            case (acc, (v, i)) => acc.when(col("vec_id") === v, i)
          }.as("cl"),
        transform(col("sv"), x => x.cast("double")).as("c"))
    pqAssign(sub, init)
      .select(col("m"), col("cl"),
        posexplode(col("sv")).as(Seq("dim", "v")))
      .groupBy(col("m"), col("cl"), col("dim"))
      .agg(round(avg(col("v").cast("double")), 6).as("mm"))
      .groupBy(col("m"), col("cl"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("mm")))),
        x => x.getField("mm")).as("c"))
  }

  val queries: Map[String, Q] = Map(
    // As-of backward join: each purchase event picks up the user's
    // latest signup-or-earlier state. Oracle is DuckDB's native
    // ASOF LEFT JOIN.
    "xj1_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"),
          round(col("value"), 6).as("signup_value"))
      Joins.asofBackward(purchases, signups, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"),
          date_trunc("second", col("ts")).as("ts_sec"),
          col("signup_value"))
        .orderBy(col("event_id"))
    }),

    // The NATIVE as-of join (custom LogicalPlan + Strategy +
    // merge-scan SparkPlan, planned via GraftExtensions) on the same
    // inputs and oracle as xj1 — the driver checks the custom
    // operator's results bit-for-bit against DuckDB's ASOF LEFT JOIN.
    "xj3_asof_native" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("s_ts"),
          round(col("value"), 6).as("signup_value"))
      Joins.asofNative(purchases, signups, "user_id", "ts", "s_ts",
        Seq("signup_value"))
        .select(col("event_id"), col("user_id"),
          date_trunc("second", col("ts")).as("ts_sec"),
          col("signup_value"))
        .orderBy(col("event_id"))
    }),

    // Salted join must be result-identical to the plain join — the
    // oracle is the UNSALTED SQL, so correctness of the salting is
    // what's checked.
    "xj2_salted_join" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      Joins.saltedJoin(l, sup, Seq("l_suppkey"), saltFactor = 8)
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("s_name"))
    }),

    // Binned range join: ship events (points) against variable-length
    // order windows (intervals) — the naive BETWEEN theta-join is an
    // O(n·m) BroadcastNestedLoop; rangeJoinBinned turns it into an
    // equi-join on 32-day bins + exact containment filter. The oracle
    // IS the naive inequality join, so the binning must be lossless.
    "xj4_range_join" -> ((s, dir) => {
      val iv = t(s, dir, "orders").filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"), col("o_orderdate").as("start_ts"),
          expr("o_orderdate + make_interval(0, 0, 0, " +
            "CAST(o_orderkey % 30 + 1 AS INT))").as("end_ts"))
      val pts = t(s, dir, "lineitem")
        .select(col("l_shipdate"), col("l_quantity"))
      Joins.rangeJoinBinned(pts, "l_shipdate", iv, "start_ts", "end_ts",
          c => datediff(c, lit("1992-01-01")), binWidth = 32L)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_pts"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("o_orderkey"))
    }),

    // IVF-style ANN (the second scale path besides LSH buckets): the
    // label column stands in for k-means cell assignments, centroids
    // are elementwise means per cell, queries probe the top-2 cells by
    // centroid cosine and search only those. Approximate → no SQL
    // oracle; structural invariants spec'd in ExtOpsSpec.
    "ann3_ivf_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // centroids: posexplode dims → mean per (cell, dim) → rebuild
      val dims = e.select(col("label").as("cell"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      val centroids = dims.groupBy(col("cell"), col("dim"))
        .agg(avg(col("v")).as("m"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("m")))),
          x => x.getField("m").cast("float")).as("centroid"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      // probe: top-2 cells per query by centroid cosine
      val wCell = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("ccos").desc, col("cell"))
      val probed = q.join(broadcast(centroids))
        .select(col("query_id"), col("qv"), col("cell"),
          round(graft.functions.SimilarityFunctions
            .cosine(col("qv"), col("centroid")), 5).as("ccos"))
        .withColumn("crank", row_number().over(wCell))
        .filter(col("crank") <= 2)
        .select(col("query_id"), col("qv"), col("cell"))
      // search only the probed cells
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      probed.join(e, probed("cell") === e("label") &&
          col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("cell"),
          round(graft.functions.SimilarityFunctions
            .cosine(col("qv"), col("embedding")), 5).as("cos"))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // K-means training (Lloyd's algorithm, 2 unrolled iterations,
    // k=4, fixed seed vectors): the iterative-ML workload shape —
    // each round is assign (broadcast k centroids, row-local argmin,
    // NO shuffle of the vectors) + recompute (posexplode → mean per
    // (cluster, dim), one shuffle keyed on 256 tiny groups). Per-dim
    // means are rounded to 6 dp each round, which pins the floating
    // point: any ULP drift from parallel summation order is resynced
    // before it can propagate, so the DuckDB oracle replays BOTH
    // iterations bit-identically. At 100 TB: same plan, centroids
    // stay k×dims doubles — always broadcastable.
    "ann4_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val c2 = kmeansCentroids(e)
      assignCells(e, c2)
        .groupBy(col("cl")).agg(count(lit(1)).as("n_members"))
        .join(broadcast(c2), Seq("cl"))
        .select(col("cl").as("cluster"), col("n_members"),
          round(aggregate(col("c"), lit(0.0), (a, x) => a + x), 5)
            .as("centroid_sum"))
        .orderBy(col("cluster"))
    }),

    // IVF search over the TRAINED centroids — ann4's index feeding
    // ann3's probe shape, end to end: cells = final Lloyd assignment,
    // queries probe their top-2 cells by centroid distance and search
    // only those (same L2 metric as training). The oracle replays
    // training AND search. At scale the cell table is the
    // partition/bucket key for the vector corpus; queries touch 2/k
    // of the data.
    "ann5_ivf_trained" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val c2 = kmeansCentroids(e)
      val cells = assignCells(e, c2)
        .select(col("vec_id"), col("embedding"), col("cl"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val wProbe = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cdist"), col("cl"))
      val probed = q.join(broadcast(c2))
        .select(col("query_id"), col("qv"), col("cl"),
          graft.expressions.L2DistanceSq(col("qv"), col("c"))
            .as("cdist"))
        .withColumn("crank", row_number().over(wProbe))
        .filter(col("crank") <= 2)
        .select(col("query_id"), col("qv"), col("cl"))
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("d2raw"), col("neighbor_id"))
      probed.join(cells, Seq("cl"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.expressions.L2DistanceSq(col("qv"), col("embedding"))
            .as("d2raw"))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("d2raw"), 5).as("d2"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Product-Quantization ANN with asymmetric-distance search (Jégou
    // et al., TPAMI 2011) — the third scale path after LSH buckets
    // (ann2) and IVF cells (ann3/ann5), and the one that changes the
    // MEMORY story at 100 TB: 64 float dims (256 B) quantize to 4
    // one-byte codes, a 64× compression, so the searchable corpus fits
    // where the raw vectors can't. Pipeline, all engine-replayable:
    //   train  — per-subspace codebooks (pqCodebook: fixed seeds, one
    //            pinned Lloyd round), PqM×PqK×PqDim doubles — ALWAYS
    //            broadcastable, at any corpus size;
    //   encode — row-local argmin against the broadcast codebook
    //            (pqAssign), packed to one codes array per vector: the
    //            corpus is scanned, never shuffled;
    //   search — per query, a PqM×PqK distance table in integer
    //            micros (floor(d·1e6 + .5): bigint cells, so the ADC
    //            sums are order-independent integer arithmetic), the
    //            table broadcast as a map, and the approximate
    //            distance a 4-term fold over each vector's codes.
    //            One narrow scan of the codes table per query batch;
    //            the only shuffle is the 5-rows-per-query top-k.
    // The oracle replays train → encode → table → ADC → top-5 exactly.
    "ann6_pq_adc" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val sub = graft.operators.ManagedCache.persist(pqSubvectors(e))
      val cb = pqCodebook(sub)
      val codes = pqAssign(sub, cb)
        .groupBy(col("vec_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("m"), col("cl")))),
          x => x.getField("cl")).as("codes"))
      val dtab = sub.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("m"),
          col("sv").as("qsv"))
        .join(broadcast(cb), Seq("m"))
        .select(col("query_id"),
          (col("m") * PqK + col("cl")).cast("int").as("slot"),
          floor(graft.expressions.L2DistanceSq(col("qsv"), col("c")) *
            1e6 + 0.5).cast("long").as("dmic"))
        .groupBy(col("query_id"))
        .agg(map_from_entries(collect_list(
          struct(col("slot"), col("dmic")))).as("dt"))
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("adist_micros"), col("neighbor_id"))
      codes.crossJoin(broadcast(dtab))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          aggregate(sequence(lit(0), lit(PqM - 1)), lit(0L),
            (acc, m) => acc + element_at(col("dt"),
              (m * PqK + element_at(col("codes"), m + 1)).cast("int")))
            .as("adist_micros"))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("adist_micros"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Semantic deduplication (SemDeDup, Abbas et al. 2023): the
    // embedding-space sibling of the MinHash pipelines — k-means cells
    // (ann4's trained clustering, 2 pinned Lloyd rounds) bound the
    // pair space, then cosine near-dups are found ONLY within each
    // cell and every vector with a smaller-id similar neighbour in
    // its cell is dropped (one-pass keep-first policy; chains keep
    // their global minimum transitively at the next pass, as in the
    // paper's iterated variant). At 100 TB: the pairwise step is
    // per-cell O(Σ cᵢ²) instead of corpus² — the cell count is the
    // knob — and cells come from the broadcast-centroid assign, so
    // the only shuffles are the cell self-join key and the recompute
    // step inside training. Cross-cell near-dups are missed BY
    // DESIGN (the paper's approximation); the oracle replays the
    // same cell-restricted pipeline, so the hash still pins every
    // computed value.
    "dd15_semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cells = graft.operators.ManagedCache.persist(
        assignCells(e, kmeansCentroids(e))
          .select(col("vec_id"), col("embedding"), col("cl")))
      // the cosine threshold rides the join condition as its LAST
      // conjunct (never a post-join filter): Catalyst would push a
      // filter into the join AHEAD of the cheap id inequality, paying
      // the 64-dim cosine on self-pairs and both orientations —
      // >2× the dominant cost (same trap as dd8's levenshtein)
      val sim = cells.as("a").join(cells.as("b"),
          col("a.cl") === col("b.cl") &&
            col("a.vec_id") < col("b.vec_id") &&
            round(graft.functions.SimilarityFunctions
              .cosine(col("a.embedding"), col("b.embedding")), 5)
              >= 0.45)
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      val drops = sim.groupBy(col("vb").as("vec_id"))
        .agg(min(col("va")).as("kept_as"),
          count(lit(1)).as("n_similar_prior"))
      cells.select(col("vec_id"), col("cl").as("cell"))
        .join(drops, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          col("kept_as").isNotNull.cast("int").as("dropped"),
          coalesce(col("kept_as"), col("vec_id")).as("kept_as"),
          coalesce(col("n_similar_prior"), lit(0L))
            .as("n_similar_prior"))
        .orderBy(col("vec_id"))
    }),

    // PageRank (2 unrolled power-iteration rounds, damping 0.85) over
    // the part↔supplier bipartite graph induced by lineitem — the
    // iterative-graph workload shape alongside ConnectedComponents.
    // All arithmetic is FIXED-POINT nano-units (bigint DIV/mul only):
    // rank mass, per-edge contributions r DIV deg, and the damped
    // update base + (17·s) DIV 20 are integer ops both engines
    // evaluate bit-identically — no float summation order to pin at
    // all (the same motivation as dd10's integer jaccard). Scale
    // shape per round: one join of the edge list against the compact
    // (node, rank) frame + one groupBy on dst — the canonical
    // edge-partitioned PageRank; the rank frame stays N rows, the
    // edge frame is persisted once and reread per round. Node ids:
    // part p -> 2p, supplier s -> 2s+1 (disjoint key space, SQL-
    // replayable).
    "xg1_pagerank" -> ((s, dir) => {
      val SCALE = 1000000000L
      val l = t(s, dir, "lineitem")
      val fwd = l.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      // one lineitem scan for both orientations (see GraphEdges).
      // repartition(src) BEFORE the dedup: hash(src) satisfies the
      // clustered distribution of every src-keyed consumer — the
      // distinct (clustering (src, dst) ⊇ src), the degree aggregate,
      // the deg join, and EACH power-iteration step's rank join — so
      // the edge frame is shuffled exactly once here and every
      // per-round edges-side exchange disappears (guide §2.4: two
      // operations keyed the same way share one exchange).
      val edges = graft.operators.GraphEdges
        .symmetrize(fwd, "src", "dst")
        .repartition(col("src")).distinct()
      // deg is read by withDeg, the r0 node spine, AND (via nn) all
      // three rank updates — persist it or the edge-dedup shuffle
      // reruns per consumer
      val deg = graft.operators.ManagedCache.persist(
        edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      val withDeg = graft.operators.ManagedCache.persist(
        edges.join(deg, Seq("src")))
      val nn = deg.agg(count(lit(1)).as("n"))
      val r0 = deg.select(col("src").as("node_id"))
        .crossJoin(broadcast(nn))
        .select(col("node_id"),
          call_function("div", lit(SCALE), col("n")).as("r"))
      def step(r: DataFrame): DataFrame =
        withDeg.join(r.withColumnRenamed("node_id", "src"), Seq("src"))
          .select(col("dst"),
            call_function("div", col("r"), col("deg")).as("contrib"))
          .groupBy(col("dst")).agg(sum(col("contrib")).as("sv"))
          .crossJoin(broadcast(nn))
          .select(col("dst").as("node_id"),
            (call_function("div", lit(3L) * lit(SCALE),
              lit(20L) * col("n")) +
              call_function("div", lit(17L) * col("sv"), lit(20L)))
              .as("r"))
      val r2 = step(step(r0))
      val top = r2.orderBy(col("r").desc, col("node_id")).limit(20)
      top.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("r").desc, col("node_id"))))
        .select(col("rank"),
          when(pmod(col("node_id"), lit(2)) === 0, lit("part"))
            .otherwise(lit("supplier")).as("node_type"),
          call_function("div", col("node_id"), lit(2L)).as("orig_key"),
          col("r").as("rank_nano"))
        .orderBy(col("rank"))
    }),

    // Personalized PageRank (topic-sensitive PR, Haveliwala 2002):
    // identical fixed-point integer scheme to xg1 — damping 17/20,
    // nano-units — but ALL teleport mass lands on a seed set (parts
    // 0-9), so ranks measure proximity TO THE SEEDS, the similarity
    // notion recommendation / related-item queries need. Same
    // edge-partitioned shape: persisted deduped edges, per-round
    // keyed join + dst aggregation, broadcast 1-row seed count; the
    // only change vs xg1 is the teleport term's indicator — seeds
    // get 3/20·SCALE/|S|, everyone else 0.
    "xg7_personalized_pagerank" -> ((s, dir) => {
      val SCALE = 1000000000L
      val l = t(s, dir, "lineitem")
      val fwd = l.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      // one lineitem scan for both orientations (see GraphEdges);
      // repartition(src) before the dedup — xg1's one-shuffle edge
      // working set (every src-keyed consumer reuses the exchange)
      val edges = graft.operators.GraphEdges
        .symmetrize(fwd, "src", "dst")
        .repartition(col("src")).distinct()
      val deg = graft.operators.ManagedCache.persist(
        edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      val withDeg = graft.operators.ManagedCache.persist(
        edges.join(deg, Seq("src")))
      def isSeed(n: org.apache.spark.sql.Column) =
        pmod(n, lit(2)) === 0 && n < 20
      val ns = deg.filter(isSeed(col("src")))
        .agg(count(lit(1)).as("ns"))
      val r0 = deg.select(col("src").as("node_id"))
        .crossJoin(broadcast(ns))
        .select(col("node_id"),
          when(isSeed(col("node_id")),
            call_function("div", lit(SCALE), col("ns")))
            .otherwise(lit(0L)).as("r"))
      def step(r: DataFrame): DataFrame =
        withDeg.join(r.withColumnRenamed("node_id", "src"), Seq("src"))
          .select(col("dst"),
            call_function("div", col("r"), col("deg")).as("contrib"))
          .groupBy(col("dst")).agg(sum(col("contrib")).as("sv"))
          .crossJoin(broadcast(ns))
          .select(col("dst").as("node_id"),
            (when(isSeed(col("dst")),
              call_function("div", lit(3L) * lit(SCALE),
                lit(20L) * col("ns"))).otherwise(lit(0L)) +
              call_function("div", lit(17L) * col("sv"), lit(20L)))
              .as("r"))
      val r2 = step(step(r0))
      val top = r2.orderBy(col("r").desc, col("node_id")).limit(20)
      top.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("r").desc, col("node_id"))))
        .select(col("rank"),
          when(pmod(col("node_id"), lit(2)) === 0, lit("part"))
            .otherwise(lit("supplier")).as("node_type"),
          call_function("div", col("node_id"), lit(2L)).as("orig_key"),
          col("r").as("rank_nano"))
        .orderBy(col("rank"))
    }),

    // Synchronous label propagation (Raghavan et al. 2007) over the
    // part↔supplier bipartite graph — community detection, the
    // third graph workload (xg1 ranks, xg2 counts, this clusters). 2
    // rounds; each node adopts its neighbors' most frequent label
    // (count desc, then MIN label — fully deterministic, unlike the
    // paper's random tie-break). Per round: one edge⋈label join +
    // one (node, label) count + one per-node argmax via min(struct)
    // — no window sort; the label frame stays N rows. At 100 TB both
    // shuffles key on node ids — the same partitioning every round,
    // and AQE coalesces the tiny label side.
    "xg3_label_propagation" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val fwd = l.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      // one lineitem scan for both orientations (see GraphEdges);
      // the cached edge frame is PINNED to hash(src) — repartition
      // before the dedup (hash(src) satisfies the distinct's
      // (src, dst) clustering), so every round's edge⋈label join
      // reads the cache exchange-free instead of re-shuffling the
      // edge frame per round (guide §2.4). The label side is
      // exchange-free too: each round's output exits partitioned by
      // dst, which the rename carries back to the next round's src.
      val edges = graft.operators.ManagedCache.persist(
        graft.operators.GraphEdges.symmetrize(fwd, "src", "dst")
          .repartition(col("src")).distinct())
      val l0 = edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))
      def step(labels: DataFrame): DataFrame =
        edges.join(labels.withColumnRenamed("node", "src"), Seq("src"))
          // ONE dst exchange feeds BOTH aggregates: hash(dst)
          // satisfies the (dst, lbl) clustering of the count and the
          // dst clustering of the argmax, where the unhinted plan
          // paid an exchange per aggregate — per round the edge-sized
          // frame now crosses the wire once (guide §2.4)
          .repartition(col("dst"))
          .groupBy(col("dst"), col("lbl"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("dst"))
          .agg(min(struct((-col("n")).as("neg"), col("lbl").as("l")))
            .as("best"))
          .select(col("dst").as("node"), col("best.l").as("lbl"))
      val l2 = step(step(l0))
      l2.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(when(pmod(col("node"), lit(2)) === 0, 1L).otherwise(0L))
            .as("n_parts"),
          min(col("node")).as("min_node"))
        .orderBy(col("community"))
    }),

    // Ordered funnel analysis — signup → click → purchase, each step
    // strictly AFTER the user's previous step (first-occurrence
    // ordering): the product-analytics workload windowed aggs don't
    // express. Three per-user min-aggregations chained by joins on
    // user_id — every frame after the first is user-level (tiny vs
    // the event log; at 100 TB these joins shuffle the USER frame,
    // not the events), census output is O(steps).
    "xq8_funnel" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val s1 = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("us")).as("s1"))
      val s2 = e.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("us") > col("s1"))
        .groupBy(col("user_id")).agg(min(col("us")).as("s2"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("us") > col("s2"))
        .groupBy(col("user_id")).agg(min(col("us")).as("s3"))
      val census = (df: DataFrame, step: Int, name: String) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(step).as("step"), lit(name).as("step_name"),
            col("n_users"))
      census(s1, 1, "signup")
        .unionAll(census(s2, 2, "click_after_signup"))
        .unionAll(census(s3, 3, "purchase_after_click"))
        .orderBy(col("step"))
    }),

    // Exact MODE + discrete MEDIAN per group — the order statistics
    // BI surfaces ask for that approx sketches (xs2) deliberately
    // avoid. BOTH ride one shared (type, cents) count distribution:
    // mode is a min(struct) argmax over it (count desc, then MIN
    // value — deterministic), and the exact LOWER median is the first
    // cents value whose cumulative count reaches ceil(n/2) — a window
    // over the POST-AGG distribution (≤ #types × #distinct-cents
    // rows), never a row_number sort of the raw events: the
    // value-distribution trick makes exact order statistics scale
    // wherever the value domain is materially smaller than the rows.
    "xq6_mode_median" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
      val dist = graft.operators.ManagedCache.persist(
        e.groupBy(col("event_type"), col("cents"))
          .agg(count(lit(1)).as("n")))
      val mode = dist
        .groupBy(col("event_type"))
        .agg(min(struct((-col("n")).as("neg"), col("cents").as("v")))
          .as("m"), sum(col("n")).as("n_rows"))
        .select(col("event_type"), col("m.v").as("mode_cents"),
          (-col("m.neg")).as("mode_count"), col("n_rows"))
      val wcum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("cents"))
      val med = dist
        .withColumn("cum", sum(col("n")).over(wcum))
        .join(broadcast(mode.select(col("event_type"),
          call_function("div", col("n_rows") + 1, lit(2L))
            .as("target"))), Seq("event_type"))
        .filter(col("cum") >= col("target"))
        .groupBy(col("event_type"))
        .agg(min(col("cents")).as("median_cents"))
      mode.join(med, Seq("event_type")).orderBy(col("event_type"))
    }),

    // 2-round k-core peel (k=4) over the part↔supplier bipartite
    // graph — the degeneracy-style densification filter (the fourth
    // graph workload: rank, count, cluster, core). Each round: one
    // union-degree aggregation + two semi-shaped joins keeping only
    // edges whose BOTH endpoints survive; the edge frame shrinks
    // monotonically. A fixpoint loop would iterate to emptiness-of-
    // change exactly like ConnectedComponents; two unrolled rounds
    // keep the oracle replayable. Census output (nodes by type +
    // remaining edges) stays O(1).
    "xg4_kcore" -> ((s, dir) => {
      val K = 4
      val l = t(s, dir, "lineitem")
      val e0 = graft.operators.ManagedCache.persist(
        l.select((col("l_partkey") * 2).as("u"),
          (col("l_suppkey") * 2 + 1).as("v")).distinct())
      // The even/odd id encoding makes the two node sets DISJOINT, so
      // a node's degree is just its count on ITS side of the edge:
      // two per-side aggs (map-side combine shrinks each shuffle to
      // ~|V| rows) replace the 2|E|-row union-degree shuffle, and the
      // |V|-sized keep frames are AQE-broadcastable so the surviving-
      // edge joins need no e-side exchange at all.
      def peel(e: DataFrame): DataFrame = {
        val keepU = e.groupBy(col("u"))
          .agg(count(lit(1)).as("du"))
          .filter(col("du") >= K).select(col("u"))
        val keepV = e.groupBy(col("v"))
          .agg(count(lit(1)).as("dv"))
          .filter(col("dv") >= K).select(col("v"))
        graft.operators.ManagedCache.persist(
          e.join(keepU, Seq("u")).join(keepV, Seq("v")))
      }
      val e2 = peel(peel(e0))
      val nodes = e2.select(col("u").as("n"))
        .union(e2.select(col("v").as("n"))).distinct()
      nodes.groupBy(pmod(col("n"), lit(2)).as("node_type_id"))
        .agg(count(lit(1)).as("n_nodes"))
        .crossJoin(broadcast(e2.agg(count(lit(1)).as("n_edges"))))
        .orderBy(col("node_type_id"))
    }),

    // OLS linear regression per group (amount-vs-time trend): all
    // five moment sums accumulate as EXACT bigints (x = hours since
    // the group's first event, y = integer cents — bounded so n·Σxy
    // and Σx·Σy stay far inside int64), then ONE floor(double
    // quotient) over those exact operands — both engines perform the
    // identical IEEE convert-multiply-divide, so the slope is
    // bit-stable. Two map-side-partial aggregations (min, then the
    // sums) with a broadcast join between — never a window over the
    // fact table.
    "xq5_linear_regression" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("cents", round(col("value") * 100).cast("long"))
      val base = e.groupBy(col("event_type")).agg(min(col("us")).as("us0"))
      val xy = e.join(broadcast(base), Seq("event_type"))
        .select(col("event_type"),
          call_function("div", col("us") - col("us0"),
            lit(3600L * 1000000L)).as("x"),
          col("cents").as("y"))
      xy.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n"), col("sx"), col("sy"),
          col("sxy"), col("sxx"),
          floor((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double") * lit(1000000.0) /
            nullif(col("n") * col("sxx") - col("sx") * col("sx"),
              lit(0L)).cast("double"))
            .cast("long").as("slope_micro"))
        .orderBy(col("event_type"))
    }),

    // Z-order (Morton) clustering census — the ORACLE-verified twin
    // of operators.ZOrder (whose file-pruning effect ZOrderSpec
    // proves): interleave the low 10 bits of two independent keys,
    // bucket the curve into 64 ranges, and emit each bucket's 2-D
    // bounding box. The tight per-bucket min/max on BOTH dimensions
    // is precisely the property file-level min/max pruning exploits;
    // the arithmetic replay (integer div/mod bit extraction) pins
    // every interleaved bit. One groupBy on the derived key — at
    // 100 TB this is the layout-write shuffle itself.
    "xq7_zorder_key" -> ((s, dir) => {
      val withXY = t(s, dir, "lineitem")
        .select(pmod(col("l_partkey"), lit(1024)).as("x"),
          pmod(col("l_suppkey"), lit(1024)).as("y"))
      withXY
        .withColumn("z",
          graft.operators.ZOrder.interleave2(col("x"), col("y"), 10))
        .groupBy(call_function("div", col("z"), lit(16384L))
          .as("z_bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("z_bucket"))
    }),

    // File-skipping census — xq7's layout promise made REAL against
    // the Snapshots store: Z-cluster lineitem's (x, y) keys into 64
    // Morton-bucket files (partitionBy(z_bucket) after a bucket
    // repartition ⇒ exactly one data file per non-empty bucket —
    // the bijection that makes the physical file census
    // SQL-replayable), commit WITH a per-file min/max manifest
    // (Snapshots.commitWithStats → _stats.json sealed into the
    // version by the atomic slot rename), then answer a selective
    // range predicate through an ordinary filtered Snapshots.table
    // read — its stats index opens only files whose manifest
    // [min,max] intersects [100,299]. The emitted one-row census is
    // entirely REAL accounting: files read/skipped and their row
    // counts come from the index's listing decision
    // (StatsFileIndex.lastPrune), rows_matched/x_checksum come from
    // scanning ONLY the pruned files — if pruning ever skipped a file
    // it shouldn't, rows_matched comes up short and the hash compare
    // fails loudly. The DuckDB twin replays the whole decision from
    // the bucket arithmetic (per-bucket min/max → intersect →
    // census). At 100 TB this is the read-path lever: one sidecar
    // manifest read instead of 100k parquet footer opens, and the
    // Z-layout turns the x-range into touching ~3/8 of the files.
    "xq22_file_pruning" -> ((s, dir) => {
      import graft.operators.Snapshots
      val base = zBuckets(s, dir)
      withStores(s, "xq22") { case Seq(store) =>
        val v = Snapshots.commitWithStats(s, base, store,
          statsCols = Seq("x"), partitionByCols = Seq("z_bucket"))
        val tbl = Snapshots.table(s, store, v)
        val m = tbl.filter(col("x").between(100, 299))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("x")), lit(0L)).as("sx")).head()
        censusRow(s, lastPrune(tbl), m, "x_checksum")
      }
    }),

    // 2-D file pruning — the claim Z-ORDER actually exists for,
    // witnessed end-to-end: a single-column sort gives perfect
    // min/max pruning on one dimension and none on the other, while
    // each Morton tile is tight on BOTH, so a conjunctive
    // (x-range AND y-range) predicate prunes MULTIPLICATIVELY
    // (~3/8 × ~2/8 of the files here). Same real machinery as xq22
    // (commitWithStats manifest sealed into the version, the
    // table's stats index decides from the sidecar alone), with BOTH
    // dimensions in the manifest; the census plus matched-row
    // checksums of both coordinates pin the decision and the
    // superset guarantee in one hash compare.
    "xq23_file_pruning_2d" -> ((s, dir) => {
      import graft.operators.Snapshots
      val base = zBuckets(s, dir)
      withStores(s, "xq23") { case Seq(store) =>
        val v = Snapshots.commitWithStats(s, base, store,
          statsCols = Seq("x", "y"), partitionByCols = Seq("z_bucket"))
        val tbl = Snapshots.table(s, store, v)
        val m = tbl.filter(col("x").between(100, 299) &&
            col("y").between(0, 199))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("x")), lit(0L)).as("sx"),
            coalesce(sum(col("y")), lit(0L)).as("sy")).head()
        censusRow(s, lastPrune(tbl), m, "x_checksum", "y_checksum")
      }
    }),

    // THREE-dimension Morton pruning (ZOrder.interleave3 — the
    // ZORDER BY (a,b,c) shape): x/y/w interleaved at bit strides of
    // 3, 64 tiles tight on ALL THREE dimensions, so a 3-way
    // conjunctive range prunes multiplicatively where any
    // single-column sort gives one dimension only. The planner-path
    // census (StatsFileIndex over stats on x, y AND w) and the
    // triple checksum replay closed-form in DuckDB.
    "xq37_file_pruning_3d" -> ((s, dir) => {
      import graft.operators.{Snapshots, ZOrder}
      val base = t(s, dir, "lineitem")
        .select(pmod(col("l_partkey"), lit(128)).as("x"),
          pmod(col("l_suppkey"), lit(128)).as("y"),
          pmod(col("l_orderkey"), lit(128)).as("w"))
        .withColumn("z",
          ZOrder.interleave3(col("x"), col("y"), col("w"), 7))
        .withColumn("z_bucket",
          call_function("div", col("z"), lit(32768L)))
        .drop("z")
        .repartition(col("z_bucket"))
      withStores(s, "xq37") { case Seq(store) =>
        val v = Snapshots.commitWithStats(s, base, store,
          statsCols = Seq("x", "y", "w"),
          partitionByCols = Seq("z_bucket"))
        val tbl = Snapshots.table(s, store, v)
        val m = tbl.filter(col("x").between(10, 49) &&
            col("y").between(30, 89) && col("w").between(0, 63))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("x")), lit(0L)).as("sx"),
            coalesce(sum(col("y")), lit(0L)).as("sy"),
            coalesce(sum(col("w")), lit(0L)).as("sw")).head()
        censusRow(s, lastPrune(tbl), m,
          "x_checksum", "y_checksum", "w_checksum")
      }
    }),

    // Planner-integrated pruning — xq22's census, kept as its own
    // oracle entry: Snapshots.table returns a frame whose
    // graft.plans.StatsFileIndex consults _stats.json at listing
    // time, so an ordinary `.filter(x BETWEEN 100 AND 299)` skips the
    // files — no explicit literal ranges, PushedFilters and codegen
    // untouched downstream (the GraftExtensions StatsPruneRule gives
    // bare spark.read.parquet the same behavior). The census is the
    // index's own listing decision; rows_matched/x_checksum come from
    // the pruned scan — a wrongly skipped file diverges the checksum
    // loudly. The DuckDB twin is xq22's, verbatim.
    "xq24_planner_pruning" -> ((s, dir) => {
      import graft.operators.Snapshots
      val base = zBuckets(s, dir)
      withStores(s, "xq24") { case Seq(store) =>
        val v = Snapshots.commitWithStats(s, base, store,
          statsCols = Seq("x"), partitionByCols = Seq("z_bucket"))
        val tbl = Snapshots.table(s, store, v)
        val m = tbl.filter(col("x").between(100, 299))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("x")), lit(0L)).as("sx")).head()
        censusRow(s, lastPrune(tbl), m, "x_checksum")
      }
    }),

    // The REGISTERED data source end-to-end: the same census as
    // xq24, but both hops through the connector surface a SQL/BI
    // user would touch — the store is CREATED by
    // df.write.format("snapshot") (stats manifest + partitioned
    // layout from options), the head then moves to a decoy version,
    // and the read is spark.read.format("snapshot")
    // .option("versionAsOf", 1): time travel must pin version 1 and
    // the returned relation must carry the StatsFileIndex (files
    // skipped = xq24's closed-form DuckDB replay, checksums from the
    // pruned scan). Zero graft-API calls on the read side — the
    // contract is that a pyspark/SQL user gets the whole pruning
    // stack from the format name alone.
    "xq38_snapshot_source" -> ((s, dir) => {
      val base = zBuckets(s, dir)
      withStores(s, "xq38") { case Seq(store) =>
        base.write.format("snapshot")
          .option("statsCols", "x")
          .option("partitionBy", "z_bucket")
          .mode("overwrite").save(store)
        // decoy head: proves versionAsOf pins history, not the latest
        base.limit(1).write.format("snapshot")
          .mode("overwrite").save(store)
        val tbl = s.read.format("snapshot")
          .option("versionAsOf", "1").load(store)
        val m = tbl.filter(col("x").between(100, 299))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("x")), lit(0L)).as("sx")).head()
        censusRow(s, lastPrune(tbl), m, "x_checksum")
      }
    }),

    // Merge-on-read DELETE end-to-end, against the copy-on-write
    // twin: the same predicate runs as MergeOnRead.deleteWhere on one
    // store (tombstone sidecar + references, ZERO data files written —
    // the census pins mor_local_files = 0) and as
    // CopyOnWrite.deleteWhere on an identical store; both must serve
    // the identical surviving rows (row counts + key checksums), and
    // the fold must materialize the same content again. DuckDB
    // replays the survivors closed-form (DELETE is just NOT(pred));
    // files_referenced is the deterministic bucket count. At 100 TB
    // this is the GDPR-delete path: O(tombstones) per statement
    // instead of O(table).
    "xq39_mor_delete" -> ((s, dir) => {
      import graft.operators.{CopyOnWrite, MergeOnRead, Snapshots}
      val base = t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("k"),
          pmod(col("l_orderkey"), lit(8)).cast("long").as("bucket"))
        .repartition(col("bucket"))
      withStores(s, "xq39m", "xq39c") { case Seq(storeM, storeC) =>
        // independent table setups run from two driver threads —
        // xq41's note (guide §2.6); results unaffected
        graft.operators.Parallelism.concurrently(s)(
          Seq(storeM, storeC).map(st => () =>
            Snapshots.commitWithStats(s, base, st,
              statsCols = Seq("k"), partitionByCols = Seq("bucket"))))
        val pred = pmod(col("k"), lit(7)) === 2
        val n1 = Snapshots.read(s, storeM).count()
        val (v2, m) = MergeOnRead.deleteWhere(s, storeM, pred)
        val mor = Snapshots.table(s, storeM)
          .agg(count(lit(1)).as("n"), sum(col("k")).as("ck")).head()
        CopyOnWrite.deleteWhere(s, storeC, pred)
        val cow = Snapshots.read(s, storeC)
          .agg(count(lit(1)).as("n"), sum(col("k")).as("ck")).head()
        MergeOnRead.fold(s, storeM, statsCols = Seq("k"))
        val fold = Snapshots.read(s, storeM)
          .agg(count(lit(1)).as("n"), sum(col("k")).as("ck")).head()
        // the MoR version directory must hold zero data files
        def dataFiles(p: org.apache.hadoop.fs.Path): Long =
          p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .listStatus(p).toSeq.map { st =>
              val nm = st.getPath.getName
              if (nm.startsWith("_") || nm.startsWith(".")) 0L
              else if (st.isDirectory) dataFiles(st.getPath)
              else 1L
            }.sum
        val morLocal = dataFiles(
          new org.apache.hadoop.fs.Path(s"$storeM/v=$v2"))
        import s.implicits._
        Seq((n1, m.tombstonesAdded, m.filesReferenced, morLocal,
          mor.getLong(0), mor.getLong(1), cow.getLong(0),
          cow.getLong(1), fold.getLong(0), fold.getLong(1)))
          .toDF("n_v1", "tombstones_added", "files_referenced",
            "mor_local_files", "rows_mor", "k_checksum_mor",
            "rows_cow", "k_checksum_cow", "rows_fold",
            "k_checksum_fold")
      }
    }),

    // NESTED-column statistics: the document-shaped silver Dataset
    // keeps its facts inside structs (SURVEY §1.3), and file skipping
    // must not stop at the first dot — the manifest keys stats by
    // dotted path (detail.amount) and the planner extracts
    // GetStructField chains from the pushed-down filter, so a range
    // on a struct field prunes files exactly like a top-level
    // column. Census + key checksum replay closed-form in DuckDB
    // over the flat twin of the same struct.
    "xq40_nested_pruning" -> ((s, dir) => {
      import graft.operators.Snapshots
      val base = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          struct(col("o_totalprice").as("amount"),
            col("o_orderpriority").as("prio")).as("detail"),
          // explicit floor(decimal/int): Spark's decimal→BIGINT cast
          // TRUNCATES while DuckDB's ROUNDS — a boundary-adjacent
          // amount must land in the same bucket on both engines
          least(floor(col("o_totalprice") / 50000).cast("long"),
            lit(7L)).as("bucket"))
        .repartition(col("bucket"))
      withStores(s, "xq40") { case Seq(store) =>
        val v = Snapshots.commitWithStats(s, base, store,
          statsCols = Seq("k", "detail.amount"),
          partitionByCols = Seq("bucket"))
        val tbl = Snapshots.table(s, store, v)
        val m = tbl.filter(col("detail.amount").between(60000, 119999))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("k")), lit(0L)).as("ck")).head()
        censusRow(s, lastPrune(tbl), m, "k_checksum")
      }
    }),

    // Merge-on-read UPDATE against the copy-on-write twin: the same
    // SET runs as MergeOnRead.updateWhere (tombstone + updated images
    // as the new version's own files — bytes moved = updated rows
    // only) and as CopyOnWrite.updateWhere on an identical store; both
    // must serve identical content, and the fold must materialize it
    // again. DuckDB replays the update closed-form (CASE WHEN pred
    // THEN new ELSE old).
    "xq41_mor_update" -> ((s, dir) => {
      import graft.operators.{CopyOnWrite, MergeOnRead, Snapshots}
      val base = t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("k"),
          (col("l_orderkey").cast("long") * 3L).as("v"),
          pmod(col("l_orderkey"), lit(8)).cast("long").as("bucket"))
        .repartition(col("bucket"))
      withStores(s, "xq41m", "xq41c") { case Seq(storeM, storeC) =>
        // the two table setups are independent — submit them from two
        // driver threads so the second commit's jobs back-fill the
        // executor slots the first one's tail leaves idle (guide
        // §2.6 "overlap independent jobs"); results are unaffected
        // (separate stores, separate version slots)
        graft.operators.Parallelism.concurrently(s)(
          Seq(storeM, storeC).map(st => () =>
            Snapshots.commitWithStats(s, base, st,
              statsCols = Seq("k"), partitionByCols = Seq("bucket"))))
        val pred = pmod(col("k"), lit(6)) === 1
        val sets = Map("v" -> (col("v") + 1000L))
        val (_, m) = MergeOnRead.updateWhere(s, storeM, pred, sets)
        val mor = Snapshots.table(s, storeM)
          .agg(count(lit(1)).as("n"), sum(col("v")).as("cv")).head()
        CopyOnWrite.updateWhere(s, storeC, pred, sets)
        val cow = Snapshots.read(s, storeC)
          .agg(count(lit(1)).as("n"), sum(col("v")).as("cv")).head()
        MergeOnRead.fold(s, storeM, statsCols = Seq("k"))
        val fold = Snapshots.read(s, storeM)
          .agg(count(lit(1)).as("n"), sum(col("v")).as("cv")).head()
        import s.implicits._
        Seq((m.tombstonesAdded, mor.getLong(0), mor.getLong(1),
          cow.getLong(0), cow.getLong(1), fold.getLong(0),
          fold.getLong(1)))
          .toDF("rows_updated", "rows_mor", "v_checksum_mor",
            "rows_cow", "v_checksum_cow", "rows_fold",
            "v_checksum_fold")
      }
    }),

    // SQL DML end to end (round 17): DELETE / UPDATE / MERGE typed at
    // spark.sql over `CREATE TABLE … USING snapshot` catalog tables —
    // the SnapshotDmlRule rewrite onto the conflict-detected library
    // DML, plus SnapshotFreshnessRule (every SELECT between
    // statements must see the new head, never the session-cached
    // relation). A second table with `dmlMode 'mor'` proves the
    // per-table merge-on-read routing: the same DELETE leaves a
    // tombstone-sidecar head. The DuckDB twin replays the statement
    // chain as set algebra over the same lineitem projection.
    "xq42_sql_dml" -> ((s, dir) => {
      import graft.operators.{MergeOnRead, Snapshots}
      val base = t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("k"),
          pmod(col("l_orderkey"), lit(8)).cast("long").as("bucket"),
          col("l_quantity").cast("long").as("qty"))
        .repartition(col("bucket"))
      val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      val tbl = s"g_xq42_$tag"
      val tblM = s"g_xq42m_$tag"
      withStores(s, "xq42", "xq42m") { case Seq(store, storeM) =>
        try {
          // independent table setups run from two driver threads —
          // see xq41's note; results unaffected
          graft.operators.Parallelism.concurrently(s)(
            Seq(store, storeM).map(st => () =>
              Snapshots.commitWithStats(s, base, st,
                statsCols = Seq("k"), partitionByCols = Seq("bucket"))))
          s.sql(s"CREATE TABLE $tbl USING snapshot OPTIONS (path '$store')")
          s.sql(s"CREATE TABLE $tblM USING snapshot " +
            s"OPTIONS (path '$storeM', dmlMode 'mor')")
          val delRows = s.sql(s"DELETE FROM $tbl WHERE k % 7 = 2")
            .head.getLong(0)
          val updRows = s.sql(
            s"UPDATE $tbl SET qty = qty + 100 WHERE k % 5 = 0")
            .head.getLong(0)
          val sk = base.select(col("k"))
            .where(pmod(col("k"), lit(11)) === 3).distinct()
          val src = sk.select(col("k"),
              pmod(col("k"), lit(8)).cast("long").as("bucket"),
              lit(777L).as("qty"))
            .unionByName(sk.select((col("k") + 10000000L).as("k"),
              pmod(col("k") + 10000000L, lit(8)).cast("long").as("bucket"),
              lit(777L).as("qty")))
          src.createOrReplaceTempView(s"src_$tag")
          val mrgRows = s.sql(
            s"MERGE INTO $tbl USING src_$tag src ON $tbl.k = src.k " +
              "WHEN MATCHED THEN UPDATE SET * " +
              "WHEN NOT MATCHED THEN INSERT *").head.getLong(0)
          val fin = s.sql(s"SELECT count(*) AS n, sum(qty) AS sq, " +
            s"sum(k) AS sk, count(CASE WHEN qty = 777 THEN 1 END) " +
            s"AS n7 FROM $tbl").head
          val delM = s.sql(s"DELETE FROM $tblM WHERE k % 7 = 2")
            .head.getLong(0)
          val nM = s.sql(s"SELECT count(*) AS n FROM $tblM")
            .head.getLong(0)
          val morHead = if (MergeOnRead.isMorVersion(s, storeM,
            Snapshots.latestVersion(s, storeM))) 1L else 0L
          import s.implicits._
          Seq((delRows, updRows, mrgRows, fin.getLong(0), fin.getLong(1),
            fin.getLong(2), fin.getLong(3), delM, nM, morHead))
            .toDF("del_rows", "upd_rows", "merge_rows", "n_final",
              "qty_sum", "k_sum", "n_merged", "mor_del_rows", "n_mor",
              "mor_head")
        } finally {
          scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $tbl"))
          scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $tblM"))
          scala.util.Try(s.catalog.dropTempView(s"src_$tag"))
        }
      }
    }),

    // Incremental deletion-vector census (round 17): one big MoR
    // delete, then five point deletes — each statement writes ONLY
    // its own tombstones (per-file dv + metadata carried by
    // reference), so a point delete's sidecar bytes stay BELOW the
    // big statement's regardless of how many tombstones accumulated
    // before it (the pre-r17 union-rewrite made every statement pay
    // for all prior tombstones — strictly more than the big one).
    // The flatness invariant is pinned as cost_flat=1; every count
    // is replayed closed-form by the DuckDB twin.
    "xq43_dv_census" -> ((s, dir) => {
      import graft.operators.{MergeOnRead, Snapshots}
      val base = t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("k"),
          pmod(col("l_orderkey"), lit(8)).cast("long").as("bucket"),
          col("l_quantity").cast("long").as("qty"))
        .repartition(col("bucket"))
      withStores(s, "xq43") { case Seq(store) =>
        Snapshots.commitWithStats(s, base, store,
          statsCols = Seq("k"), partitionByCols = Seq("bucket"))
        val (_, big) = MergeOnRead.deleteWhere(s, store,
          pmod(col("k"), lit(3)) === 0)
        // partition-qualified point deletes (the natural shape on a
        // bucketed table): bucket admission prunes to ONE partition,
        // and the k-range refutes most of the rest — the sidecar-
        // routed matching scan (round 18) must admit < all files
        val smalls = Seq(1L, 2L, 5L, 7L, 11L).map { kv =>
          MergeOnRead.deleteWhere(s, store,
            col("k") === kv && col("bucket") === kv % 8)._2
        }
        val maxSmall = smalls.map(_.bytesWritten).max
        val costFlat = if (maxSmall < big.bytesWritten) 1L else 0L
        // round 18: the matching scan is sidecar-routed — every
        // point delete must admit strictly fewer files than the
        // version references (partition dirs + k-ranges decide)
        val routed = if (smalls.forall(m =>
          m.filesScanned < m.filesReferenced)) 1L else 0L
        val fin = Snapshots.read(s, store)
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("sq")).head()
        val totalT = big.tombstonesAdded +
          smalls.map(_.tombstonesAdded).sum
        assert(smalls.last.tombstonesTotal == totalT)
        import s.implicits._
        Seq((big.tombstonesAdded,
          smalls.map(_.tombstonesAdded).sum, totalT,
          fin.getLong(0), fin.getLong(1), costFlat, routed))
          .toDF("big_rows", "small_rows", "tombstones_total",
            "n_final", "qty_sum", "cost_flat", "routed")
      }
    }),

    // SQL maintenance end-to-end (round 17): the parser-injected
    // statements — DELETE on a dmlMode-mor table, OPTIMIZE PURGE
    // (apply deletion vectors, clean files by reference), plain
    // OPTIMIZE (fold self-contained), DESCRIBE HISTORY, VACUUM
    // RETAIN — run as a chain whose version/row census the DuckDB
    // twin replays closed-form. Pins: purge reports op 'purge',
    // post-vacuum reads serve the current head (the freshness rule
    // across maintenance), and vacuum reclaims exactly the
    // non-referenced history.
    "xq44_sql_maintenance" -> ((s, dir) => {
      import graft.operators.Snapshots
      val base = t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("k"),
          pmod(col("l_orderkey"), lit(8)).cast("long").as("bucket"),
          col("l_quantity").cast("long").as("qty"))
        .repartition(col("bucket"))
      val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      val tbl = s"g_xq44_$tag"
      withStores(s, "xq44") { case Seq(store) =>
        try {
          Snapshots.commitWithStats(s, base, store,
            statsCols = Seq("k"), partitionByCols = Seq("bucket"))
          s.sql(s"CREATE TABLE $tbl USING snapshot " +
            s"OPTIONS (path '$store', dmlMode 'mor')")
          val delRows = s.sql(s"DELETE FROM $tbl WHERE k % 7 = 1")
            .head.getLong(0) // v2: MoR tombstones
          val purge = s.sql(s"OPTIMIZE $tbl PURGE").head // v3
          val purgeOk = if (purge.getString(1) == "purge") 1L else 0L
          s.sql(s"OPTIMIZE $tbl") // v4: fold self-contained
          val histN = s.sql(s"DESCRIBE HISTORY $tbl").count()
          val reclaimed = s.sql(s"VACUUM $tbl RETAIN 1 VERSIONS").count()
          val fin = s.sql(s"SELECT count(*) AS n, sum(qty) AS sq " +
            s"FROM $tbl").head
          import s.implicits._
          Seq((delRows, purgeOk, histN, reclaimed,
            fin.getLong(0), fin.getLong(1)))
            .toDF("del_rows", "purge_ok", "hist_versions", "reclaimed",
              "n_final", "qty_sum")
        } finally {
          scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $tbl"))
        }
      }
    }),

    // SQL INSERT end-to-end (round 18): the most common SQL write —
    // plain INSERT INTO (a versioned append: new version, v1
    // untouched), a column-list INSERT (unlisted columns land as
    // typed NULLs), and a SELF-REFERENCING INSERT OVERWRITE (replace
    // the head while reading it — Spark's own FS-relation path both
    // corrupts the version dir in place AND refuses the
    // self-reference; the snapshot path stages a new version). The
    // DuckDB twin replays the statement chain as set algebra;
    // DESCRIBE HISTORY pins the version ledger.
    "xq45_sql_insert" -> ((s, dir) => {
      import graft.operators.Snapshots
      val base = t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("k"),
          col("l_quantity").cast("long").as("qty"))
      val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      val tbl = s"g_xq45_$tag"
      withStores(s, "xq45") { case Seq(store) =>
        try {
          Snapshots.commitWithStats(s, base, store, statsCols = Seq("k"))
          s.sql(s"CREATE TABLE $tbl USING snapshot " +
            s"OPTIONS (path '$store')")
          val ins1 = s.sql(s"INSERT INTO $tbl SELECT k + 10000000, " +
            s"qty + 1 FROM $tbl WHERE k % 9 = 4").head.getLong(0) // v2
          val ins2 = s.sql(s"INSERT INTO $tbl (qty) VALUES (777), (778)")
            .head.getLong(0) // v3: k lands NULL
          val ovr = s.sql(s"INSERT OVERWRITE $tbl SELECT k, qty " +
            s"FROM $tbl WHERE qty % 2 = 0 AND k IS NOT NULL")
            .head.getLong(0) // v4: self-referencing head replace
          val hist = s.sql(s"DESCRIBE HISTORY $tbl").count()
          val fin = s.sql(s"SELECT count(*) AS n, sum(qty) AS sq " +
            s"FROM $tbl").head
          import s.implicits._
          Seq((ins1, ins2, ovr, hist, fin.getLong(0), fin.getLong(1)))
            .toDF("ins_rows", "collist_rows", "ovr_rows",
              "hist_versions", "n_final", "qty_sum")
        } finally {
          scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $tbl"))
        }
      }
    }),

    // General SQL MERGE end-to-end (round 18) — the full Delta
    // clause surface beyond the canonical upsert: conditional
    // MATCHED DELETE and UPDATE with first-match-wins ordering, a
    // conditional partial-column INSERT (unlisted columns NULL), and
    // a second statement's WHEN NOT MATCHED BY SOURCE conditional
    // DELETE (the sync-to-source shape that admits every file). The
    // DuckDB twin replays both statements as joins + set algebra.
    "xq46_sql_merge_full" -> ((s, dir) => {
      import graft.operators.Snapshots
      val base = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_custkey").cast("long").as("qty"))
      val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      val tbl = s"g_xq46_$tag"
      withStores(s, "xq46") { case Seq(store) =>
        try {
          Snapshots.commitWithStats(s, base, store, statsCols = Seq("k"))
          s.sql(s"CREATE TABLE $tbl USING snapshot " +
            s"OPTIONS (path '$store')")
          // the MERGE sources read the raw orders parquet through a
          // session view (the Verify session has no catalog tables)
          t(s, dir, "orders").createOrReplaceTempView(s"${tbl}_orders")
          val m1 = s.sql(
            s"""MERGE INTO $tbl USING (
               |  SELECT CAST(o_orderkey AS BIGINT) AS id,
               |         CAST(o_orderkey % 10 AS BIGINT) AS amt
               |  FROM ${tbl}_orders WHERE o_orderkey % 7 = 0
               |  UNION ALL
               |  SELECT CAST(o_orderkey + 900000000 AS BIGINT),
               |         CAST(o_orderkey % 10 AS BIGINT)
               |  FROM ${tbl}_orders WHERE o_orderkey % 13 = 0
               |) src ON $tbl.k = src.id
               |WHEN MATCHED AND src.amt < 3 THEN DELETE
               |WHEN MATCHED AND src.amt < 8 THEN
               |  UPDATE SET qty = $tbl.qty + src.amt
               |WHEN NOT MATCHED AND src.amt >= 5 THEN
               |  INSERT (k, qty) VALUES (src.id, src.amt)"""
              .stripMargin).head.getLong(0)
          val m2 = s.sql(
            s"""MERGE INTO $tbl USING (
               |  SELECT CAST(o_orderkey AS BIGINT) AS id
               |  FROM ${tbl}_orders WHERE o_orderkey % 2 = 0
               |) src ON $tbl.k = src.id
               |WHEN NOT MATCHED BY SOURCE AND $tbl.k < 900000000
               |  THEN DELETE""".stripMargin).head.getLong(0)
          val fin = s.sql(s"SELECT count(*) AS n, sum(qty) AS sq " +
            s"FROM $tbl").head
          import s.implicits._
          Seq((m1, m2, fin.getLong(0), fin.getLong(1)))
            .toDF("m1_rows", "m2_rows", "n_final", "qty_sum")
        } finally {
          scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $tbl"))
          scala.util.Try(s.catalog.dropTempView(s"${tbl}_orders"))
        }
      }
    }),

    // Snapshot schema evolution end-to-end: three commits with
    // add/widen/drop between them (v1 k+price, v2 +status, v3 drops
    // price and adds clerk), then every version TIME-TRAVELED
    // CONFORMED to the latest schema (Snapshots.readConformed —
    // added columns as typed NULLs, dropped columns projected away,
    // widened columns cast). The per-version non-null census + key
    // checksum pins the contract: v1 must show zero status/clerk, v2
    // status only, v3 both — the DuckDB twin replays conformance with
    // explicit NULL projections over the same orders table. At
    // 100 TB add-column costs O(1) here: no version rewrite,
    // conformance is a projection.
    "xq25_schema_evolution" -> ((s, dir) => {
      import graft.operators.Snapshots
      val o = t(s, dir, "orders")
      withStores(s, "xq25") { case Seq(store) =>
        Snapshots.commit(s, o.select(
          col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").as("price")), store)
        Snapshots.commit(s, o.select(
          col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").as("price"),
          col("o_orderstatus").as("status")), store)
        Snapshots.commit(s, o.select(
          col("o_orderkey").cast("long").as("k"),
          col("o_orderstatus").as("status"),
          col("o_orderpriority").as("clerk")), store)
        val out = (1L to 3L).map { v =>
          val r = Snapshots.readConformed(s, store, v)
            .agg(count(lit(1)).as("n"),
              count(col("status")).as("n_status"),
              count(col("clerk")).as("n_clerk"),
              coalesce(sum(col("k")), lit(0L)).as("k_sum")).head()
          (v, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }
        import s.implicits._
        out.toDF("version", "n", "n_status", "n_clerk", "k_sum")
          .orderBy("version")
      }
    }),

    // Bloom point-lookup sidecars end-to-end — the EQUALITY
    // complement to xq22's min/max ranges: a point probe on a column
    // the layout doesn't cluster intersects every [min,max] and reads
    // the whole table, but per-file Bloom bits (operators/BloomStats,
    // sealed into the version like the stats manifest) answer "can
    // this file contain v?" from one sidecar read. The bits come from
    // the oracle-portable md5-60 hash, so the DuckDB twin replays the
    // ENTIRE keep/skip decision — false positives included — with the
    // same `('0x'||substr(md5(…),1,15))::BIGINT % m` arithmetic: a
    // bucket (= file, xq22's bijection) is kept iff for EVERY seed
    // some value in it shares the probe's bit. rows_matched +
    // y_checksum from the pruned scan pin the superset guarantee.
    "xq26_bloom_lookup" -> ((s, dir) => {
      import graft.operators.{CopyOnWrite, Snapshots}
      val base = zBuckets(s, dir)
      withStores(s, "xq26") { case Seq(store) =>
        // stats on y, NOT x: x keeps only its bloom, so the index's
        // decision for `x = 137` is the bloom's alone — the decision
        // the DuckDB twin replays (the manifest still carries every
        // file's row count for the census)
        val v = Snapshots.commitWithStats(s, base, store,
          statsCols = Seq("y"), partitionByCols = Seq("z_bucket"),
          bloomCols = Seq("x"))
        val tbl = Snapshots.table(s, store, v)
        val m = tbl.filter(col("x") === 137)
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("y")), lit(0L)).as("sy")).head()
        censusRow(s, lastPrune(tbl), m, "y_checksum")
      }
    }),

    // Copy-on-write row-level DML end-to-end: DELETE then UPDATE as
    // new snapshot versions (CopyOnWrite.deleteWhere/updateWhere) —
    // the stats manifest decides which files can contain matching
    // rows, ONLY those are decoded and rewritten, the rest byte-copy
    // through with their manifest entries spliced (never re-scanned).
    // At 100 TB with a clustered layout this is "delete one key
    // range, rewrite one key range". The census (before/deleted/
    // updated/after counts + key checksum + flagged count) replays in
    // DuckDB as plain WHERE/CASE algebra — the file-level accounting
    // is pinned by SnapshotsSpec, the ROW semantics by this oracle.
    "xq27_cow_dml" -> ((s, dir) => {
      import graft.operators.{CopyOnWrite, Snapshots}
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("status"))
        .repartitionByRange(8, col("o_orderkey"))
      withStores(s, "xq27") { case Seq(store) =>
        Snapshots.commitWithStats(s, o, store, statsCols = Seq("k"))
        val before = Snapshots.read(s, store).count()
        val (_, del) = CopyOnWrite.deleteWhere(s, store,
          col("k") <= 1000)
        val (_, upd) = CopyOnWrite.updateWhere(s, store,
          col("k") <= 2000, Map("status" -> lit("X")))
        val after = Snapshots.read(s, store)
        val m = after.agg(count(lit(1)).as("n"),
          coalesce(sum(col("k")), lit(0L)).as("sk"),
          sum(when(col("status") === "X", 1L).otherwise(0L))
            .as("nx")).head()
        import s.implicits._
        Seq((before, del.rowsChanged, upd.rowsChanged,
          m.getLong(0), m.getLong(1), m.getLong(2)))
          .toDF("rows_before", "rows_deleted", "rows_updated",
            "rows_after", "k_sum_after", "n_flagged")
      }
    }),

    // Copy-on-write MERGE INTO — K1's full-row upsert at FILE
    // granularity (CopyOnWrite.mergeInto): the source's distinct keys
    // route through the key column's min/max (and bloom, when
    // present) so only hit files are decoded and rewritten; matched
    // table rows are replaced, unmatched source keys insert, every
    // other file byte-copies through with spliced manifests. The row
    // semantics replay in DuckDB as NOT-IN + UNION ALL; the file
    // accounting is pinned by SnapshotsSpec. This is the reference's
    // core upsert family made sublinear in table size: a CDC batch
    // against a 100 TB clustered table rewrites the files its keys
    // hit, not the table.
    "xq28_cow_merge" -> ((s, dir) => {
      import graft.operators.{CopyOnWrite, Snapshots}
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("status"))
        .repartitionByRange(8, col("o_orderkey"))
      withStores(s, "xq28") { case Seq(store) =>
        Snapshots.commitWithStats(s, o, store, statsCols = Seq("k"))
        val before = Snapshots.read(s, store).count()
        val src = o.filter(col("k") <= 1500)
          .select(col("k"), lit("M").as("status"))
          .unionByName(o.filter(col("k") <= 500)
            .select((col("k") + 10000000L).as("k"),
              lit("N").as("status")))
        val (_, m) = CopyOnWrite.mergeInto(s, store, src, Seq("k"))
        val after = Snapshots.read(s, store)
        val agg = after.agg(count(lit(1)).as("n"),
          coalesce(sum(col("k")), lit(0L)).as("sk"),
          sum(when(col("status") === "M", 1L).otherwise(0L)).as("nm"),
          sum(when(col("status") === "N", 1L).otherwise(0L)).as("nn"))
          .head()
        import s.implicits._
        Seq((before, m.rowsChanged, agg.getLong(0), agg.getLong(1),
          agg.getLong(2), agg.getLong(3)))
          .toDF("rows_before", "rows_merged", "rows_after",
            "k_sum_after", "n_updated", "n_inserted")
      }
    }),

    // Metadata-only aggregates — StatsAggRule, the 5th extension
    // surface: a whole-table count(*)/min/max over a version whose
    // _stats.json covers every file answers FROM THE MANIFEST as a
    // LocalRelation with NO file scan in the plan (the Delta/Iceberg
    // "SELECT count(*) from add-file stats" analog — at 100 TB one
    // driver-side sidecar read replaces a full-table scan whose only
    // output is one row). The metadata_only flag pins the MECHANISM:
    // it is 1 only when the optimized plan contains no relation at
    // all, so a rule that stopped firing (or a manifest that stopped
    // covering) diverges the oracle hash loudly; the values pin the
    // ANSWER against DuckDB's brute-force count/min/max.
    "xq29_stats_agg" -> ((s, dir) => {
      import graft.operators.{SnapshotMaintenance, Snapshots}
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("c"),
        col("o_orderdate").cast("date").as("d"))
        .repartitionByRange(8, col("k"))
      withStores(s, "xq29") { case Seq(store) =>
        Snapshots.commitWithStats(s, o, store,
          statsCols = Seq("k", "c", "d"))
        val q = Snapshots.table(s, store).agg(
          count(lit(1)).as("n"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"),
          min(col("c")).as("c_min"), max(col("c")).as("c_max"),
          min(col("d")).as("d_min"), max(col("d")).as("d_max"))
        val meta = q.queryExecution.optimizedPlan.collectFirst {
          case lr: org.apache.spark.sql.execution.datasources
            .LogicalRelation => lr
        }.isEmpty
        val m = q.head()
        import s.implicits._
        Seq((m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3),
          m.getLong(4), m.getDate(5).toString, m.getDate(6).toString,
          if (meta) 1L else 0L))
          .toDF("n", "k_min", "k_max", "c_min", "c_max",
            "d_min", "d_max", "metadata_only")
      }
    }),

    // OPTIMIZE ZORDER end-to-end — the write-side half of the
    // file-skipping story (SnapshotMaintenance.optimizeClustered): v1 commits
    // the same xy frame SCATTERED (hash-partitioned on a key
    // uncorrelated with x, so every file spans the whole x domain and
    // a range read prunes NOTHING), then one maintenance rewrite
    // publishes v2 reclustered on the Morton curve — and the same
    // planner-pruned read now skips most files. Both censuses are
    // decided by StatsFileIndex at listing time; both replay in
    // DuckDB as closed-form group-by arithmetic (before: per-h min/max
    // of x — the scattered layout keeps everything; after: xq22's
    // z-bucket tiles). rows_matched before/after + checksum pin that
    // maintenance moved FILE BOUNDARIES, never rows. At 100 TB this
    // is the amortization argument for OPTIMIZE: one table shuffle,
    // run rarely, against every selective scan after it.
    "xq30_optimize_cluster" -> ((s, dir) => {
      import graft.operators.{SnapshotMaintenance, Snapshots}
      val base = t(s, dir, "lineitem")
        .select(pmod(col("l_partkey"), lit(1024)).as("x"),
          pmod(col("l_suppkey"), lit(1024)).as("y"),
          pmod(col("l_orderkey"), lit(8)).as("h"))
        .repartition(col("h"))
      withStores(s, "xq30") { case Seq(store) =>
        val v1 = Snapshots.commitWithStats(s, base, store,
          statsCols = Seq("x"), partitionByCols = Seq("h"))
        def census(version: Long) = {
          val tbl = Snapshots.table(s, store, version)
          val m = tbl.filter(col("x").between(100, 299))
            .agg(count(lit(1)).as("n"),
              coalesce(sum(col("x")), lit(0L)).as("sx")).head()
          val ps = graft.plans.StatsFileIndex.indexOf(tbl)
            .flatMap(_.lastPrune)
            .getOrElse(sys.error("planner index recorded no census"))
          (ps, m.getLong(0), m.getLong(1))
        }
        val (psB, matchedB, _) = census(v1)
        val (v2, cs) = SnapshotMaintenance.optimizeClustered(s, store,
          Seq("x", "y"), bits = 10, bucketWidth = 16384L, quantizeCols = false)
        val (psA, matchedA, cksum) = census(v2)
        import s.implicits._
        Seq((psB.filesRead + psB.filesSkipped, psB.filesRead,
          psA.filesRead + psA.filesSkipped, psA.filesRead,
          psA.filesSkipped, cs.rows, matchedB, matchedA, cksum))
          .toDF("files_total_before", "files_read_before",
            "files_total_after", "files_read_after",
            "files_skipped_after", "rows_total",
            "rows_matched_before", "rows_matched_after", "x_checksum")
      }
    }),

    // Partition-grouped metadata aggregates — xq29's GROUP BY
    // extension: `GROUP BY <partition col>` with count/min/max
    // answers per group from the manifest + the directory-encoded
    // partition values, still with NO scan in the plan (Spark's own
    // OptimizeMetadataOnlyQuery reserves this shape for catalog
    // tables; here it works on path stores and adds per-group min/max
    // from the stats sidecar). The per-partition census of a 100 TB
    // table becomes one driver-side manifest pass.
    "xq32_partition_stats_agg" -> ((s, dir) => {
      import graft.operators.{PrunedReads, Snapshots}
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        pmod(col("o_orderkey"), lit(5)).as("h"))
        .repartition(col("h"))
      withStores(s, "xq32") { case Seq(store) =>
        Snapshots.commitWithStats(s, o, store, statsCols = Seq("k"),
          partitionByCols = Seq("h"))
        val q = Snapshots.table(s, store).groupBy(col("h"))
          .agg(count(lit(1)).as("n"),
            min(col("k")).as("k_min"), max(col("k")).as("k_max"))
        val meta = q.queryExecution.optimizedPlan.collectFirst {
          case lr: org.apache.spark.sql.execution.datasources
            .LogicalRelation => lr
        }.isEmpty
        val rows = q.collect()
          .map(r => (r.getAs[Number](0).longValue, r.getLong(1),
            r.getLong(2), r.getLong(3), if (meta) 1L else 0L))
          .sortBy(_._1).toSeq
        import s.implicits._
        rows.toDF("h", "n", "k_min", "k_max", "metadata_only")
      }
    }),

    // Null-count statistics end-to-end — the manifest's per-column
    // non-null counts (Delta's nullCount analog) and the three
    // decisions they make PROVABLE: (a) count(col) answered
    // metadata-only (no scan — the nv/metadata_only pair), (b) IS NOT
    // NULL file skipping through the planner (an all-null file never
    // enters the scan; constraint propagation injects isnotnull on
    // virtually every filter, so this fires constantly for free),
    // (c) top-k pruning (PrunedReads.readTopK): a file is skipped only
    // when ≥ k NON-NULL values provably beat its max — row counts
    // alone cannot promise that when nulls hide among them. The store
    // is quartile-bucketed on k with the lowest quartile's v ALL NULL;
    // every census and the top-100 sum replay in DuckDB closed-form.
    "xq33_null_stats" -> ((s, dir) => {
      import graft.operators.{PrunedReads, Snapshots}
      val o0 = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"))
      val total = o0.count()
      val o = o0
        .withColumn("b", call_function("div", col("k") * 4,
          lit(total + 1)))
        .withColumn("v", when(col("b") =!= 0, col("k")))
        .repartition(col("b"))
      withStores(s, "xq33") { case Seq(store) =>
        Snapshots.commitWithStats(s, o, store,
          statsCols = Seq("k", "v"), partitionByCols = Seq("b"))
        val q = Snapshots.table(s, store).agg(
          count(lit(1)).as("n"), count(col("v")).as("nv"))
        val meta = q.queryExecution.optimizedPlan.collectFirst {
          case lr: org.apache.spark.sql.execution.datasources
            .LogicalRelation => lr
        }.isEmpty
        val m = q.head()
        val qn = Snapshots.table(s, store).filter(col("v").isNotNull)
        val notnullRows = qn.count()
        val psN = graft.plans.StatsFileIndex.indexOf(qn)
          .flatMap(_.lastPrune)
          .getOrElse(sys.error("planner index recorded no census"))
        val (tdf, psT) = PrunedReads.readTopK(s, store, "v", 100)
        val tsum = tdf.orderBy(col("v").desc_nulls_last).limit(100)
          .agg(coalesce(sum(col("v")), lit(0L))).head().getLong(0)
        import s.implicits._
        Seq((m.getLong(0), m.getLong(1), if (meta) 1L else 0L,
          notnullRows, psN.filesSkipped, psT.filesRead,
          psT.filesSkipped, tsum))
          .toDF("n", "nv", "metadata_only", "notnull_rows",
            "notnull_files_skipped", "topk_files_read",
            "topk_files_skipped", "topk_sum")
      }
    }),

    // Deterministic shuffle-shard export (operators/ShuffleShards) —
    // the step between a curated corpus and the data loader: every
    // doc gets a pseudo-random shard (md5-60 mod N) and a
    // pseudo-random within-shard position (md5-60 with an order
    // salt), both pure hash arithmetic — the SAME corpus + salt
    // yields the SAME shards at any parallelism, any engine (the
    // loader-resume / loss-spike-forensics property). The census
    // pins shard sizes, membership (id_sum), AND the within-shard
    // ORDER: order_fp = Σ rn·(ord mod 997) over the rank-ordered
    // rows — one transposition changes it. The per-shard window is
    // bounded by shard size BY DESIGN (numShards is chosen so one
    // shard = one loader file = one write task; fingerprinting a
    // shard costs what writing it costs). DuckDB replays the hashes
    // and the rank bit-for-bit.
    "xq36_shuffle_shards" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val p = graft.operators.ShuffleShards.shardPlan(d, "doc_id", 8)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_shard")).orderBy(col("_ord"), col("doc_id"))
      p.withColumn("rn", row_number().over(w))
        .groupBy(col("_shard"))
        .agg(count(lit(1)).as("n"),
          sum(col("rn") * pmod(col("_ord"), lit(997))).as("order_fp"),
          coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"))
        .orderBy(col("_shard"))
    }),

    // Filtered metadata aggregates — StatsAggRule evaluating a
    // PARTITION-ONLY predicate against each file's directory-encoded
    // values (all of a file's rows share them, so files wholly pass
    // or wholly fail): `count(*)/min/max WHERE h IN (...)` answers
    // from the manifest with NO scan in the plan. The real Catalyst
    // predicate is evaluated, not an approximation — arbitrary
    // partition-column expressions qualify; one data-column reference
    // refuses. metadata_only pins the mechanism as in xq29.
    "xq35_filtered_meta" -> ((s, dir) => {
      import graft.operators.{PrunedReads, Snapshots}
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        pmod(col("o_orderkey"), lit(5)).as("h"))
        .repartition(col("h"))
      withStores(s, "xq35") { case Seq(store) =>
        Snapshots.commitWithStats(s, o, store, statsCols = Seq("k"),
          partitionByCols = Seq("h"))
        val q = Snapshots.table(s, store)
          .filter(col("h").isin(1, 3))
          .agg(count(lit(1)).as("n"),
            min(col("k")).as("k_min"), max(col("k")).as("k_max"))
        val meta = q.queryExecution.optimizedPlan.collectFirst {
          case lr: org.apache.spark.sql.execution.datasources
            .LogicalRelation => lr
        }.isEmpty
        val m = q.head()
        import s.implicits._
        Seq((m.getLong(0), m.getLong(1), m.getLong(2),
          if (meta) 1L else 0L))
          .toDF("n", "k_min", "k_max", "metadata_only")
      }
    }),

    // Dynamic file pruning for a star join (PrunedReads.readJoinPruned
    // — Delta-DFP's shape at the API level): the dimension side's
    // distinct keys route the FACT scan through the stats bounds AND
    // the bloom sidecars, so a selective dimension filter reads a
    // handful of fact files — the scan reduction a broadcast join
    // alone never gives (it still scans the whole fact side). The
    // DuckDB twin replays the full decision: per (bucket, key) the
    // range test on the bucket's min/max AND the 4-seed md5-60 bloom
    // admit (false positives included), kept iff ANY key passes both;
    // the joined census pins superset-correctness.
    "xq34_join_pruning" -> ((s, dir) => {
      import graft.operators.{PrunedReads, Snapshots}
      val base = zBuckets(s, dir)
      val dim = t(s, dir, "part")
        .filter(pmod(col("p_partkey"), lit(389)) === 0)
        .select(pmod(col("p_partkey"), lit(1024)).as("x"))
        .distinct()
      withStores(s, "xq34") { case Seq(store) =>
        Snapshots.commitWithStats(s, base, store,
          statsCols = Seq("x"), partitionByCols = Seq("z_bucket"),
          bloomCols = Seq("x"))
        val (pruned, ps) = PrunedReads.readJoinPruned(s, store, "x", dim)
        val m = pruned.join(broadcast(dim), Seq("x"))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("y")), lit(0L)).as("sy")).head()
        censusRow(s, ps, m, "y_checksum")
      }
    }),

    // Change-feed mirroring end-to-end (Snapshots.mirrorAppends):
    // the source is a 3-batch append log (one commit per k%3 class);
    // the consumer mirrors it into a downstream table with a filter
    // transform, exactly-once — the DESTINATION'S epoch fence is the
    // consumer offset (epoch id = source version), so progress and
    // data seal in the same atomic rename and a crashed consumer
    // replays to the same state (MirrorSpec pins the crash points).
    // The census replays the mirrored log per destination version
    // through readAppendsSince — the DuckDB twin recomputes each
    // batch's filtered census from the k%3 slicing directly. This is
    // the Kafka-consumer / CDF-downstream pattern the snapshot store's
    // streaming story composes into: source sink → fence → mirror →
    // downstream table, exactly-once at every hop.
    "xq31_change_feed_mirror" -> ((s, dir) => {
      import graft.operators.Snapshots
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("status"))
      withStores(s, "xq31s", "xq31d") { case Seq(src, dst) =>
        (0 to 2).foreach(i => Snapshots.commit(s,
          o.filter(pmod(col("k"), lit(3)) === i), src))
        Snapshots.mirrorAppends(s, src, dst,
          _.filter(col("status") === "O"))
        val rows = Snapshots.readAppendsSince(s, dst, 0L)
          .groupBy(col("_version"))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("k")), lit(0L)).as("k_sum"))
          .orderBy(col("_version"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSeq
        import s.implicits._
        rows.toDF("version", "n", "k_sum")
      }
    }),

    // Triangle counting over the part co-purchase graph (parts
    // sharing an order) with DEGREE-ORDERED ORIENTATION (Schank &
    // Wagner 2005 / Suri-Vassilvitskii MapReduce form): every edge is
    // directed from its (degree, id)-smaller endpoint, so each
    // triangle is enumerated exactly once from its unique two-out-edge
    // apex, and wedge generation is bounded by Σ outdeg² = O(m^1.5) —
    // on a skewed graph the id-ordered naive join explodes on hub
    // nodes while this shape provably cannot (a hub is ordered LAST,
    // so it receives in-edges instead of fanning out wedges). All
    // joins are equi-joins on node/pair keys; nothing is collected.
    // The oracle counts the same triangles with the simple id-ordered
    // 3-way join — orientation must be semantically invisible.
    "xg2_triangle_count" -> ((s, dir) => {
      import graft.operators.ManagedCache
      // deterministic 25% order subsample: wedge volume grows ~
      // quadratically in per-node degree, and the UNBOUNDED graph at
      // sf0.1 generates 41M wedges for one diagnostic top-10 — the
      // bound keeps the query proportionate to the suite (tx5
      // precedent) while the plan is IDENTICAL unbounded
      val l = t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(4)) === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      val e0 = ManagedCache.persist(
        l.as("a").join(l.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
          .distinct())
      val tri = ManagedCache.persist(
        graft.operators.Triangles.enumerate(e0))
      val total = tri.agg(count(lit(1)).as("total_triangles"))
      val ne = e0.agg(count(lit(1)).as("n_edges"))
      val perNode = tri
        .select(explode(array(col("x"), col("y"), col("z")))
          .as("partkey"))
        .groupBy(col("partkey")).agg(count(lit(1)).as("n_tri"))
      perNode.orderBy(col("n_tri").desc, col("partkey")).limit(10)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n_tri").desc, col("partkey"))))
        .crossJoin(broadcast(total)).crossJoin(broadcast(ne))
        .select(col("rank"), col("partkey"), col("n_tri"),
          col("total_triangles"), col("n_edges"))
        .orderBy(col("rank"))
    }),

    // 2D skyline (Pareto front: minimize price, maximize size) — the
    // Spark-SQL skyline operator of Integration of Skyline Queries
    // into Spark SQL (EDBT'23, PAPERS.md). The naive dominance test is
    // an O(n²) self-join; for two dimensions the skyline is exactly
    // the rows whose size beats the running max over all STRICTLY
    // cheaper rows (and ties the max within their own price group) —
    // one distributed running-max pass (operators.PrefixSum) over the
    // price order, O(n log n) and shuffle-bounded. Oracle = the naive
    // NOT EXISTS dominance test, so the rewrite must be lossless.
    // Join-delta incremental view maintenance, driven end to end: a
    // per-order totals view depends on TWO tables (orders ⋈ lineitem),
    // so a batch touching EITHER must refresh the affected order rows
    // (operators.IncrementalView.refreshMultiKeyed). A deterministic
    // "previous state" t0 is derived from the current tables
    // (quantity +10 where l_orderkey%100==0; custkey +1 where
    // o_orderkey%97==0); the view is materialized at t0, then
    // refreshed with BOTH sides' CDC-style delta rows (current rows at
    // the perturbed keys, carrying their FKs). Correct maintenance
    // makes the result equal the view over the CURRENT tables — which
    // is exactly what the oracle computes directly. Both deltas are
    // key-sliced and tiny, so the semi/anti refresh joins broadcast
    // and the rebuild reads a batch-sized slice, never the corpus.
    "xv1_incr_view_multi" -> ((s, dir) => {
      def view(o: DataFrame, l: DataFrame): DataFrame =
        o.join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"), col("o_custkey"))
          .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
            count(lit(1)).as("n_items"))
      val o1 = t(s, dir, "orders")
      val l1 = t(s, dir, "lineitem")
      val l0 = l1.withColumn("l_quantity",
        when(pmod(col("l_orderkey"), lit(100)) === 0,
          col("l_quantity") + 10).otherwise(col("l_quantity")))
      val o0 = o1.withColumn("o_custkey",
        when(pmod(col("o_orderkey"), lit(97)) === 0,
          col("o_custkey") + 1).otherwise(col("o_custkey")))
      val lDelta = l1.filter(pmod(col("l_orderkey"), lit(100)) === 0)
      val oDelta = o1.filter(pmod(col("o_orderkey"), lit(97)) === 0)
      graft.operators.IncrementalView.refreshMultiKeyed(
        view(o0, l0), view(o1, l1), "o_orderkey",
        Seq(lDelta -> "l_orderkey", oDelta -> "o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    // ADDITIVE-delta view maintenance — the rebuild-free sibling of
    // xv1 for sum/count measures: the same per-order totals view,
    // materialized at a deterministic t0 (quantity +10 where
    // l_orderkey%100==0), then brought current by MERGING the batch's
    // per-key Δsum directly into the materialized rows — ONE
    // broadcast left join, no semi/anti rebuild, and NO fact-table
    // read at refresh time (xv1 re-reads a batch-sized fact slice;
    // this reads only the view). O(|batch|) refresh, the
    // self-maintainable-aggregate shape. The oracle is the view over
    // the CURRENT tables, so a wrong delta sign/scope breaks the
    // hash. Plan-guarded: no semi/anti, delta join broadcast.
    "xv2_incr_view_additive" -> ((s, dir) => {
      def view(o: DataFrame, l: DataFrame): DataFrame =
        o.join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"), col("o_custkey"))
          .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
            count(lit(1)).as("n_items"))
      val o1 = t(s, dir, "orders")
      val l1 = t(s, dir, "lineitem")
      val l0 = l1.withColumn("l_quantity",
        when(pmod(col("l_orderkey"), lit(100)) === 0,
          col("l_quantity") + 10).otherwise(col("l_quantity")))
      // CDC batch reduced to per-key measure deltas: every perturbed
      // line contributes new - old = -10
      val delta = l1.filter(pmod(col("l_orderkey"), lit(100)) === 0)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg((count(lit(1)) * lit(-10L)).as("delta_sum_qty"))
      graft.operators.IncrementalView
        .refreshAdditive(view(o1, l0), "o_orderkey", delta)
        .orderBy(col("o_orderkey"))
    }),

    // Algebraic delta JOIN maintenance — the third IVM shape: a
    // materialized orders⋈lineitem view brought current under
    // append-only batches on BOTH sides via
    // Δ = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, never re-reading the view (xv1
    // semi/anti re-scans it; xv2 needs additive measures; this needs
    // neither). Every term broadcasts a delta side, so the two
    // old-state scans are broadcast-hash-driven and column-pruned —
    // nothing shuffles the big tables. The oracle is the INDEPENDENT
    // formulation (new-state join) EXCEPT ALL (old-state join) — bag
    // difference — so an algebra mistake (a missed cross term, a
    // duplicated row) breaks the hash.
    "xv3_incr_join_delta" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 2).as("qty"))
      val oOld = o.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
      val oDel = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
      val lOld = l.filter(col("l_linenumber") <= 3)
      val lDel = l.filter(col("l_linenumber") > 3)
      graft.operators.IncrementalView
        .deltaJoin(oOld, oDel, lOld, lDel, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("l_linenumber"))
    }),

    // IQR outlier detection (Tukey fences) per event type — the
    // data-quality screen between quality scores (tx2/tx8) and
    // dedup: values above q3 + 1.5·IQR flagged. All arithmetic is
    // EXACT: values ride integer cents, the interpolated quartiles
    // land on quarter-cent fractions (h = (n-1)p with p ∈ {¼, ¾}),
    // so ×8 makes every quantity an exact integer (eighth-cents) and
    // the fence test is pure bigint comparison — no cross-engine
    // float risk at all. The quartile agg shrinks to G rows,
    // broadcast back over one corpus scan.
    "xq4_iqr_outliers" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      val q = e.groupBy(col("event_type"))
        .agg((percentile(col("cents"), lit(0.25)) * 8).cast("long")
            .as("q1_ec"),
          (percentile(col("cents"), lit(0.75)) * 8).cast("long")
            .as("q3_ec"))
        .withColumn("fence_ec", col("q3_ec") + call_function("div",
          (col("q3_ec") - col("q1_ec")) * 3, lit(2L)))
      val out = e.join(broadcast(q), Seq("event_type"))
        .filter(col("cents") * 8 > col("fence_ec"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_outliers"),
          sum(col("event_id")).as("outlier_id_sum"),
          max(col("cents")).as("max_cents"))
      q.join(out, Seq("event_type"), "left")
        .select(col("event_type"), col("q1_ec"), col("q3_ec"),
          col("fence_ec"),
          coalesce(col("n_outliers"), lit(0L)).as("n_outliers"),
          coalesce(col("outlier_id_sum"), lit(0L))
            .as("outlier_id_sum"),
          coalesce(col("max_cents"), lit(-1L)).as("max_cents"))
        .orderBy(col("event_type"))
    }),

    "xq1_skyline" -> ((s, dir) => {
      val pts = t(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice").as("price"),
          col("p_size").cast("long").as("size"))
      val grp = pts.groupBy(col("price"))
        .agg(max(col("size")).as("gmax"))
      val g2 = graft.operators.PrefixSum
        .withRunningMaxBefore(grp, Seq("price"), "gmax", "max_before")
      pts.join(g2, Seq("price"))
        .filter((col("max_before").isNull ||
            col("max_before") < col("size")) &&
          col("size") === col("gmax"))
        .select(col("p_partkey"), col("price"), col("size"))
        .orderBy(col("p_partkey"))
    }),

    // Behavioral-sequence similarity (the distributed trajectory-
    // similarity family — REPOSE, ICDE'21 in PAPERS.md — reduced to
    // 1D event sequences): each user's ordered event-type-initial
    // string, pairwise edit distance, 10 most-similar pairs. The
    // aggregation shrinks events→users before the quadratic step, and
    // the pair join carries only the compact sequence strings. Both
    // engines sequence on (epoch µs, event_id) — the events table is
    // ns-precision parquet, which Spark truncates; raw ts order would
    // diverge.
    "xq2_sequence_similarity" -> ((s, dir) => {
      val seqs = t(s, dir, "events").filter(col("user_id") < 100)
        .groupBy(col("user_id"))
        .agg(concat_ws("", transform(
          array_sort(collect_list(struct(unix_micros(col("ts")).as("us"),
            col("event_id"), substring(col("event_type"), 1, 1)
              .as("c")))),
          x => x.getField("c"))).as("seq"))
      // top-10 via orderBy+limit (TakeOrderedAndProject — no global
      // window over the quadratic pair table); rank assigned after
      // the limit, over 10 rows
      val top = seqs.as("a").join(seqs.as("b"),
          col("a.user_id") < col("b.user_id"))
        .select(col("a.user_id").as("user_a"),
          col("b.user_id").as("user_b"),
          levenshtein(col("a.seq"), col("b.seq")).cast("long").as("d"))
        .orderBy(col("d"), col("user_a"), col("user_b"))
        .limit(10)
      top.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("d"), col("user_a"), col("user_b"))))
        .orderBy(col("rank"))
    }),

    // xq2's unbounded twin: behavioral-sequence similarity over ALL
    // users with no user² term — dd8's blocking discipline applied to
    // event sequences. Candidates share a 2-event prefix block AND sit
    // within a ±10 length band (edit distance ≥ length gap, so the
    // band is lossless for the τ=25 threshold); the banded
    // levenshtein(·,·,25) runs ONLY on block survivors and costs
    // O(len·τ) per pair instead of O(len²). The output is a one-row
    // checksum aggregate the oracle replays exactly — candidate
    // census, τ-pair count, key checksum, and a capped-distance sum
    // (min(d, 26)) so the aggregate stays data-rich even when few
    // pairs beat τ. At 100 TB the block key shuffles like any join
    // key; prefix blocking catches same-head trajectories, and the
    // within-band distance is the expensive verify, exactly dd8's
    // candidate/verify split.
    "xq21_sequence_similarity_full" -> ((s, dir) => {
      val seqs = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(concat_ws("", transform(
          array_sort(collect_list(struct(unix_micros(col("ts")).as("us"),
            col("event_id"), substring(col("event_type"), 1, 1)
              .as("c")))),
          x => x.getField("c"))).as("seq"))
        .withColumn("blk", substring(col("seq"), 1, 2))
        .withColumn("len", length(col("seq")))
      // distance as the LAST select over join survivors (dd8's trap:
      // a join-condition distance would run before nothing here — the
      // cheap conjuncts already prune; keeping it in the projection
      // computes it once per surviving candidate)
      val cand = seqs.as("a").join(seqs.as("b"),
          col("a.blk") === col("b.blk") &&
            col("a.user_id") < col("b.user_id") &&
            abs(col("a.len") - col("b.len")) <= 10)
        .select(col("a.user_id").as("user_a"),
          col("b.user_id").as("user_b"),
          levenshtein(col("a.seq"), col("b.seq"), 25).as("d"))
      cand.agg(
        count(lit(1)).as("n_candidates"),
        coalesce(sum(when(col("d") >= 0, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("n_within"),
        coalesce(sum(when(col("d") >= 0,
          col("user_a") * lit(1000003L) + col("user_b"))), lit(0L))
          .as("key_sum"),
        coalesce(sum(when(col("d") >= 0, col("d").cast("long"))
          .otherwise(lit(26L))), lit(0L)).as("dist_capped_sum"))
    }),

    // ROLLUP with grouping_id — subtotal/grand-total reporting (absent
    // from the reference, standard for the BI surface it feeds).
    "xa2_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // GROUPING SETS — the rollup's sibling the BI surface emits
    // (subtotal by flag AND by status, no grand total): one shuffle,
    // the Expand operator replicates rows per set map-side.
    "xa3_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // CUBE — every subtotal combination, grouping_id-tagged.
    "xa4_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // UNPIVOT / melt (wide → long), the inverse of the A1 pivot —
    // the Dataset.unpivot API compiles to a single Expand, one scan,
    // no shuffle until the output sort.
    "xa5_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem").filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("quantity"),
          col("l_extendedprice").as("extendedprice"),
          col("l_discount").as("discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "measure", "val")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))
    }),

    // Custom Aggregator: ordered GROUP_CONCAT via typed
    // Aggregator/udaf (string sort keys; timestamps serialize to
    // ISO so lexicographic == chronological).
    "xa1_group_concat_udaf" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy(col("o_custkey"))
        .agg(GroupConcatOrdered(
          concat_ws("|", col("o_orderdate").cast("string"),
            lpad(col("o_orderkey").cast("string"), 10, "0")),
          col("o_orderkey").cast("string"), ", ").as("order_history"))
        .orderBy(col("o_custkey"))
    })
  )

  /** xq22's closed-form pruning replay, shared by xq24 (the
    * planner-integrated index) and xq38 (the registered
    * format("snapshot") connector): all three make the identical
    * keep/skip decision from the same per-bucket min/max. */
  private val plannerPruningOracle: String =
    """WITH xy AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
           FROM lineitem),
         z AS (SELECT x,
             (x % 2) * 1 + ((x // 2) % 2) * 4 + ((x // 4) % 2) * 16
           + ((x // 8) % 2) * 64 + ((x // 16) % 2) * 256
           + ((x // 32) % 2) * 1024 + ((x // 64) % 2) * 4096
           + ((x // 128) % 2) * 16384 + ((x // 256) % 2) * 65536
           + ((x // 512) % 2) * 262144
           + (y % 2) * 2 + ((y // 2) % 2) * 8 + ((y // 4) % 2) * 32
           + ((y // 8) % 2) * 128 + ((y // 16) % 2) * 512
           + ((y // 32) % 2) * 2048 + ((y // 64) % 2) * 8192
           + ((y // 128) % 2) * 32768 + ((y // 256) % 2) * 131072
           + ((y // 512) % 2) * 524288 AS zv
           FROM xy),
         f AS (SELECT zv // 16384 AS z_bucket, count(*) AS rows_in,
             min(x) AS mn, max(x) AS mx
           FROM z GROUP BY 1),
         cls AS (SELECT rows_in,
             (NOT (mx < 100 OR mn > 299)) AS kept FROM f)
         SELECT count(*) AS files_total,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             AS files_read,
           CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
             AS files_skipped,
           CAST(sum(CASE WHEN kept THEN rows_in ELSE 0 END) AS BIGINT)
             AS rows_in_read,
           CAST(sum(CASE WHEN NOT kept THEN rows_in ELSE 0 END)
             AS BIGINT) AS rows_in_skipped,
           (SELECT count(*) FROM z WHERE x BETWEEN 100 AND 299)
             AS rows_matched,
           (SELECT CAST(coalesce(sum(x), 0) AS BIGINT) FROM z
             WHERE x BETWEEN 100 AND 299) AS x_checksum
         FROM cls"""

  val oracle: Map[String, String] = Map(
    // a correctly maintained view IS the view over the current
    // tables — the oracle computes that directly, no machinery
    "xv1_incr_view_multi" ->
      """SELECT o_orderkey, o_custkey,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           count(*) AS n_items
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1, 2 ORDER BY o_orderkey""",
    // additively maintained state must equal the view over the
    // current tables — same oracle as xv1
    "xv2_incr_view_additive" ->
      """SELECT o_orderkey, o_custkey,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           count(*) AS n_items
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1, 2 ORDER BY o_orderkey""",
    // the INDEPENDENT formulation of the join delta: bag difference
    // between the new-state join and the old-state join
    "xv3_incr_join_delta" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority FROM orders),
         l AS (SELECT l_orderkey AS o_orderkey, l_linenumber,
             round(l_quantity, 2) AS qty FROM lineitem)
       SELECT o_orderkey, o_orderpriority, l_linenumber, qty FROM (
         SELECT o.o_orderkey, o_orderpriority, l_linenumber, qty
         FROM o JOIN l ON l.o_orderkey = o.o_orderkey
         EXCEPT ALL
         SELECT o2.o_orderkey, o_orderpriority, l_linenumber, qty
         FROM (SELECT * FROM o WHERE o_orderkey % 7 <> 0) o2
         JOIN (SELECT * FROM l WHERE l_linenumber <= 3) l2
           ON l2.o_orderkey = o2.o_orderkey)
       ORDER BY o_orderkey, l_linenumber""",
    // ann3 is deterministic arithmetic end to end (label cells stand
    // in for k-means assignments; centroids are per-dim means cast to
    // float32), so the oracle replays the full IVF pipeline: centroid
    // build → top-2 probe per query → cell-restricted top-k.
    "ann3_ivf_ann" ->
      """WITH dims AS (
           SELECT cell, d, embedding[d]::DOUBLE AS v FROM (
             SELECT label AS cell, embedding,
               unnest(range(1, len(embedding)+1)) AS d
             FROM embeddings)),
         cent AS (
           SELECT cell, list(m ORDER BY d) AS centroid FROM (
             SELECT cell, d, CAST(avg(v) AS FLOAT) AS m
             FROM dims GROUP BY cell, d)
           GROUP BY cell),
         probed AS (
           SELECT query_id, qv, cell FROM (
             SELECT q.vec_id AS query_id, q.embedding AS qv, c.cell,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(
                   q.embedding::DOUBLE[], c.centroid::DOUBLE[]), 5)
                   DESC, c.cell) AS crank
             FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5)
           WHERE crank <= 2)
         SELECT query_id, neighbor_id, cell, cos, rank FROM (
           SELECT p.query_id, e.vec_id AS neighbor_id, p.cell,
             round(list_cosine_similarity(
               p.qv::DOUBLE[], e.embedding::DOUBLE[]), 5) AS cos,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY round(list_cosine_similarity(
                 p.qv::DOUBLE[], e.embedding::DOUBLE[]), 5)
                 DESC, e.vec_id) AS rank
           FROM probed p JOIN embeddings e
             ON e.label = p.cell AND e.vec_id != p.query_id)
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "xj1_asof_join" ->
      """SELECT p.event_id, p.user_id,
         date_trunc('second', p.ts) AS ts_sec, s.signup_value
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id, ts,
               round(value, 6) AS signup_value
             FROM events WHERE event_type = 'signup') s
           ON p.user_id = s.user_id AND p.ts >= s.ts
         ORDER BY p.event_id""",
    // identical oracle to xj1 — the native exec must reproduce the
    // composed union+window plan's answer exactly
    "xj3_asof_native" ->
      """SELECT p.event_id, p.user_id,
         date_trunc('second', p.ts) AS ts_sec, s.signup_value
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id, ts,
               round(value, 6) AS signup_value
             FROM events WHERE event_type = 'signup') s
           ON p.user_id = s.user_id AND p.ts >= s.ts
         ORDER BY p.event_id""",
    "xj2_salted_join" ->
      """SELECT s_name, count(*) AS n_lines,
         round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_name ORDER BY s_name""",
    // the oracle replays BOTH Lloyd iterations: per-dim means are
    // rounded to 6 dp in each engine, so the centroid streams stay
    // bit-identical through the unrolled rounds
    "ann4_kmeans" ->
      s"""$kmeansCteSql
       SELECT a3.cl AS cluster, count(*) AS n_members,
         round(list_sum(c2.c), 5) AS centroid_sum
       FROM a3 JOIN c2 ON a3.cl = c2.cl
       GROUP BY a3.cl, c2.c ORDER BY cluster""",
    // trained-index search: the same kmeans CTEs, then the probe
    // (top-2 cells per query by centroid L2) and the cell-restricted
    // top-5 — the full train→search pipeline replayed in SQL
    "ann5_ivf_trained" ->
      s"""$kmeansCteSql,
       q AS (SELECT vec_id AS query_id, v AS qv FROM e
           WHERE vec_id < 5),
       probe AS (SELECT query_id, qv, cl FROM (
           SELECT q.query_id, q.qv, c2.cl, row_number() OVER (
             PARTITION BY q.query_id ORDER BY
             list_sum(list_transform(range(1, 65),
               i -> (q.qv[i]-c2.c[i])*(q.qv[i]-c2.c[i]))), c2.cl)
             AS crank
           FROM q CROSS JOIN c2) WHERE crank <= 2),
       cand AS (SELECT p.query_id, e.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, 65),
             i -> (p.qv[i]-e.v[i])*(p.qv[i]-e.v[i]))) AS d2raw
         FROM probe p JOIN a3 ON a3.cl = p.cl
         JOIN e ON e.vec_id = a3.vec_id
         WHERE e.vec_id != p.query_id)
       SELECT query_id, rank, neighbor_id, round(d2raw, 5) AS d2
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY d2raw, neighbor_id) AS rank FROM cand)
       WHERE rank <= 5 ORDER BY query_id, rank""",
    // full PQ replay: subvector split → seeded one-round Lloyd per
    // subspace (means rounded 6 dp, ties to lower code — the same
    // pinning as the kmeans CTEs) → encode → per-query distance table
    // in integer micros → ADC sum → top-5
    "ann6_pq_adc" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           FROM embeddings),
         sub AS (SELECT vec_id, m,
             list_slice(v, 1 + 16*m, 16*(m+1)) AS sv
           FROM e CROSS JOIN range(4) r(m)),
         seeds AS (SELECT m, CASE vec_id WHEN 0 THEN 0 WHEN 7 THEN 1
             WHEN 19 THEN 2 ELSE 3 END AS cl, sv AS c
           FROM sub WHERE vec_id IN (0, 7, 19, 41)),
         a1 AS (SELECT vec_id, m, sv, cl FROM (
             SELECT s.vec_id, s.m, s.sv, sd.cl, row_number() OVER (
               PARTITION BY s.vec_id, s.m ORDER BY
               list_sum(list_transform(range(1, 17),
                 i -> (s.sv[i]-sd.c[i])*(s.sv[i]-sd.c[i]))), sd.cl)
               AS rn
             FROM sub s JOIN seeds sd USING (m)) WHERE rn = 1),
         cb AS (SELECT m, cl, list(mm ORDER BY i) AS c FROM (
             SELECT m, cl, i, round(avg(sv[i]), 6) AS mm
             FROM a1 CROSS JOIN range(1, 17) r(i) GROUP BY m, cl, i)
           GROUP BY m, cl),
         codes AS (SELECT vec_id, m, cl AS code FROM (
             SELECT s.vec_id, s.m, cb.cl, row_number() OVER (
               PARTITION BY s.vec_id, s.m ORDER BY
               list_sum(list_transform(range(1, 17),
                 i -> (s.sv[i]-cb.c[i])*(s.sv[i]-cb.c[i]))), cb.cl)
               AS rn
             FROM sub s JOIN cb USING (m)) WHERE rn = 1),
         dt AS (SELECT q.vec_id AS query_id, cb.m, cb.cl,
             CAST(floor(list_sum(list_transform(range(1, 17),
               i -> (q.sv[i]-cb.c[i])*(q.sv[i]-cb.c[i]))) * 1e6 + 0.5)
               AS BIGINT) AS dmic
           FROM (SELECT * FROM sub WHERE vec_id < 5) q
           JOIN cb USING (m)),
         ad AS (SELECT dt.query_id, c.vec_id AS neighbor_id,
             CAST(sum(dt.dmic) AS BIGINT) AS adist_micros
           FROM codes c JOIN dt ON c.m = dt.m AND c.code = dt.cl
           WHERE c.vec_id <> dt.query_id GROUP BY 1, 2)
       SELECT query_id, rank, neighbor_id, adist_micros FROM (
         SELECT query_id, neighbor_id, adist_micros,
           row_number() OVER (PARTITION BY query_id
             ORDER BY adist_micros, neighbor_id) AS rank FROM ad)
       WHERE rank <= 5 ORDER BY query_id, rank""",
    // exact integer replay: same cents → quantile_cont lands on the
    // same quarter-cent grid → identical eighth-cent fences
    "xq4_iqr_outliers" ->
      """WITH e AS (SELECT event_type, event_id,
           CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         q AS (SELECT event_type,
             CAST(quantile_cont(cents, 0.25) * 8 AS BIGINT) AS q1_ec,
             CAST(quantile_cont(cents, 0.75) * 8 AS BIGINT) AS q3_ec
           FROM e GROUP BY 1),
         q2 AS (SELECT *, q3_ec + (q3_ec - q1_ec) * 3 // 2 AS fence_ec
           FROM q),
         o AS (SELECT e.event_type, count(*) AS n_outliers,
             CAST(sum(event_id) AS BIGINT) AS outlier_id_sum,
             max(cents) AS max_cents
           FROM e JOIN q2 ON q2.event_type = e.event_type
           WHERE cents * 8 > fence_ec GROUP BY 1)
       SELECT q2.event_type, q1_ec, q3_ec, fence_ec,
         coalesce(n_outliers, 0) AS n_outliers,
         coalesce(outlier_id_sum, 0) AS outlier_id_sum,
         coalesce(max_cents, -1) AS max_cents
       FROM q2 LEFT JOIN o ON o.event_type = q2.event_type
       ORDER BY q2.event_type""",
    // the same kmeans CTE prefix as ann4/ann5, then cell-restricted
    // cosine pairs and the keep-first drop policy
    "dd15_semantic_dedup" ->
      s"""$kmeansCteSql,
       cp AS (SELECT x.vec_id AS va, y.vec_id AS vb,
           round(list_cosine_similarity(ex.v, ey.v), 5) AS cos
         FROM a3 x JOIN a3 y ON x.cl = y.cl AND x.vec_id < y.vec_id
         JOIN e ex ON ex.vec_id = x.vec_id
         JOIN e ey ON ey.vec_id = y.vec_id),
       drops AS (SELECT vb AS vec_id, min(va) AS kept_as,
           count(*) AS n_similar_prior
         FROM cp WHERE cos >= 0.45 GROUP BY 1)
       SELECT a3.vec_id, a3.cl AS cell,
         CAST(d.kept_as IS NOT NULL AS INT) AS dropped,
         coalesce(d.kept_as, a3.vec_id) AS kept_as,
         coalesce(d.n_similar_prior, 0)::BIGINT AS n_similar_prior
       FROM a3 LEFT JOIN drops d ON d.vec_id = a3.vec_id
       ORDER BY a3.vec_id""",
    // both rounds replayed in the same fixed-point bigint arithmetic;
    // sums cast back to BIGINT (DuckDB sum yields HUGEINT, which the
    // compare would render as float)
    "xg1_pagerank" ->
      """WITH e AS (
           SELECT l_partkey*2 AS src, l_suppkey*2+1 AS dst
           FROM lineitem
           UNION
           SELECT l_suppkey*2+1 AS src, l_partkey*2 AS dst
           FROM lineitem),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         nn AS (SELECT count(*) AS n FROM deg),
         r0 AS (SELECT src AS node_id, 1000000000 // n AS r
           FROM deg, nn),
         s1 AS (SELECT e.dst AS node_id,
             CAST(sum(r0.r // deg.deg) AS BIGINT) AS sv
           FROM e JOIN r0 ON r0.node_id = e.src
           JOIN deg ON deg.src = e.src GROUP BY 1),
         r1 AS (SELECT node_id,
             (3::BIGINT * 1000000000) // (20*n) + (17*sv) // 20 AS r
           FROM s1, nn),
         s2 AS (SELECT e.dst AS node_id,
             CAST(sum(r1.r // deg.deg) AS BIGINT) AS sv
           FROM e JOIN r1 ON r1.node_id = e.src
           JOIN deg ON deg.src = e.src GROUP BY 1),
         r2 AS (SELECT node_id,
             (3::BIGINT * 1000000000) // (20*n) + (17*sv) // 20 AS r
           FROM s2, nn)
       SELECT rank, node_type, orig_key, rank_nano FROM (
         SELECT row_number() OVER (ORDER BY r DESC, node_id) AS rank,
           CASE WHEN node_id % 2 = 0 THEN 'part'
             ELSE 'supplier' END AS node_type,
           node_id // 2 AS orig_key, r AS rank_nano
         FROM r2)
       WHERE rank <= 20 ORDER BY rank""",
    // xg1's arithmetic with the teleport indicator on the seed set
    "xg7_personalized_pagerank" ->
      """WITH e AS (
           SELECT l_partkey*2 AS src, l_suppkey*2+1 AS dst
           FROM lineitem
           UNION
           SELECT l_suppkey*2+1 AS src, l_partkey*2 AS dst
           FROM lineitem),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         ns AS (SELECT count(*) AS ns FROM deg
           WHERE src % 2 = 0 AND src < 20),
         r0 AS (SELECT src AS node_id,
             CASE WHEN src % 2 = 0 AND src < 20
               THEN 1000000000 // ns ELSE 0 END AS r
           FROM deg, ns),
         s1 AS (SELECT e.dst AS node_id,
             CAST(sum(r0.r // deg.deg) AS BIGINT) AS sv
           FROM e JOIN r0 ON r0.node_id = e.src
           JOIN deg ON deg.src = e.src GROUP BY 1),
         r1 AS (SELECT node_id,
             CASE WHEN node_id % 2 = 0 AND node_id < 20
               THEN (3::BIGINT * 1000000000) // (20*ns) ELSE 0 END
               + (17*sv) // 20 AS r
           FROM s1, ns),
         s2 AS (SELECT e.dst AS node_id,
             CAST(sum(r1.r // deg.deg) AS BIGINT) AS sv
           FROM e JOIN r1 ON r1.node_id = e.src
           JOIN deg ON deg.src = e.src GROUP BY 1),
         r2 AS (SELECT node_id,
             CASE WHEN node_id % 2 = 0 AND node_id < 20
               THEN (3::BIGINT * 1000000000) // (20*ns) ELSE 0 END
               + (17*sv) // 20 AS r
           FROM s2, ns)
       SELECT rank, node_type, orig_key, rank_nano FROM (
         SELECT row_number() OVER (ORDER BY r DESC, node_id) AS rank,
           CASE WHEN node_id % 2 = 0 THEN 'part'
             ELSE 'supplier' END AS node_type,
           node_id // 2 AS orig_key, r AS rank_nano
         FROM r2)
       WHERE rank <= 20 ORDER BY rank""",
    // 2 unrolled LPA rounds; per-node argmax = count desc, min label
    "xg3_label_propagation" ->
      """WITH e AS (
           SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2+1 AS dst
           FROM lineitem
           UNION
           SELECT DISTINCT l_suppkey*2+1 AS src, l_partkey*2 AS dst
           FROM lineitem),
         l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
         c1 AS (SELECT e.dst AS node, l.lbl, count(*) AS n
           FROM e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
         l1 AS (SELECT node, lbl FROM (
             SELECT node, lbl, row_number() OVER (PARTITION BY node
               ORDER BY n DESC, lbl) AS rn FROM c1) WHERE rn = 1),
         c2 AS (SELECT e.dst AS node, l.lbl, count(*) AS n
           FROM e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
         l2 AS (SELECT node, lbl FROM (
             SELECT node, lbl, row_number() OVER (PARTITION BY node
               ORDER BY n DESC, lbl) AS rn FROM c2) WHERE rn = 1)
       SELECT lbl AS community, count(*) AS n_nodes,
         CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_parts,
         min(node) AS min_node
       FROM l2 GROUP BY 1 ORDER BY community""",
    // the same chained first-occurrence mins
    "xq8_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
           FROM events),
         s1 AS (SELECT user_id, min(us) AS s1 FROM e
           WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.us) AS s2 FROM e
           JOIN s1 ON s1.user_id = e.user_id
           WHERE e.event_type = 'click' AND e.us > s1.s1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.us) AS s3 FROM e
           JOIN s2 ON s2.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.us > s2.s2 GROUP BY 1)
       SELECT * FROM (
         SELECT 1 AS step, 'signup' AS step_name,
           count(*) AS n_users FROM s1
         UNION ALL SELECT 2, 'click_after_signup', count(*) FROM s2
         UNION ALL SELECT 3, 'purchase_after_click', count(*) FROM s3)
       ORDER BY step""",
    // mode: count desc then min value; median: (n+1)//2-th by
    // (cents, event_id)
    "xq6_mode_median" ->
      """WITH e AS (SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         cnt AS (SELECT event_type, cents, count(*) AS n
           FROM e GROUP BY 1, 2),
         mode AS (SELECT event_type, cents AS mode_cents,
             n AS mode_count FROM (
             SELECT *, row_number() OVER (PARTITION BY event_type
               ORDER BY n DESC, cents) AS rn FROM cnt) WHERE rn = 1),
         tot AS (SELECT event_type, count(*) AS n_rows
           FROM e GROUP BY 1),
         med AS (SELECT event_type, cents AS median_cents FROM (
             SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY cents, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
             FROM e) WHERE rn = (n + 1) // 2)
       SELECT m.event_type, mode_cents, mode_count, n_rows,
         median_cents
       FROM mode m JOIN tot USING (event_type)
       JOIN med USING (event_type) ORDER BY event_type""",
    // two unrolled peel rounds, k=4, census replay
    "xg4_kcore" ->
      """WITH e0 AS (SELECT DISTINCT l_partkey*2 AS u,
             l_suppkey*2+1 AS v FROM lineitem),
         d1 AS (SELECT n, count(*) AS d FROM (
             SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
           GROUP BY 1),
         k1 AS (SELECT n FROM d1 WHERE d >= 4),
         e1 AS (SELECT e0.u, e0.v FROM e0
           JOIN k1 a ON a.n = e0.u JOIN k1 b ON b.n = e0.v),
         d2 AS (SELECT n, count(*) AS d FROM (
             SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1)
           GROUP BY 1),
         k2 AS (SELECT n FROM d2 WHERE d >= 4),
         e2 AS (SELECT e1.u, e1.v FROM e1
           JOIN k2 a ON a.n = e1.u JOIN k2 b ON b.n = e1.v),
         nodes AS (SELECT DISTINCT n FROM (
             SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2)),
         ne AS (SELECT count(*) AS n_edges FROM e2)
       SELECT n % 2 AS node_type_id, count(*) AS n_nodes, ne.n_edges
       FROM nodes, ne GROUP BY 1, ne.n_edges ORDER BY node_type_id""",
    // exact bigint moment sums; one IEEE double quotient at the end
    "xq5_linear_regression" ->
      """WITH e AS (
           SELECT event_type, epoch_us(ts) AS us,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         base AS (SELECT event_type, min(us) AS us0 FROM e GROUP BY 1),
         xy AS (SELECT e.event_type,
             (e.us - base.us0) // 3600000000 AS x, e.cents AS y
           FROM e JOIN base ON base.event_type = e.event_type),
         m AS (SELECT event_type, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x*y) AS BIGINT) AS sxy,
             CAST(sum(x*x) AS BIGINT) AS sxx
           FROM xy GROUP BY 1)
       SELECT event_type, n, sx, sy, sxy, sxx,
         CAST(floor(CAST(n*sxy - sx*sy AS DOUBLE) * 1000000.0 /
           CAST(nullif(n*sxx - sx*sx, 0) AS DOUBLE)) AS BIGINT)
           AS slope_micro
       FROM m ORDER BY event_type""",
    // Morton interleave replayed as integer div/mod bit extraction:
    // x bits at even positions (weight 4^j), y bits at odd (2*4^j)
    "xq7_zorder_key" ->
      """WITH xy AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
           FROM lineitem),
         z AS (SELECT x, y,
             (x % 2) * 1 + ((x // 2) % 2) * 4 + ((x // 4) % 2) * 16
           + ((x // 8) % 2) * 64 + ((x // 16) % 2) * 256
           + ((x // 32) % 2) * 1024 + ((x // 64) % 2) * 4096
           + ((x // 128) % 2) * 16384 + ((x // 256) % 2) * 65536
           + ((x // 512) % 2) * 262144
           + (y % 2) * 2 + ((y // 2) % 2) * 8 + ((y // 4) % 2) * 32
           + ((y // 8) % 2) * 128 + ((y // 16) % 2) * 512
           + ((y // 32) % 2) * 2048 + ((y // 64) % 2) * 8192
           + ((y // 128) % 2) * 32768 + ((y // 256) % 2) * 131072
           + ((y // 512) % 2) * 524288 AS zv
           FROM xy)
       SELECT zv // 16384 AS z_bucket, count(*) AS n,
         min(x) AS min_x, max(x) AS max_x,
         min(y) AS min_y, max(y) AS max_y
       FROM z GROUP BY 1 ORDER BY z_bucket""",
    // replays the manifest pruning decision from the bucket
    // arithmetic: per-bucket (= per-file, bijection by construction)
    // min/max of x → keep iff [min,max] intersects [100,299] → census
    "xq22_file_pruning" ->
      """WITH xy AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
           FROM lineitem),
         z AS (SELECT x,
             (x % 2) * 1 + ((x // 2) % 2) * 4 + ((x // 4) % 2) * 16
           + ((x // 8) % 2) * 64 + ((x // 16) % 2) * 256
           + ((x // 32) % 2) * 1024 + ((x // 64) % 2) * 4096
           + ((x // 128) % 2) * 16384 + ((x // 256) % 2) * 65536
           + ((x // 512) % 2) * 262144
           + (y % 2) * 2 + ((y // 2) % 2) * 8 + ((y // 4) % 2) * 32
           + ((y // 8) % 2) * 128 + ((y // 16) % 2) * 512
           + ((y // 32) % 2) * 2048 + ((y // 64) % 2) * 8192
           + ((y // 128) % 2) * 32768 + ((y // 256) % 2) * 131072
           + ((y // 512) % 2) * 524288 AS zv
           FROM xy),
         f AS (SELECT zv // 16384 AS z_bucket, count(*) AS rows_in,
             min(x) AS mn, max(x) AS mx
           FROM z GROUP BY 1),
         cls AS (SELECT rows_in,
             (NOT (mx < 100 OR mn > 299)) AS kept FROM f)
         SELECT count(*) AS files_total,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             AS files_read,
           CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
             AS files_skipped,
           CAST(sum(CASE WHEN kept THEN rows_in ELSE 0 END) AS BIGINT)
             AS rows_in_read,
           CAST(sum(CASE WHEN NOT kept THEN rows_in ELSE 0 END)
             AS BIGINT) AS rows_in_skipped,
           (SELECT count(*) FROM z WHERE x BETWEEN 100 AND 299)
             AS rows_matched,
           (SELECT CAST(coalesce(sum(x), 0) AS BIGINT) FROM z
             WHERE x BETWEEN 100 AND 299) AS x_checksum
         FROM cls""",
    // 2-D twin: per-bucket min/max of BOTH dims; kept iff both
    // ranges intersect — the multiplicative Morton-tile prune
    "xq23_file_pruning_2d" ->
      """WITH xy AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
           FROM lineitem),
         z AS (SELECT x, y,
             (x % 2) * 1 + ((x // 2) % 2) * 4 + ((x // 4) % 2) * 16
           + ((x // 8) % 2) * 64 + ((x // 16) % 2) * 256
           + ((x // 32) % 2) * 1024 + ((x // 64) % 2) * 4096
           + ((x // 128) % 2) * 16384 + ((x // 256) % 2) * 65536
           + ((x // 512) % 2) * 262144
           + (y % 2) * 2 + ((y // 2) % 2) * 8 + ((y // 4) % 2) * 32
           + ((y // 8) % 2) * 128 + ((y // 16) % 2) * 512
           + ((y // 32) % 2) * 2048 + ((y // 64) % 2) * 8192
           + ((y // 128) % 2) * 32768 + ((y // 256) % 2) * 131072
           + ((y // 512) % 2) * 524288 AS zv
           FROM xy),
         f AS (SELECT zv // 16384 AS z_bucket, count(*) AS rows_in,
             min(x) AS mnx, max(x) AS mxx,
             min(y) AS mny, max(y) AS mxy
           FROM z GROUP BY 1),
         cls AS (SELECT rows_in,
             (NOT (mxx < 100 OR mnx > 299)
              AND NOT (mxy < 0 OR mny > 199)) AS kept FROM f)
         SELECT count(*) AS files_total,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             AS files_read,
           CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
             AS files_skipped,
           CAST(sum(CASE WHEN kept THEN rows_in ELSE 0 END) AS BIGINT)
             AS rows_in_read,
           CAST(sum(CASE WHEN NOT kept THEN rows_in ELSE 0 END)
             AS BIGINT) AS rows_in_skipped,
           (SELECT count(*) FROM z WHERE x BETWEEN 100 AND 299
             AND y BETWEEN 0 AND 199) AS rows_matched,
           (SELECT CAST(coalesce(sum(x), 0) AS BIGINT) FROM z
             WHERE x BETWEEN 100 AND 299 AND y BETWEEN 0 AND 199)
             AS x_checksum,
           (SELECT CAST(coalesce(sum(y), 0) AS BIGINT) FROM z
             WHERE x BETWEEN 100 AND 299 AND y BETWEEN 0 AND 199)
             AS y_checksum
         FROM cls""",
    // xq22's twin verbatim: both queries read through the same
    // planner-integrated index, deciding from the same per-bucket
    // min/max
    "xq24_planner_pruning" -> plannerPruningOracle,
    // the SAME decision again through the registered format("snapshot")
    // connector (+ time travel past a decoy head, which by
    // construction changes nothing the census can see)
    "xq38_snapshot_source" -> plannerPruningOracle,
    // nested-field pruning replayed closed-form over the flat twin:
    // per-bucket min/max of the struct field decide keep/skip exactly
    // like a top-level column
    "xq40_nested_pruning" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
             o_totalprice AS amount,
             least(CAST(floor(o_totalprice / 50000) AS BIGINT), 7)
               AS bucket
           FROM orders),
         f AS (SELECT bucket, count(*) AS rows_in,
             min(amount) AS mn, max(amount) AS mx
           FROM o GROUP BY 1),
         cls AS (SELECT rows_in,
             (NOT (mx < 60000 OR mn > 119999)) AS kept FROM f)
         SELECT count(*) AS files_total,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             AS files_read,
           CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
             AS files_skipped,
           CAST(sum(CASE WHEN kept THEN rows_in ELSE 0 END) AS BIGINT)
             AS rows_in_read,
           CAST(sum(CASE WHEN NOT kept THEN rows_in ELSE 0 END)
             AS BIGINT) AS rows_in_skipped,
           (SELECT count(*) FROM o
             WHERE amount BETWEEN 60000 AND 119999) AS rows_matched,
           (SELECT CAST(coalesce(sum(k), 0) AS BIGINT) FROM o
             WHERE amount BETWEEN 60000 AND 119999) AS k_checksum
         FROM cls""",
    // merge-on-read vs copy-on-write UPDATE: the post-update content
    // replays closed-form (CASE WHEN pred THEN new ELSE old)
    "xq41_mor_update" ->
      """WITH t AS (SELECT CAST(l_orderkey AS BIGINT) AS k,
             CAST(l_orderkey AS BIGINT) * 3 AS v FROM lineitem),
         u AS (SELECT k,
             CASE WHEN k % 6 = 1 THEN v + 1000 ELSE v END AS v FROM t)
         SELECT
           (SELECT count(*) FROM t WHERE k % 6 = 1) AS rows_updated,
           (SELECT count(*) FROM u) AS rows_mor,
           (SELECT CAST(sum(v) AS BIGINT) FROM u) AS v_checksum_mor,
           (SELECT count(*) FROM u) AS rows_cow,
           (SELECT CAST(sum(v) AS BIGINT) FROM u) AS v_checksum_cow,
           (SELECT count(*) FROM u) AS rows_fold,
           (SELECT CAST(sum(v) AS BIGINT) FROM u) AS v_checksum_fold""",
    // merge-on-read vs copy-on-write DELETE: survivors replay
    // closed-form (NOT pred); the MoR store writes zero data files
    // the SQL maintenance chain replayed closed-form: delete census
    // from the data, version/vacuum counts from the chain's shape
    // (commit → MoR delete → purge → fold = 4 versions, keepLast 1
    // reclaims 3), purge_ok pinned as the constant the statement
    // must report
    "xq44_sql_maintenance" ->
      """WITH base AS (SELECT CAST(l_orderkey AS BIGINT) AS k,
             CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
         live AS (SELECT * FROM base WHERE NOT (k % 7 = 1))
         SELECT
           (SELECT count(*) FROM base WHERE k % 7 = 1) AS del_rows,
           CAST(1 AS BIGINT) AS purge_ok,
           CAST(4 AS BIGINT) AS hist_versions,
           CAST(3 AS BIGINT) AS reclaimed,
           (SELECT count(*) FROM live) AS n_final,
           (SELECT CAST(sum(qty) AS BIGINT) FROM live) AS qty_sum""",
    // the SQL INSERT chain replayed as set algebra: append ∪
    // column-list append (NULL-filled) → overwrite filter
    "xq45_sql_insert" ->
      """WITH base AS (SELECT CAST(l_orderkey AS BIGINT) AS k,
             CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
         ins1 AS (SELECT k + 10000000 AS k, qty + 1 AS qty
             FROM base WHERE k % 9 = 4),
         ins2 AS (SELECT CAST(NULL AS BIGINT) AS k,
               CAST(777 AS BIGINT) AS qty
             UNION ALL SELECT CAST(NULL AS BIGINT),
               CAST(778 AS BIGINT)),
         t3 AS (SELECT * FROM base UNION ALL SELECT * FROM ins1
             UNION ALL SELECT * FROM ins2),
         fin AS (SELECT * FROM t3
             WHERE qty % 2 = 0 AND k IS NOT NULL)
         SELECT
           (SELECT count(*) FROM ins1) AS ins_rows,
           CAST(2 AS BIGINT) AS collist_rows,
           (SELECT count(*) FROM fin) AS ovr_rows,
           CAST(4 AS BIGINT) AS hist_versions,
           (SELECT count(*) FROM fin) AS n_final,
           (SELECT CAST(sum(qty) AS BIGINT) FROM fin) AS qty_sum""",
    // the general-MERGE chain replayed as joins + set algebra:
    // first-match-wins clause routing (delete beats update), a
    // conditional partial INSERT, then a NOT-MATCHED-BY-SOURCE
    // conditional delete
    "xq46_sql_merge_full" ->
      """WITH base AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
             CAST(o_custkey AS BIGINT) AS qty FROM orders),
         src1 AS (SELECT CAST(o_orderkey AS BIGINT) AS id,
               CAST(o_orderkey % 10 AS BIGINT) AS amt
             FROM orders WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT CAST(o_orderkey + 900000000 AS BIGINT),
               CAST(o_orderkey % 10 AS BIGINT)
             FROM orders WHERE o_orderkey % 13 = 0),
         del1 AS (SELECT b.k FROM base b JOIN src1 s ON b.k = s.id
             WHERE s.amt < 3),
         upd1 AS (SELECT b.k, s.amt FROM base b
             JOIN src1 s ON b.k = s.id
             WHERE s.amt >= 3 AND s.amt < 8),
         ins1 AS (SELECT s.id AS k, s.amt AS qty FROM src1 s
             LEFT JOIN base b ON b.k = s.id
             WHERE b.k IS NULL AND s.amt >= 5),
         t1 AS (SELECT b.k,
               CASE WHEN u.k IS NOT NULL THEN b.qty + u.amt
                    ELSE b.qty END AS qty
             FROM base b LEFT JOIN upd1 u ON b.k = u.k
             WHERE b.k NOT IN (SELECT k FROM del1)
           UNION ALL SELECT k, qty FROM ins1),
         m2src AS (SELECT CAST(o_orderkey AS BIGINT) AS id
             FROM orders WHERE o_orderkey % 2 = 0),
         del2 AS (SELECT t.k FROM t1 t
             LEFT JOIN m2src s ON t.k = s.id
             WHERE s.id IS NULL AND t.k < 900000000),
         t2 AS (SELECT * FROM t1
             WHERE k NOT IN (SELECT k FROM del2))
         SELECT
           (SELECT count(*) FROM del1) + (SELECT count(*) FROM upd1)
             + (SELECT count(*) FROM ins1) AS m1_rows,
           (SELECT count(*) FROM del2) AS m2_rows,
           (SELECT count(*) FROM t2) AS n_final,
           (SELECT CAST(sum(qty) AS BIGINT) FROM t2) AS qty_sum""",
    // deletion-vector statement chain replayed closed-form; the
    // flatness invariant (a point delete never pays for accumulated
    // tombstones) is Spark-measured and pinned as the constant 1
    "xq43_dv_census" ->
      """WITH base AS (SELECT CAST(l_orderkey AS BIGINT) AS k,
             CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
         afterbig AS (SELECT * FROM base WHERE NOT (k % 3 = 0)),
         am AS (SELECT * FROM afterbig
             WHERE k NOT IN (1, 2, 5, 7, 11))
         SELECT
           (SELECT count(*) FROM base WHERE k % 3 = 0) AS big_rows,
           (SELECT count(*) FROM afterbig
              WHERE k IN (1, 2, 5, 7, 11)) AS small_rows,
           (SELECT count(*) FROM base WHERE k % 3 = 0) +
             (SELECT count(*) FROM afterbig
                WHERE k IN (1, 2, 5, 7, 11)) AS tombstones_total,
           (SELECT count(*) FROM am) AS n_final,
           (SELECT CAST(sum(qty) AS BIGINT) FROM am) AS qty_sum,
           CAST(1 AS BIGINT) AS cost_flat,
           CAST(1 AS BIGINT) AS routed""",
    // the SQL-DML statement chain replayed as set algebra: delete →
    // update → full-row upsert merge (matched keys replaced whole,
    // unmatched inserted), plus the MoR twin's delete census
    "xq42_sql_dml" ->
      """WITH base AS (SELECT CAST(l_orderkey AS BIGINT) AS k,
             CAST(l_orderkey % 8 AS BIGINT) AS bucket,
             CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
         afterdel AS (SELECT * FROM base WHERE NOT (k % 7 = 2)),
         afterupd AS (SELECT k, bucket,
             CASE WHEN k % 5 = 0 THEN qty + 100 ELSE qty END AS qty
           FROM afterdel),
         sk AS (SELECT DISTINCT k FROM base WHERE k % 11 = 3),
         src AS (SELECT k, CAST(k % 8 AS BIGINT) AS bucket,
             CAST(777 AS BIGINT) AS qty FROM sk
           UNION ALL
           SELECT k + 10000000, CAST((k + 10000000) % 8 AS BIGINT),
             CAST(777 AS BIGINT) FROM sk),
         am AS (SELECT * FROM afterupd
             WHERE k NOT IN (SELECT k FROM src)
           UNION ALL SELECT * FROM src)
         SELECT
           (SELECT count(*) FROM base WHERE k % 7 = 2) AS del_rows,
           (SELECT count(*) FROM afterdel WHERE k % 5 = 0) AS upd_rows,
           (SELECT count(*) FROM src) AS merge_rows,
           (SELECT count(*) FROM am) AS n_final,
           (SELECT CAST(sum(qty) AS BIGINT) FROM am) AS qty_sum,
           (SELECT CAST(sum(k) AS BIGINT) FROM am) AS k_sum,
           (SELECT count(*) FROM am WHERE qty = 777) AS n_merged,
           (SELECT count(*) FROM base WHERE k % 7 = 2) AS mor_del_rows,
           (SELECT count(*) FROM afterdel) AS n_mor,
           CAST(1 AS BIGINT) AS mor_head""",
    "xq39_mor_delete" ->
      """WITH t AS (SELECT CAST(l_orderkey AS BIGINT) AS k,
             l_orderkey % 8 AS bucket FROM lineitem),
         d AS (SELECT k FROM t WHERE NOT (k % 7 = 2))
         SELECT (SELECT count(*) FROM t) AS n_v1,
           (SELECT count(*) FROM t WHERE k % 7 = 2) AS tombstones_added,
           (SELECT count(DISTINCT bucket) FROM t) AS files_referenced,
           CAST(0 AS BIGINT) AS mor_local_files,
           (SELECT count(*) FROM d) AS rows_mor,
           (SELECT CAST(sum(k) AS BIGINT) FROM d) AS k_checksum_mor,
           (SELECT count(*) FROM d) AS rows_cow,
           (SELECT CAST(sum(k) AS BIGINT) FROM d) AS k_checksum_cow,
           (SELECT count(*) FROM d) AS rows_fold,
           (SELECT CAST(sum(k) AS BIGINT) FROM d) AS k_checksum_fold""",
    // conformance replayed with explicit NULL projections: v1 never
    // had status/clerk, v2 never had clerk — the conformed reads must
    // census exactly these shapes
    "xq25_schema_evolution" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
             o_orderstatus AS status, o_orderpriority AS clerk FROM orders)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS version, count(*) AS n,
             CAST(0 AS BIGINT) AS n_status, CAST(0 AS BIGINT) AS n_clerk,
             CAST(sum(k) AS BIGINT) AS k_sum FROM o
           UNION ALL
           SELECT CAST(2 AS BIGINT), count(*), count(status),
             CAST(0 AS BIGINT), CAST(sum(k) AS BIGINT) FROM o
           UNION ALL
           SELECT CAST(3 AS BIGINT), count(*), count(status),
             count(clerk), CAST(sum(k) AS BIGINT) FROM o
         ) ORDER BY version""",
    // the bloom decision replayed bit-for-bit: kept iff every seed's
    // probe bit is shared by some value in the bucket (m=1024, k=4,
    // the md5-60 arithmetic the sketch family already uses)
    "xq26_bloom_lookup" ->
      """WITH xy AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
           FROM lineitem),
         z AS (SELECT x, y,
             (x % 2) * 1 + ((x // 2) % 2) * 4 + ((x // 4) % 2) * 16
           + ((x // 8) % 2) * 64 + ((x // 16) % 2) * 256
           + ((x // 32) % 2) * 1024 + ((x // 64) % 2) * 4096
           + ((x // 128) % 2) * 16384 + ((x // 256) % 2) * 65536
           + ((x // 512) % 2) * 262144
           + (y % 2) * 2 + ((y // 2) % 2) * 8 + ((y // 4) % 2) * 32
           + ((y // 8) % 2) * 128 + ((y // 16) % 2) * 512
           + ((y // 32) % 2) * 2048 + ((y // 64) % 2) * 8192
           + ((y // 128) % 2) * 32768 + ((y // 256) % 2) * 131072
           + ((y // 512) % 2) * 524288 AS zv
           FROM xy),
         zb AS (SELECT x, y, zv // 16384 AS z_bucket FROM z),
         seeds(i) AS (VALUES (1), (2), (3), (4)),
         probe AS (
           SELECT i,
             (('0x' || substr(md5('bf' || CAST(i AS VARCHAR) || ':137'),
               1, 15))::BIGINT) % 1024 AS pb
           FROM seeds),
         hits AS (
           SELECT zb.z_bucket, p.i
           FROM zb JOIN probe p
             ON (('0x' || substr(md5('bf' || CAST(p.i AS VARCHAR) || ':'
               || CAST(zb.x AS VARCHAR)), 1, 15))::BIGINT) % 1024 = p.pb
           GROUP BY 1, 2),
         kept AS (
           SELECT z_bucket FROM hits GROUP BY 1 HAVING count(*) = 4),
         f AS (SELECT z_bucket, count(*) AS rows_in FROM zb GROUP BY 1),
         cls AS (SELECT rows_in,
             z_bucket IN (SELECT z_bucket FROM kept) AS k FROM f)
         SELECT count(*) AS files_total,
           CAST(sum(CASE WHEN k THEN 1 ELSE 0 END) AS BIGINT)
             AS files_read,
           CAST(sum(CASE WHEN NOT k THEN 1 ELSE 0 END) AS BIGINT)
             AS files_skipped,
           CAST(sum(CASE WHEN k THEN rows_in ELSE 0 END) AS BIGINT)
             AS rows_in_read,
           CAST(sum(CASE WHEN NOT k THEN rows_in ELSE 0 END)
             AS BIGINT) AS rows_in_skipped,
           (SELECT count(*) FROM zb WHERE x = 137) AS rows_matched,
           (SELECT CAST(coalesce(sum(y), 0) AS BIGINT) FROM zb
             WHERE x = 137) AS y_checksum
         FROM cls""",
    // the row semantics of delete-then-update as plain algebra;
    // NULL predicates keep rows (SQL DELETE), but k is non-null here
    "xq27_cow_dml" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
             o_orderstatus AS status FROM orders),
         d AS (SELECT * FROM o WHERE NOT (k <= 1000)),
         u AS (SELECT k,
             CASE WHEN k <= 2000 THEN 'X' ELSE status END AS status
           FROM d)
         SELECT
           (SELECT count(*) FROM o) AS rows_before,
           (SELECT count(*) FROM o WHERE k <= 1000) AS rows_deleted,
           (SELECT count(*) FROM d WHERE k <= 2000) AS rows_updated,
           (SELECT count(*) FROM u) AS rows_after,
           (SELECT CAST(coalesce(sum(k), 0) AS BIGINT) FROM u)
             AS k_sum_after,
           (SELECT count(*) FROM u WHERE status = 'X') AS n_flagged""",
    // merge row semantics as NOT-IN + UNION ALL (k is non-null and
    // unique in orders, so NOT IN is safe and the replace is 1:1)
    "xq28_cow_merge" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
             o_orderstatus AS status FROM orders),
         src AS (
           SELECT k, 'M' AS status FROM o WHERE k <= 1500
           UNION ALL
           SELECT k + 10000000, 'N' FROM o WHERE k <= 500),
         merged AS (
           SELECT * FROM o WHERE k NOT IN (SELECT k FROM src)
           UNION ALL SELECT * FROM src)
         SELECT
           (SELECT count(*) FROM o) AS rows_before,
           (SELECT count(*) FROM src) AS rows_merged,
           (SELECT count(*) FROM merged) AS rows_after,
           (SELECT CAST(coalesce(sum(k), 0) AS BIGINT) FROM merged)
             AS k_sum_after,
           (SELECT count(*) FROM merged WHERE status = 'M')
             AS n_updated,
           (SELECT count(*) FROM merged WHERE status = 'N')
             AS n_inserted""",
    // count/min/max recomputed by brute force; metadata_only is the
    // pinned claim that the Spark side answered WITHOUT a scan
    "xq29_stats_agg" ->
      """SELECT count(*) AS n,
           CAST(min(o_orderkey) AS BIGINT) AS k_min,
           CAST(max(o_orderkey) AS BIGINT) AS k_max,
           CAST(min(o_custkey) AS BIGINT) AS c_min,
           CAST(max(o_custkey) AS BIGINT) AS c_max,
           CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS d_min,
           CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS d_max,
           CAST(1 AS BIGINT) AS metadata_only
         FROM orders""",
    // before: per-h (scattered) min/max of x — every file intersects;
    // after: xq22's Morton-tile arithmetic over 16384-wide z-buckets;
    // rows/checksum prove the rewrite is layout-only
    "xq30_optimize_cluster" ->
      """WITH xy AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y,
             l_orderkey % 8 AS h FROM lineitem),
         fb AS (SELECT h, min(x) AS mn, max(x) AS mx FROM xy GROUP BY 1),
         clb AS (SELECT (NOT (mx < 100 OR mn > 299)) AS kept FROM fb),
         z AS (SELECT x,
             (x % 2) * 1 + ((x // 2) % 2) * 4 + ((x // 4) % 2) * 16
           + ((x // 8) % 2) * 64 + ((x // 16) % 2) * 256
           + ((x // 32) % 2) * 1024 + ((x // 64) % 2) * 4096
           + ((x // 128) % 2) * 16384 + ((x // 256) % 2) * 65536
           + ((x // 512) % 2) * 262144
           + (y % 2) * 2 + ((y // 2) % 2) * 8 + ((y // 4) % 2) * 32
           + ((y // 8) % 2) * 128 + ((y // 16) % 2) * 512
           + ((y // 32) % 2) * 2048 + ((y // 64) % 2) * 8192
           + ((y // 128) % 2) * 32768 + ((y // 256) % 2) * 131072
           + ((y // 512) % 2) * 524288 AS zv
           FROM xy),
         fa AS (SELECT zv // 16384 AS zb, count(*) AS rows_in,
             min(x) AS mn, max(x) AS mx FROM z GROUP BY 1),
         cla AS (SELECT rows_in,
             (NOT (mx < 100 OR mn > 299)) AS kept FROM fa)
         SELECT
           (SELECT count(*) FROM fb) AS files_total_before,
           (SELECT CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             FROM clb) AS files_read_before,
           (SELECT count(*) FROM fa) AS files_total_after,
           (SELECT CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             FROM cla) AS files_read_after,
           (SELECT CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END)
             AS BIGINT) FROM cla) AS files_skipped_after,
           (SELECT count(*) FROM xy) AS rows_total,
           (SELECT count(*) FROM xy WHERE x BETWEEN 100 AND 299)
             AS rows_matched_before,
           (SELECT count(*) FROM xy WHERE x BETWEEN 100 AND 299)
             AS rows_matched_after,
           (SELECT CAST(coalesce(sum(x), 0) AS BIGINT) FROM xy
             WHERE x BETWEEN 100 AND 299) AS x_checksum""",
    // per-partition brute force; metadata_only pins the no-scan claim
    "xq32_partition_stats_agg" ->
      """SELECT CAST(o_orderkey % 5 AS BIGINT) AS h,
           count(*) AS n,
           CAST(min(o_orderkey) AS BIGINT) AS k_min,
           CAST(max(o_orderkey) AS BIGINT) AS k_max,
           CAST(1 AS BIGINT) AS metadata_only
         FROM orders GROUP BY 1 ORDER BY 1""",
    // 3-D Morton tiles: per-bucket min/max on ALL THREE dims; kept
    // iff every range intersects — the multiplicative 3-way prune
    "xq37_file_pruning_3d" ->
      """WITH xyw AS (SELECT l_partkey % 128 AS x, l_suppkey % 128 AS y,
             l_orderkey % 128 AS w FROM lineitem),
         z AS (SELECT x, y, w,
             (x % 2) * 1 + ((x // 2) % 2) * 8 + ((x // 4) % 2) * 64
           + ((x // 8) % 2) * 512 + ((x // 16) % 2) * 4096
           + ((x // 32) % 2) * 32768 + ((x // 64) % 2) * 262144
           + (y % 2) * 2 + ((y // 2) % 2) * 16 + ((y // 4) % 2) * 128
           + ((y // 8) % 2) * 1024 + ((y // 16) % 2) * 8192
           + ((y // 32) % 2) * 65536 + ((y // 64) % 2) * 524288
           + (w % 2) * 4 + ((w // 2) % 2) * 32 + ((w // 4) % 2) * 256
           + ((w // 8) % 2) * 2048 + ((w // 16) % 2) * 16384
           + ((w // 32) % 2) * 131072 + ((w // 64) % 2) * 1048576
           AS zv
           FROM xyw),
         f AS (SELECT zv // 32768 AS zb, count(*) AS rows_in,
             min(x) AS mnx, max(x) AS mxx, min(y) AS mny,
             max(y) AS mxy, min(w) AS mnw, max(w) AS mxw
           FROM z GROUP BY 1),
         cls AS (SELECT rows_in,
             (NOT (mxx < 10 OR mnx > 49)) AND
             (NOT (mxy < 30 OR mny > 89)) AND
             (NOT (mxw < 0 OR mnw > 63)) AS kept FROM f)
         SELECT count(*) AS files_total,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             AS files_read,
           CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
             AS files_skipped,
           CAST(sum(CASE WHEN kept THEN rows_in ELSE 0 END) AS BIGINT)
             AS rows_in_read,
           CAST(sum(CASE WHEN NOT kept THEN rows_in ELSE 0 END)
             AS BIGINT) AS rows_in_skipped,
           (SELECT count(*) FROM z WHERE x BETWEEN 10 AND 49
             AND y BETWEEN 30 AND 89 AND w BETWEEN 0 AND 63)
             AS rows_matched,
           (SELECT CAST(coalesce(sum(x), 0) AS BIGINT) FROM z
             WHERE x BETWEEN 10 AND 49 AND y BETWEEN 30 AND 89
             AND w BETWEEN 0 AND 63) AS x_checksum,
           (SELECT CAST(coalesce(sum(y), 0) AS BIGINT) FROM z
             WHERE x BETWEEN 10 AND 49 AND y BETWEEN 30 AND 89
             AND w BETWEEN 0 AND 63) AS y_checksum,
           (SELECT CAST(coalesce(sum(w), 0) AS BIGINT) FROM z
             WHERE x BETWEEN 10 AND 49 AND y BETWEEN 30 AND 89
             AND w BETWEEN 0 AND 63) AS w_checksum
         FROM cls""",
    // same md5-60 shard/order hashes, same rank, same fingerprint
    "xq36_shuffle_shards" ->
      """WITH d AS (SELECT doc_id,
             (('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
               1, 15))::BIGINT) % 8 AS shard,
             ('0x' || substr(md5('shard:o:' || CAST(doc_id AS VARCHAR)),
               1, 15))::BIGINT AS ord
           FROM documents),
         r AS (SELECT doc_id, shard, ord,
             row_number() OVER (PARTITION BY shard
               ORDER BY ord, doc_id) AS rn
           FROM d)
         SELECT CAST(shard AS BIGINT) AS "_shard",
           count(*) AS n,
           CAST(sum(rn * (ord % 997)) AS BIGINT) AS order_fp,
           CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum
         FROM r GROUP BY 1 ORDER BY 1""",
    // brute-force filtered count/min/max; metadata_only pins no-scan
    "xq35_filtered_meta" ->
      """SELECT count(*) AS n,
           CAST(min(o_orderkey) AS BIGINT) AS k_min,
           CAST(max(o_orderkey) AS BIGINT) AS k_max,
           CAST(1 AS BIGINT) AS metadata_only
         FROM orders WHERE o_orderkey % 5 IN (1, 3)""",
    // per (bucket, key): range test on bucket min/max AND 4-seed
    // md5-60 bloom admit; bucket kept iff ANY dim key passes both
    "xq34_join_pruning" ->
      """WITH xy AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
           FROM lineitem),
         z AS (SELECT x, y,
             (x % 2) * 1 + ((x // 2) % 2) * 4 + ((x // 4) % 2) * 16
           + ((x // 8) % 2) * 64 + ((x // 16) % 2) * 256
           + ((x // 32) % 2) * 1024 + ((x // 64) % 2) * 4096
           + ((x // 128) % 2) * 16384 + ((x // 256) % 2) * 65536
           + ((x // 512) % 2) * 262144
           + (y % 2) * 2 + ((y // 2) % 2) * 8 + ((y // 4) % 2) * 32
           + ((y // 8) % 2) * 128 + ((y // 16) % 2) * 512
           + ((y // 32) % 2) * 2048 + ((y // 64) % 2) * 8192
           + ((y // 128) % 2) * 32768 + ((y // 256) % 2) * 131072
           + ((y // 512) % 2) * 524288 AS zv
           FROM xy),
         zb AS (SELECT x, y, zv // 16384 AS z_bucket FROM z),
         dim AS (SELECT DISTINCT p_partkey % 1024 AS x FROM part
           WHERE p_partkey % 389 = 0),
         f AS (SELECT z_bucket, count(*) AS rows_in,
             min(x) AS mn, max(x) AS mx FROM zb GROUP BY 1),
         seeds(i) AS (VALUES (1), (2), (3), (4)),
         probe AS (SELECT d.x AS kx, i,
             (('0x' || substr(md5('bf' || CAST(i AS VARCHAR) || ':'
               || CAST(d.x AS VARCHAR)), 1, 15))::BIGINT) % 1024 AS pb
           FROM dim d, seeds),
         hits AS (SELECT zb.z_bucket, p.kx, p.i
           FROM zb JOIN probe p
             ON (('0x' || substr(md5('bf' || CAST(p.i AS VARCHAR) || ':'
               || CAST(zb.x AS VARCHAR)), 1, 15))::BIGINT) % 1024 = p.pb
           GROUP BY 1, 2, 3),
         admit AS (SELECT z_bucket, kx FROM hits
           GROUP BY 1, 2 HAVING count(*) = 4),
         keptb AS (SELECT DISTINCT a.z_bucket FROM admit a
           JOIN f ON f.z_bucket = a.z_bucket
           WHERE a.kx BETWEEN f.mn AND f.mx),
         cls AS (SELECT f.rows_in,
             f.z_bucket IN (SELECT z_bucket FROM keptb) AS kept FROM f)
         SELECT count(*) AS files_total,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             AS files_read,
           CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
             AS files_skipped,
           CAST(sum(CASE WHEN kept THEN rows_in ELSE 0 END) AS BIGINT)
             AS rows_in_read,
           CAST(sum(CASE WHEN NOT kept THEN rows_in ELSE 0 END)
             AS BIGINT) AS rows_in_skipped,
           (SELECT count(*) FROM zb JOIN dim USING (x))
             AS rows_matched,
           (SELECT CAST(coalesce(sum(y), 0) AS BIGINT)
             FROM zb JOIN dim USING (x)) AS y_checksum
         FROM cls""",
    // quartile buckets on k (lowest quartile all-null in v); the
    // IsNotNull census counts nn=0 files, the top-k census replays
    // the guaranteed-beat rule, the top-100 sum is order-free
    "xq33_null_stats" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
         tot AS (SELECT count(*) AS n FROM o),
         bk AS (SELECT k, (k * 4) // (SELECT n + 1 FROM tot) AS b
           FROM o),
         vv AS (SELECT k, b, CASE WHEN b <> 0 THEN k END AS v FROM bk),
         f AS (SELECT b, count(*) AS rows_in, count(v) AS nn,
             min(v) AS mn, max(v) AS mx FROM vv GROUP BY 1),
         topsel AS (SELECT f.b, f.nn, f.mx,
             (SELECT coalesce(sum(g.nn), 0) FROM f g
               WHERE g.mn > f.mx) AS beat FROM f)
         SELECT
           (SELECT count(*) FROM vv) AS n,
           (SELECT count(v) FROM vv) AS nv,
           CAST(1 AS BIGINT) AS metadata_only,
           (SELECT count(*) FROM vv WHERE v IS NOT NULL)
             AS notnull_rows,
           (SELECT count(*) FROM f WHERE nn = 0)
             AS notnull_files_skipped,
           (SELECT count(*) FROM topsel WHERE beat < 100)
             AS topk_files_read,
           (SELECT count(*) FROM topsel WHERE beat >= 100)
             AS topk_files_skipped,
           (SELECT CAST(coalesce(sum(v), 0) AS BIGINT) FROM
             (SELECT v FROM vv WHERE v IS NOT NULL
               ORDER BY v DESC LIMIT 100)) AS topk_sum""",
    // each mirrored batch = one k%3 class filtered to status 'O';
    // destination version v holds source version v's batch
    "xq31_change_feed_mirror" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
             o_orderstatus AS status FROM orders)
         SELECT CAST(k % 3 + 1 AS BIGINT) AS version,
           count(*) AS n,
           CAST(coalesce(sum(k), 0) AS BIGINT) AS k_sum
         FROM o WHERE status = 'O'
         GROUP BY 1 ORDER BY 1""",
    // id-ordered naive 3-way join — each triangle once as a < b < c;
    // the degree-oriented Spark plan must count identically
    "xg2_triangle_count" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
           WHERE l_orderkey % 4 = 0),
       e0 AS (SELECT DISTINCT a.l_partkey AS u,
           b.l_partkey AS v
         FROM li a JOIN li b
           ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey),
       t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         FROM e0 e1 JOIN e0 e2 ON e2.u = e1.v
         JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v),
       pn AS (SELECT node AS partkey, count(*) AS n_tri FROM (
           SELECT unnest([a, b, c]) AS node FROM t) GROUP BY 1),
       tot AS (SELECT count(*) AS total_triangles FROM t),
       ne AS (SELECT count(*) AS n_edges FROM e0)
       SELECT row_number() OVER (ORDER BY n_tri DESC, partkey)
           AS rank,
         partkey, n_tri, total_triangles, n_edges
       FROM pn, tot, ne
       ORDER BY n_tri DESC, partkey LIMIT 10""",
    "xj4_range_join" ->
      """SELECT o_orderkey, count(*) AS n_pts,
         round(sum(l_quantity), 2) AS sum_qty
         FROM orders o JOIN lineitem l
           ON l.l_shipdate >= o.o_orderdate
           AND l.l_shipdate <= o.o_orderdate
             + to_days(CAST(o.o_orderkey % 30 + 1 AS INT))
         WHERE o.o_orderkey < 100
         GROUP BY o_orderkey ORDER BY o_orderkey""",
    "xq2_sequence_similarity" ->
      """WITH s AS (SELECT user_id,
           string_agg(substr(event_type, 1, 1), ''
             ORDER BY epoch_us(ts), event_id) AS seq
         FROM events WHERE user_id < 100 GROUP BY user_id)
       SELECT user_a, user_b, d, rank FROM (
         SELECT a.user_id AS user_a, b.user_id AS user_b,
           levenshtein(a.seq, b.seq)::BIGINT AS d,
           row_number() OVER (ORDER BY levenshtein(a.seq, b.seq),
             a.user_id, b.user_id) AS rank
         FROM s a JOIN s b ON a.user_id < b.user_id)
       WHERE rank <= 10 ORDER BY rank""",
    "xq21_sequence_similarity_full" ->
      """WITH s AS (SELECT user_id,
           string_agg(substr(event_type, 1, 1), ''
             ORDER BY epoch_us(ts), event_id) AS seq
         FROM events GROUP BY user_id),
       c AS (SELECT a.user_id AS ua, b.user_id AS ub,
           levenshtein(a.seq, b.seq) AS d
         FROM s a JOIN s b
           ON substr(a.seq, 1, 2) = substr(b.seq, 1, 2)
           AND a.user_id < b.user_id
           AND abs(len(a.seq) - len(b.seq)) <= 10)
       SELECT count(*) AS n_candidates,
         CAST(coalesce(sum(CASE WHEN d <= 25 THEN 1 END), 0) AS BIGINT)
           AS n_within,
         CAST(coalesce(sum(CASE WHEN d <= 25
           THEN ua * 1000003::BIGINT + ub END), 0) AS BIGINT)
           AS key_sum,
         CAST(coalesce(sum(least(d, 26)), 0) AS BIGINT)
           AS dist_capped_sum
       FROM c""",
    // the oracle is the DEFINITION of dominance, not the rewrite
    "xq1_skyline" ->
      """SELECT p_partkey, p_retailprice AS price,
         CAST(p_size AS BIGINT) AS size
         FROM part p
         WHERE NOT EXISTS (
           SELECT 1 FROM part q
           WHERE q.p_retailprice <= p.p_retailprice
             AND q.p_size >= p.p_size
             AND (q.p_retailprice < p.p_retailprice
               OR q.p_size > p.p_size))
         ORDER BY p_partkey""",
    "xa2_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows,
         GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag NULLS FIRST,
           l_linestatus NULLS FIRST""",
    "xa3_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows,
         GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         ORDER BY gid, l_returnflag NULLS FIRST,
           l_linestatus NULLS FIRST""",
    "xa5_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, val FROM (
           SELECT l_orderkey, l_linenumber,
             l_quantity AS quantity,
             l_extendedprice AS extendedprice,
             l_discount AS discount
           FROM lineitem WHERE l_orderkey < 100)
         UNPIVOT (val FOR measure IN (quantity, extendedprice,
           discount))
         ORDER BY l_orderkey, l_linenumber, measure""",
    "xa4_cube" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows,
         GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag NULLS FIRST,
           l_linestatus NULLS FIRST""",
    "xa1_group_concat_udaf" ->
      """SELECT o_custkey,
         string_agg(CAST(o_orderkey AS VARCHAR), ', '
           ORDER BY CAST(o_orderdate AS VARCHAR) || '|' ||
             lpad(CAST(o_orderkey AS VARCHAR), 10, '0')) AS order_history
         FROM orders GROUP BY o_custkey ORDER BY o_custkey"""
  )
}
