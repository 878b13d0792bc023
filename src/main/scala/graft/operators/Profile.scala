package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column profiling — the stats sweep a lake runs on arrival
  * (catalog min/max, null fractions, cardinalities): ONE aggregation
  * job computes every column's census, including the row count; the
  * per-column rows are then unpivoted driver-side from that single
  * result row (O(#cols), not O(rows)). Exact `countDistinct` is used
  * deliberately — Spark plans the multi-distinct aggregate via
  * Expand, one pass — with the HLL sketch (xs1/xs6) as the
  * documented approximate path when #cols × cardinality makes exact
  * counting the bottleneck. Min/max ride as strings so one schema
  * serves every column type; the CAST-to-string happens AFTER the
  * typed MIN/MAX, so the ordering is the source type's (profile
  * min/max are typed extremes, rendered as text).
  *
  * `approx = true` swaps exact `countDistinct` for
  * `approx_count_distinct` (HyperLogLog++, default rsd 5%): the
  * multi-distinct Expand duplicates every input row once per
  * distinct-counted column, so a 500-column profile pays 500× the
  * scan in shuffle volume — the sketch path keeps the job a single
  * no-Expand partial-aggregate pass regardless of width. Use exact
  * for narrow catalogs, approx for wide-table arrival sweeps.
  */
object Profile {

  def profile(df: DataFrame, cols: Seq[String],
      approx: Boolean = false, rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val distinctAgg: String => org.apache.spark.sql.Column =
      if (approx) c => approx_count_distinct(col(c), rsd)
      else c => countDistinct(col(c))
    // The census is TWO global aggregates over ONE shared exchange
    // (ReuseExchange collapses the identical fan-out subtrees, so the
    // input is still scanned once), not one fused aggregate: fusing
    // them rides the plain aggs' buffers on the multi-distinct
    // Expand's partial aggregate, and a string column's min/max
    // buffer is not UnsafeRow-mutable — the whole partial aggregate
    // (over the #cols×-expanded frame) degrades to SortAggregate
    // (measured: 27 s of CPU sorting the 5×-expanded lineitem census
    // at sf0.1). Split, the distinct branch's buffers are pure counts
    // (HashAggregate, no sort) and the plain branch is a single-group
    // fold (grouping-free SortAggregate sorts nothing).
    val plainAggs = count(lit(1)).as("__total") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val distinctAggs = cols.map(c => distinctAgg(c).as(s"__nd_$c"))
    // The multi-distinct plan Expands every row once per counted
    // column BEFORE the partial aggregate, and that Expand fuses into
    // the scan stage — over a narrow (few single-row-group files)
    // input the whole #cols× blow-up runs at file parallelism
    // (measured: one 6.1 s task carrying a 4-column lineitem profile
    // at sf0.1/local[32]). Fan out first — projected to the profiled
    // columns so the exchange carries only what the census needs —
    // a no-op at scale where the scan is already wide, and on a
    // joined/aggregated frame (fanOut's scan-shape guard).
    val fanned = Parallelism.fanOut(df.select(cols.map(col): _*))
    val row = fanned.agg(plainAggs.head, plainAggs.tail: _*)
      .crossJoin(fanned.agg(distinctAggs.head, distinctAggs.tail: _*))
      .collect()(0)
    val total = row.getAs[Long]("__total")
    val out = cols.map { c =>
      (c, total, total - row.getAs[Long](s"__nn_$c"),
        row.getAs[Long](s"__nd_$c"),
        row.getAs[String](s"__mn_$c"), row.getAs[String](s"__mx_$c"))
    }
    val spark = df.sparkSession
    import spark.implicits._
    out.toDF("column", "n_rows", "n_null", "n_distinct",
      "min_val", "max_val")
  }

  /** Top-k most frequent values per column (the other half of a
    * profile card: what the column actually CONTAINS, which min/max
    * and cardinality can't show). One unpivot scan (explode of a
    * #cols-entry map — rows × #cols, the unavoidable unpivot cost) →
    * (column, value) counts with map-side combine → per-column top-k
    * over the POST-AGG frame, where WindowGroupLimit prunes to ≤k
    * rows per column before the final shuffle. Values ride as
    * strings (one schema for every column type, same as profile);
    * nulls are excluded — the null census is [[profile]]'s job. Ties
    * break on the value string, so the result is deterministic.
    */
  def topValues(df: DataFrame, cols: Seq[String], k: Int = 3)
      : DataFrame = {
    require(cols.nonEmpty && k >= 1, "need columns and k >= 1")
    val kv = cols.flatMap(c => Seq(lit(c), col(c).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("column"))
      .orderBy(col("n").desc, col("value"))
    df.select(explode(map(kv: _*)).as(Seq("column", "value")))
      .filter(col("value").isNotNull)
      .groupBy(col("column"), col("value"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("column"), col("rk"), col("value"), col("n"))
  }
}
