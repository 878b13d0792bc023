package perfbench

import graft.model.JobcanSchemas
import graft.normalize.NormalizeTables
import graft.views.Views
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Correctness checks of an integrator state against the generator.
  * Each returns the list of problems found; empty means it passed. */
object Gates {

  def silver(spark: SparkSession, state: String): Map[String, DataFrame] =
    NormalizeTables.all.flatMap(n =>
      graft.operators.ParquetMerge.read(spark, s"$state/silver/$n").map(n -> _)).toMap

  /** Every silver table holds exactly the rows the generator expects. */
  def rowCounts(t: Map[String, DataFrame], api: ApiState): Seq[String] =
    api.expectedCounts.toSeq.sortBy(_._1).flatMap { case (table, want) =>
      val got = t.get(table).map(_.count()).getOrElse(0L)
      if (got == want) None else Some(s"$table: $got rows, expected $want")
    }

  /** The generated documents in the JSON form the read path emits. */
  private def canonical(spark: SparkSession, docs: Seq[String],
      schema: StructType): DataFrame = {
    import spark.implicits._
    spark.createDataset(docs).select(from_json(col("value"), schema).as("d"))
      .select(col("d.*"))
  }

  private def diff(expected: DataFrame, actual: DataFrame, keys: Seq[String]): Long =
    expected.withColumnRenamed("doc", "want").join(
      actual.withColumnRenamed("doc", "got"), keys, "full_outer")
      .filter(not(col("want") <=> col("got"))).count()

  /** Rebuilt request documents of the state differ from the generated
    * ones in this many ids (missing, extra or unequal). */
  def requestDocMismatches(spark: SparkSession, api: ApiState,
      rebuilt: DataFrame): Long = {
    val want = canonical(spark, api.landed.map(r => Model.render(r.json)),
      JobcanSchemas.requestDetailSchema)
    diff(want.select(col("id"), to_json(struct(col("*"))).as("doc")), rebuilt, Seq("id"))
  }

  def masterDocMismatches(spark: SparkSession, api: ApiState,
      rebuilt: DataFrame): Long = {
    val sources = Seq(
      ("users", JobcanSchemas.userSchema, "id"),
      ("fix_journals", JobcanSchemas.fixJournalSchema, "journal_id"),
      ("companies", JobcanSchemas.companySchema, "company_code"),
      ("forms", JobcanSchemas.formSchema, "id"),
      ("groups", JobcanSchemas.groupSchema, "group_code"),
      ("positions", JobcanSchemas.positionSchema, "position_code"),
      ("projects", JobcanSchemas.projectSchema, "project_code"))
    val want = sources.map { case (name, schema, id) =>
      canonical(spark, api.masterPages(name), schema).select(lit(name).as("table"),
        col(id).cast("string").as("id"), to_json(struct(col("*"))).as("doc"))
    }.reduce(_ unionByName _)
    diff(want, rebuilt, Seq("table", "id"))
  }

  /** Row count and an order-independent hash of one view's output. */
  def viewHash(spark: SparkSession, view: String): (Long, Long) = {
    val df = spark.table(view)
    val h = pmod(xxhash64(to_json(struct(df.columns.toSeq.map(c => col(s"`$c`")): _*))),
      lit(Int.MaxValue.toLong))
    val r = df.select(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Register the views over a state and hash each of them. */
  def viewHashes(spark: SparkSession, t: Map[String, DataFrame]): Map[String, (Long, Long)] = {
    new Views(t).registerAll()
    ViewNames.map(v => v -> viewHash(spark, v)).toMap
  }

  val ViewNames: Seq[String] = Seq("view_user_details", "view_user_group_position",
    "view_groups", "view_positions", "view_forms", "view_companies",
    "view_request_details", "view_approval_process", "view_expense_specifics",
    "view_form_items", "view_form_items_by_name", "view_request_approval_history",
    "view_expense_report_f3", "view_expense_report_f3_detail",
    "view_expense_report_f33", "view_expense_report_f33_detail",
    "view_payment_request_41", "view_payment_request_42",
    "view_payment_request_43", "view_payment_request_44",
    "view_payment_request_45")

}
