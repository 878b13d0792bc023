package graft.normalize

import graft.model.JobcanSchemas
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bronze JSON documents → the reference's ~40 silver tables
  * (SURVEY §1.3), as pure DataFrame transforms.
  *
  * Replaces the hand-written per-endpoint shred modules
  * (`database/users.py:88-182`, `requests/_requests.py:58-122`, …) with
  * `posexplode` pipelines. Two deliberate divergences, both documented
  * in SURVEY §7.4:
  *
  *  - SQLite AUTOINCREMENT surrogate ids are replaced by natural
  *    composite keys (request_id + index columns). Child tables carry
  *    their full ancestor key path, so every view join is a pure equi
  *    join on stable keys — and at scale every child table can be
  *    co-partitioned by request_id (one shuffle, reused by all joins).
  *  - ordering of child collections is preserved via index columns
  *    exactly like the reference (`item_index`, `step_index`, …),
  *    produced by `posexplode`, not driver-side enumeration.
  */
object Normalize {

  /** Parse the API's datetime strings ("YYYY/MM/DD HH:MM:SS" or ISO). */
  def parseTs(c: Column): Column = coalesce(
    to_timestamp(c, "yyyy/MM/dd HH:mm:ss"),
    to_timestamp(c, "yyyy-MM-dd HH:mm:ss"),
    to_timestamp(c, "yyyy-MM-dd'T'HH:mm:ss"))

  def parseDate(c: Column): Column = coalesce(
    to_date(c, "yyyy/MM/dd"), to_date(c, "yyyy-MM-dd"))

  // ---- masters ---------------------------------------------------------

  /** users + 3 children (`users.py:88-182`). */
  def users(raw: DataFrame): Map[String, DataFrame] = {
    val users = raw.select(
      col("id"), col("user_code"), col("email"), col("last_name"),
      col("first_name"),
      col("is_approver").cast("boolean").as("is_approver"),
      col("user_role").cast("long").as("user_role"), col("memo"))
    // NULL elements inside user_groups are legal and must survive
    // (NULL-safe insert, users.py:118-125); explode emits them while
    // dropping only absent/empty arrays.
    val userGroups = raw
      .select(col("id").as("user_id"),
        explode(col("user_groups")).as("group_code"))
    val userPositions = raw
      .select(col("id").as("user_id"), explode(col("user_positions")).as("p"))
      .select(col("user_id"), col("p.position_code").as("position_code"),
        col("p.group_code").as("group_code"))
    val bank = raw.filter(col("user_bank_account").isNotNull)
      .select(col("id").as("user_id"), col("user_bank_account.*"))
    Map("users" -> users, "user_groups" -> userGroups,
      "user_positions" -> userPositions, "user_bank_accounts" -> bank)
  }

  def groups(raw: DataFrame): DataFrame =
    raw.select("group_code", "group_name", "parent_group_code", "description")

  def positions(raw: DataFrame): DataFrame =
    raw.select("position_code", "position_name", "description")

  def projects(raw: DataFrame): DataFrame =
    raw.select("project_code", "project_name")

  def companies(raw: DataFrame): DataFrame =
    raw.select("company_code", "company_name", "zip_code", "address",
      "bank_code", "bank_name", "branch_code", "branch_name",
      "bank_account_type_code", "bank_account_code",
      "bank_account_name_kana", "invoice_registrated_number")

  def forms(raw: DataFrame): DataFrame =
    raw.select(col("id").cast("long").as("id"), col("category"),
      col("form_type"), col("settlement_type"), col("name"),
      col("view_type"), col("description"))

  /** fix_journals + custom_journal_items (`fix_journal.py:86-133`). */
  def fixJournals(raw: DataFrame): Map[String, DataFrame] = {
    val flat = raw.drop("custom_journal_item_list")
    val items = raw
      .select(col("journal_id"),
        explode(col("custom_journal_item_list")).as("i"))
      .select(col("journal_id"), col("i.key").as("key"),
        col("i.value").as("value"),
        col("i.generic_master_record_code").as("generic_master_record_code"))
    Map("fix_journals" -> flat, "custom_journal_items" -> items)
  }

  /** The 7 master endpoints in fetch order: (API name, payload schema,
    * shred into its silver tables). */
  val masterEndpoints: Seq[(String, StructType,
      DataFrame => Map[String, DataFrame])] = Seq(
    ("users", JobcanSchemas.userSchema, users),
    ("groups", JobcanSchemas.groupSchema, d => Map("groups" -> groups(d))),
    ("positions", JobcanSchemas.positionSchema,
      d => Map("positions" -> positions(d))),
    ("projects", JobcanSchemas.projectSchema,
      d => Map("projects" -> projects(d))),
    ("companies", JobcanSchemas.companySchema,
      d => Map("companies" -> companies(d))),
    ("fix_journals", JobcanSchemas.fixJournalSchema, fixJournals),
    ("forms", JobcanSchemas.formSchema, d => Map("forms" -> forms(d))))

  // ---- request detail: the 30-table shred ------------------------------

  /** Shred `/v1/requests/{id}` documents (`_table_init.py:16-45` table
    * list). Every child table carries (request_id, ...ancestor
    * indices) as its key.
    */
  def requests(raw: DataFrame): Map[String, DataFrame] = {
    val rid = col("id").as("request_id")

    val requests = raw.select(
      col("id"), col("title"), col("status"),
      col("form_id").cast("long").as("form_id"), col("form_name"),
      col("form_type"), col("settlement_type"),
      parseTs(col("applied_date")).as("applied_date"),
      col("applicant_code"), col("applicant_last_name"),
      col("applicant_first_name"), col("applicant_group_name"),
      col("applicant_group_code"), col("applicant_position_name"),
      col("proxy_applicant_last_name"), col("proxy_applicant_first_name"),
      col("group_name"), col("group_code"), col("project_name"),
      col("project_code"), col("flow_step_name"),
      col("is_content_changed").cast("boolean").as("is_content_changed"),
      col("total_amount").cast("long").as("total_amount"),
      parseTs(col("pay_at")).as("pay_at"),
      parseTs(col("final_approval_period")).as("final_approval_period"),
      parseTs(col("final_approved_date")).as("final_approved_date"))

    // customized_items → table_data → generic_masters (+additional)
    val ci = raw.select(rid,
      posexplode(col("detail.customized_items")).as(Seq("item_index", "c")))
    val customizedItems = ci.select(col("request_id"), col("item_index"),
      col("c.title").as("title"), col("c.content").as("content"))
    val tableData = ci
      .select(col("request_id"), col("item_index"),
        posexplode(col("c.table")).as(Seq("index_1", "trow")))
      .select(col("request_id"), col("item_index"), col("index_1"),
        posexplode(col("trow")).as(Seq("index_2", "cell")))
      .select(col("request_id"), col("item_index"), col("index_1"),
        col("index_2"), col("cell.column_number").as("column_number"),
        col("cell.value").as("value"),
        col("cell.generic_master").as("generic_master"))
    // generic_masters: one row per USAGE SITE (customized item or table
    // cell — the corrected R3 correlation, not the reference's
    // hardcoded customized_item_id=1, SURVEY §7.4.6), deduped content
    // in generic_master_additional_items by natural key (A8,
    // _data_class.py:345-380)
    val gmFromItems = ci.filter(col("c.generic_master").isNotNull)
      .select(col("request_id"), col("item_index"),
        lit(null).cast("int").as("index_1"),
        lit(null).cast("int").as("index_2"),
        col("c.generic_master").as("gm"))
    val gmFromCells = tableData.filter(col("generic_master").isNotNull)
      .select(col("request_id"), col("item_index"), col("index_1"),
        col("index_2"), col("generic_master").as("gm"))
    val genericMasters = gmFromItems.unionByName(gmFromCells)
      .select(col("request_id"), col("item_index"), col("index_1"),
        col("index_2"), col("gm.record_name").as("record_name"),
        col("gm.record_code").as("record_code"),
        col("gm.additional_items").as("additional_items"))
    val gmAdditional = genericMasters
      .select(col("record_name"), col("record_code"),
        col("additional_items")).distinct()
      .select(col("record_name"), col("record_code"),
        posexplode(col("additional_items")).as(Seq("item_index", "item_value")))
    val genericMastersOut = genericMasters.drop("additional_items")
    val tableDataOut = tableData.drop("generic_master")

    // expense → specifics → rows → custom_items → values → extensions
    val expense = raw.filter(col("detail.expense").isNotNull).select(rid,
      col("detail.expense.amount").as("amount"),
      col("detail.expense.related_request_title").as("related_request_title"),
      col("detail.expense.related_request_id").as("related_request_id"),
      col("detail.expense.use_suspense_payment").as("use_suspense_payment"),
      col("detail.expense.content_description").as("content_description"),
      col("detail.expense.advanced_payment").as("advanced_payment"),
      col("detail.expense.suspense_payment_amount")
        .as("suspense_payment_amount"))
    val es = raw.select(rid,
      posexplode(col("detail.expense.specifics")).as(Seq("col_number", "sp")))
    val expenseSpecifics = es.select(col("request_id"), col("col_number"),
      col("sp.type").as("type"))
    val esr = es.select(col("request_id"), col("col_number"),
      explode(col("sp.rows")).as("r"))
    val expenseSpecificRows = esr.select(col("request_id"), col("col_number"),
      col("r.row_number").as("row_number"),
      parseDate(col("r.use_date")).as("use_date"),
      col("r.group_name").as("group_name"),
      col("r.project_name").as("project_name"),
      col("r.content_description").as("content_description"),
      col("r.breakdown").as("breakdown"), col("r.amount").as("amount"))
    val cItems = esr.select(col("request_id"), col("col_number"),
      col("r.row_number").as("row_number"),
      posexplode(col("r.custom_items")).as(Seq("item_index", "ci")))
    val customItems = cItems.select(col("request_id"), col("col_number"),
      col("row_number"), col("item_index"),
      col("ci.name").as("name"), col("ci.item_type").as("item_type"))
    val customItemValues = cItems.filter(col("ci.value").isNotNull)
      .select(col("request_id"), col("col_number"), col("row_number"),
        col("item_index"),
        col("ci.value.generic_master_code").as("generic_master_code"),
        col("ci.value.generic_master_record_name")
          .as("generic_master_record_name"),
        col("ci.value.generic_master_record_code")
          .as("generic_master_record_code"),
        col("ci.value.content").as("content"),
        col("ci.value.memo").as("memo"))
    val customItemValueExt = cItems
      .select(col("request_id"), col("col_number"), col("row_number"),
        col("item_index"),
        posexplode(col("ci.value.extension_items"))
          .as(Seq("ext_index", "e")))
      .select(col("request_id"), col("col_number"), col("row_number"),
        col("item_index"), col("ext_index"),
        col("e.name").as("name"), col("e.value").as("value"))

    // payment → specifics → rows
    val payment = raw.filter(col("detail.payment").isNotNull).select(rid,
      col("detail.payment.amount").as("amount"),
      col("detail.payment.related_request_title").as("related_request_title"),
      col("detail.payment.related_request_id").as("related_request_id"),
      col("detail.payment.content_description").as("content_description"))
    val ps = raw.select(rid,
      posexplode(col("detail.payment.specifics")).as(Seq("col_number", "sp")))
    val paymentSpecifics = ps.select(col("request_id"), col("col_number"),
      col("sp.type").as("type"))
    val paymentSpecificRows = ps
      .select(col("request_id"), col("col_number"),
        explode(col("sp.rows")).as("r"))
      .select(col("request_id"), col("col_number"),
        col("r.company_name").as("company_name"),
        col("r.zip_code").as("zip_code"), col("r.address").as("address"),
        col("r.bank_name").as("bank_name"),
        col("r.bank_name_kana").as("bank_name_kana"),
        col("r.bank_account_name_kana").as("bank_account_name_kana"),
        col("r.bank_code").as("bank_code"),
        col("r.branch_code").as("branch_code"),
        col("r.row_number").as("row_number"),
        parseDate(col("r.use_date")).as("use_date"),
        col("r.group_name").as("group_name"),
        col("r.project_name").as("project_name"),
        col("r.content_description").as("content_description"),
        col("r.breakdown").as("breakdown"), col("r.amount").as("amount"))

    // ec → shipping_address + specifics → rows
    val ec = raw.filter(col("detail.ec").isNotNull).select(rid,
      col("detail.ec.related_request_id").as("related_request_id"),
      col("detail.ec.related_request_title").as("related_request_title"),
      col("detail.ec.content_description").as("content_description"),
      col("detail.ec.billing_destination").as("billing_destination"))
    // divergence from the reference's globally-deduped shipping_address
    // registry: keyed by request_id (1:1 with ec) so the document can
    // be reassembled without a surrogate FK
    val shippingAddress = raw
      .filter(col("detail.ec.shipping_address").isNotNull)
      .select(rid, col("detail.ec.shipping_address.*"))
    val ecSpecifics = raw.filter(col("detail.ec.specifics").isNotNull)
      .select(rid,
        col("detail.ec.specifics.order_id").as("order_id"),
        parseTs(col("detail.ec.specifics.retention_deadline"))
          .as("retention_deadline"),
        col("detail.ec.specifics.tax_amount").as("tax_amount"),
        col("detail.ec.specifics.shipping_amount").as("shipping_amount"),
        col("detail.ec.specifics.total_price").as("total_price"),
        col("detail.ec.specifics.total_amount").as("total_amount"))
    val ecSpecificRows = raw
      .select(rid, explode(col("detail.ec.specifics.rows")).as("r"))
      .select(col("request_id"), col("r.row_number").as("row_number"),
        col("r.item_name").as("item_name"),
        col("r.item_url").as("item_url"), col("r.item_id").as("item_id"),
        col("r.manufacturer_name").as("manufacturer_name"),
        col("r.sold_by").as("sold_by"),
        col("r.fulfilled_by").as("fulfilled_by"),
        col("r.unit_price").as("unit_price"),
        col("r.quantity").as("quantity"), col("r.subtotal").as("subtotal"))

    // approval process → modify logs / steps → approvers (+comments)
    val approvalProcess = raw.filter(col("detail.approval_process").isNotNull)
      .select(rid, col("detail.approval_process.is_route_changed_by_applicant")
        .as("is_route_changed_by_applicant"))
    val apModifyLogs = raw
      .select(rid, posexplode(
        col("detail.approval_process.approval_route_modify_logs"))
        .as(Seq("log_index", "l")))
      .select(col("request_id"), col("log_index"),
        parseTs(col("l.date")).as("date"), col("l.user_name").as("user_name"))
    val steps = raw.select(rid,
      posexplode(col("detail.approval_process.steps"))
        .as(Seq("step_index", "st")))
    val approvalSteps = steps.select(col("request_id"), col("step_index"),
      col("st.name").as("name"), col("st.condition").as("condition"),
      col("st.status").as("status"))
    val approversEx = steps.select(col("request_id"), col("step_index"),
      posexplode(col("st.approvers")).as(Seq("approver_index", "av")))
    val approvers = approversEx.select(col("request_id"), col("step_index"),
      col("approver_index"), col("av.status").as("status"),
      parseTs(col("av.approved_date")).as("approved_date"),
      col("av.approver_name").as("approver_name"),
      col("av.approver_code").as("approver_code"),
      col("av.proxy_approver_name").as("proxy_approver_name"),
      col("av.proxy_approver_code").as("proxy_approver_code"))

    // comments: STEP-level in the API (the reference's writer reads
    // as_i["comments"], _approval_process.py:109-112), deduped by
    // (user_name, date, text) across steps + the after-completion
    // block (A8, _data_class.py:213-254)
    val stepComments = steps
      .select(col("request_id"), col("step_index"),
        explode(col("st.comments")).as("c"))
    val aacComments = raw
      .select(rid, lit(null).cast("int").as("step_index"),
        explode(col("detail.approval_process.after_completion.comments"))
          .as("c"))
    val allComments = stepComments.unionByName(aacComments)
      .select(col("request_id"), col("step_index"),
        col("c.user_name").as("user_name"), parseTs(col("c.date")).as("date"),
        col("c.text").as("text"), col("c.deleted").as("deleted"))
    val comments = allComments
      .groupBy(col("user_name"), col("date"), col("text"))
      .agg(max(col("deleted")).as("deleted"))
    val commentAssociations = allComments
      .select(col("user_name"), col("date"), col("text"),
        col("request_id"), col("step_index"),
        col("step_index").isNull.as("is_after_completion"))
      .distinct()

    // viewers / modify logs
    val viewers = raw
      .select(rid, posexplode(col("detail.viewers")).as(Seq("viewer_index", "v")))
      .select(col("request_id"), col("viewer_index"),
        col("v.user_name").as("user_name"), col("v.status").as("status"),
        col("v.group").as("group_name"), col("v.position").as("position"))
    val ml = raw.select(rid,
      posexplode(col("detail.modify_logs")).as(Seq("log_index", "m")))
    val modifyLogs = ml.select(col("request_id"), col("log_index"),
      parseTs(col("m.date")).as("date"), col("m.user_name").as("user_name"))
    val mld = ml.select(col("request_id"), col("log_index"),
      posexplode(col("m.detail")).as(Seq("log_detail_index", "d")))
    val modifyLogDetails = mld.select(col("request_id"), col("log_index"),
      col("log_detail_index"), col("d.title").as("title"),
      col("d.old").as("old_value"), col("d.new").as("new_value"),
      col("d.log_type").as("log_type"))
    val modifyLogDetailSpecifics = mld
      .select(col("request_id"), col("log_index"), col("log_detail_index"),
        posexplode(col("d.specifics")).as(Seq("specific_index", "sp")))
      .select(col("request_id"), col("log_index"), col("log_detail_index"),
        col("specific_index"), col("sp.status").as("status"),
        col("sp.difference").as("difference"))

    // files: shared registry deduped by id (A8, _data_class.py:80-127);
    // associations carry parent context + repetition counter
    val fileSources: Seq[(String, DataFrame)] = Seq(
      // parent_key must be STRING in every branch: under ANSI union
      // type coercion a bigint branch would promote the WHOLE column
      // to bigint, and the expense branch's "col/row" keys would then
      // blow up at first execution that actually carries expense-row
      // files (caught by the randomized docs fidelity sweep, seed 8)
      "customized_item" -> ci.select(col("request_id"),
        explode(col("c.files")).as("f"),
        col("item_index").cast("string").as("parent_key")),
      "expense_specific_row" -> esr.select(col("request_id"),
        explode(col("r.files")).as("f"),
        concat_ws("/", col("col_number"), col("r.row_number"))
          .as("parent_key")),
      "approval_step" -> steps.select(col("request_id"),
        explode(col("st.files")).as("f"),
        col("step_index").cast("string").as("parent_key")),
      "approval_after_completion" -> raw.select(rid,
        explode(col("detail.approval_process.after_completion.files"))
          .as("f"), lit(null).cast("string").as("parent_key")),
      "default_attachment" -> raw.select(rid,
        explode(col("detail.default_attachment_files")).as("f"),
        lit(null).cast("string").as("parent_key")))
    val allFileRefs = fileSources.map { case (src, df) =>
      df.select(col("request_id"), lit(src).as("association_type"),
        col("parent_key"), col("f.id").as("file_id"),
        col("f.name").as("name"), col("f.type").as("type"),
        col("f.user_name").as("user_name"), col("f.date").as("date"),
        col("f.deleted").as("deleted"))
    }.reduce(_ unionByName _)
    val files = allFileRefs
      .groupBy(col("file_id").as("id"))
      .agg(max(col("name")).as("name"), max(col("type")).as("type"),
        max(col("user_name")).as("user_name"),
        parseTs(max(col("date"))).as("date"),
        max(col("deleted")).as("deleted"))
    // default_attachment = repetition counter (_data_class.py:126-127)
    val fileAssociations = allFileRefs
      .groupBy(col("request_id"), col("file_id"))
      .agg(
        max(when(col("association_type") === "customized_item",
          col("parent_key"))).cast("int").as("customized_item_index"),
        max(when(col("association_type") === "expense_specific_row",
          col("parent_key"))).as("expense_specific_row_key"),
        max(when(col("association_type") === "approval_step",
          col("parent_key"))).cast("int").as("approval_step_index"),
        max(col("association_type") === "approval_after_completion")
          .as("is_after_completion"),
        sum(when(col("association_type") === "default_attachment", 1)
          .otherwise(0)).cast("int").as("default_attachment"))

    Map(
      "requests" -> requests,
      "customized_items" -> customizedItems,
      "table_data" -> tableDataOut,
      "generic_masters" -> genericMastersOut,
      "generic_master_additional_items" -> gmAdditional,
      "expense" -> expense,
      "expense_specifics" -> expenseSpecifics,
      "expense_specific_rows" -> expenseSpecificRows,
      "custom_items" -> customItems,
      "custom_item_values" -> customItemValues,
      "custom_item_value_extension_items" -> customItemValueExt,
      "payment" -> payment,
      "payment_specifics" -> paymentSpecifics,
      "payment_specific_rows" -> paymentSpecificRows,
      "ec" -> ec,
      "shipping_address" -> shippingAddress,
      "ec_specifics" -> ecSpecifics,
      "ec_specific_rows" -> ecSpecificRows,
      "approval_process" -> approvalProcess,
      "approval_route_modify_logs" -> apModifyLogs,
      "approval_steps" -> approvalSteps,
      "approvers" -> approvers,
      "comments" -> comments,
      "comment_associations" -> commentAssociations,
      "viewers" -> viewers,
      "modify_logs" -> modifyLogs,
      "modify_log_details" -> modifyLogDetails,
      "modify_log_detail_specifics" -> modifyLogDetailSpecifics,
      "files" -> files,
      "file_associations" -> fileAssociations)
  }
}

/** The full silver-table name catalog (masters + request shred +
  * checkpoint tables use an underscore prefix and are not listed).
  */
object NormalizeTables {
  val masters: Seq[String] = Seq(
    "users", "user_groups", "user_positions", "user_bank_accounts",
    "groups", "positions", "projects", "companies", "forms",
    "fix_journals", "custom_journal_items")
  val requestTables: Seq[String] = Seq(
    "requests", "customized_items", "table_data", "generic_masters",
    "generic_master_additional_items", "expense", "expense_specifics",
    "expense_specific_rows", "custom_items", "custom_item_values",
    "custom_item_value_extension_items", "payment", "payment_specifics",
    "payment_specific_rows", "ec", "shipping_address", "ec_specifics",
    "ec_specific_rows", "approval_process", "approval_route_modify_logs",
    "approval_steps", "approvers", "comments", "comment_associations",
    "viewers", "modify_logs", "modify_log_details",
    "modify_log_detail_specifics", "files", "file_associations")
  val all: Seq[String] = masters ++ requestTables

  /** Each silver table's declared schema — the analog of the
    * reference's `CREATE TABLE` DDL, derived from the shred code itself
    * (no second, hand-written catalog): `Normalize` runs over an empty
    * frame of each `JobcanSchemas` input. That is plan analysis only;
    * no Spark job runs. */
  def schemas(spark: SparkSession): Map[String, StructType] = {
    def empty(s: StructType) =
      spark.createDataFrame(java.util.List.of[Row](), s)
    (Normalize.masterEndpoints.flatMap { case (_, s, shred) =>
      shred(empty(s)) } ++
      Normalize.requests(empty(JobcanSchemas.requestDetailSchema)))
      .map { case (name, df) => name -> df.schema }.toMap
  }

  /** Canonical merge semantics per silver table:
    * Left(pk)       = K1 full-row upsert by primary key;
    * Right(parents) = K4 replace-children-per-parent.
    * Single source for the batch Integrator AND the streaming
    * BronzeStream — the two sinks must never disagree on this.
    */
  def mergeStrategy(table: String): Either[Seq[String], Seq[String]] =
    table match {
      case "users" | "forms" => Left(Seq("id"))
      case "groups" => Left(Seq("group_code"))
      case "positions" => Left(Seq("position_code"))
      case "projects" => Left(Seq("project_code"))
      case "companies" => Left(Seq("company_code"))
      case "fix_journals" => Left(Seq("journal_id"))
      case "custom_journal_items" => Right(Seq("journal_id"))
      case "user_groups" | "user_positions" | "user_bank_accounts" =>
        Right(Seq("user_id"))
      case "requests" => Left(Seq("id"))
      case "files" => Left(Seq("id"))
      case "comments" => Left(Seq("user_name", "date", "text"))
      case "generic_master_additional_items" =>
        Right(Seq("record_name", "record_code"))
      case _ => Right(Seq("request_id"))
    }
}
