package graft.model

import org.apache.spark.sql.types._

/** Explicit StructTypes for the 9 Jobcan API payload shapes (schema
  * inference is banned at scale — a malformed page must become a
  * quarantine row, not a silently widened schema).
  *
  * Shapes are reverse-engineered from the reference's writers/readers:
  * users `database/users.py:88-182`, groups `group.py:41-64`, positions
  * `positions.py:39-53`, projects `project.py:37-51`, company
  * `company.py:47-69`, forms `forms.py:44-61`, fix_journals
  * `fix_journal.py:86-133`, request detail `requests/_requests.py:58-122`
  * + `requests/_table_init.py:48-446`.
  *
  * Types follow SURVEY §1.2: TEXT→String, INTEGER→Long, BOOLEAN→Boolean,
  * DATETIME/DATE→String at bronze (the API emits strings; silver casts).
  */
object JobcanSchemas {

  private def s(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  val userSchema: StructType = s(
    "id" -> LongType, "user_code" -> StringType, "email" -> StringType,
    "last_name" -> StringType, "first_name" -> StringType,
    "is_approver" -> BooleanType, "user_role" -> LongType,
    "memo" -> StringType,
    "user_groups" -> ArrayType(StringType, containsNull = true),
    "user_positions" -> ArrayType(s(
      "position_code" -> StringType, "group_code" -> StringType)),
    "user_bank_account" -> s(
      "bank_code" -> StringType, "bank_name" -> StringType,
      "bank_name_kana" -> StringType, "branch_code" -> StringType,
      "branch_name" -> StringType, "branch_name_kana" -> StringType,
      "bank_account_type_code" -> StringType,
      "bank_account_code" -> StringType,
      "bank_account_name_kana" -> StringType))

  val groupSchema: StructType = s(
    "group_code" -> StringType, "group_name" -> StringType,
    "parent_group_code" -> StringType, "description" -> StringType)

  val positionSchema: StructType = s(
    "position_code" -> StringType, "position_name" -> StringType,
    "description" -> StringType)

  val projectSchema: StructType = s(
    "project_code" -> StringType, "project_name" -> StringType)

  val companySchema: StructType = s(
    "company_code" -> StringType, "company_name" -> StringType,
    "zip_code" -> StringType, "address" -> StringType,
    "bank_code" -> StringType, "bank_name" -> StringType,
    "branch_code" -> StringType, "branch_name" -> StringType,
    "bank_account_type_code" -> StringType,
    "bank_account_code" -> StringType,
    "bank_account_name_kana" -> StringType,
    "invoice_registrated_number" -> StringType)

  val formSchema: StructType = s(
    "id" -> LongType, "category" -> StringType, "form_type" -> StringType,
    "settlement_type" -> StringType, "name" -> StringType,
    "view_type" -> StringType, "description" -> StringType)

  val fixJournalSchema: StructType = {
    val debitCredit = Seq("debit", "credit").flatMap { side =>
      Seq(
        s"${side}_account_title_code" -> (StringType: DataType),
        s"${side}_account_title_name" -> StringType,
        s"${side}_account_sub_title_code" -> StringType,
        s"${side}_account_sub_title_name" -> StringType,
        s"${side}_tax_category_code" -> StringType,
        s"${side}_tax_category_name" -> StringType,
        s"${side}_amount" -> LongType,
        s"${side}_tax_amount" -> LongType,
        s"${side}_amount_without_tax" -> LongType,
        s"${side}_group_code" -> StringType,
        s"${side}_group_name" -> StringType,
        s"${side}_accounting_group_code" -> StringType,
        s"${side}_project_code" -> StringType,
        s"${side}_project_name" -> StringType)
    }
    s((Seq(
      "journal_id" -> (LongType: DataType), "journal_type" -> StringType,
      "journal_date" -> StringType, "req_date" -> StringType,
      "journal_summary" -> StringType, "view_id" -> StringType,
      "specifics_row_number" -> LongType, "company_code" -> StringType,
      "company_name" -> StringType, "user_code" -> StringType,
      "user_name" -> StringType) ++ debitCredit ++ Seq(
      "invoice_registrated_number" -> (StringType: DataType),
      "custom_journal_item_list" -> ArrayType(s(
        "key" -> StringType, "value" -> StringType,
        "generic_master_record_code" -> StringType)))): _*)
  }

  /** `/v2/requests/` outline element — only id/form_id are consumed
    * (`api_client.py:357-372,580`). */
  val requestOutlineSchema: StructType = s(
    "id" -> StringType, "form_id" -> LongType, "status" -> StringType,
    "applied_date" -> StringType)

  private val genericMaster: StructType = s(
    "record_name" -> StringType, "record_code" -> StringType,
    "additional_items" -> ArrayType(StringType, containsNull = true))

  private val fileRef: StructType = s(
    "id" -> StringType, "name" -> StringType, "type" -> StringType,
    "user_name" -> StringType, "date" -> StringType,
    "deleted" -> BooleanType)

  private val customItemValue: StructType = s(
    "generic_master_code" -> StringType,
    "generic_master_record_name" -> StringType,
    "generic_master_record_code" -> StringType,
    "content" -> StringType, "memo" -> StringType,
    "extension_items" -> ArrayType(s(
      "name" -> StringType, "value" -> StringType)))

  private val comment: StructType = s(
    "user_name" -> StringType, "date" -> StringType,
    "text" -> StringType, "deleted" -> BooleanType)

  /** `/v1/requests/{request_id}` detail document — the 30-table source. */
  val requestDetailSchema: StructType = s(
    "id" -> StringType, "title" -> StringType, "status" -> StringType,
    "form_id" -> LongType, "form_name" -> StringType,
    "form_type" -> StringType, "settlement_type" -> StringType,
    "applied_date" -> StringType, "applicant_code" -> StringType,
    "applicant_last_name" -> StringType,
    "applicant_first_name" -> StringType,
    "applicant_group_name" -> StringType,
    "applicant_group_code" -> StringType,
    "applicant_position_name" -> StringType,
    "proxy_applicant_last_name" -> StringType,
    "proxy_applicant_first_name" -> StringType,
    "group_name" -> StringType, "group_code" -> StringType,
    "project_name" -> StringType, "project_code" -> StringType,
    "flow_step_name" -> StringType, "is_content_changed" -> BooleanType,
    "total_amount" -> LongType, "pay_at" -> StringType,
    "final_approval_period" -> StringType,
    "final_approved_date" -> StringType,
    "detail" -> s(
      "customized_items" -> ArrayType(s(
        "title" -> StringType, "content" -> StringType,
        "generic_master" -> genericMaster,
        "files" -> ArrayType(fileRef),
        "table" -> ArrayType(ArrayType(s(
          "column_number" -> LongType, "value" -> StringType,
          "generic_master" -> genericMaster))))),
      "expense" -> s(
        "amount" -> LongType, "related_request_title" -> StringType,
        "related_request_id" -> StringType,
        "use_suspense_payment" -> BooleanType,
        "content_description" -> StringType,
        "advanced_payment" -> LongType,
        "suspense_payment_amount" -> LongType,
        "specifics" -> ArrayType(s(
          "type" -> StringType,
          "rows" -> ArrayType(s(
            "row_number" -> StringType, "use_date" -> StringType,
            "group_name" -> StringType, "project_name" -> StringType,
            "content_description" -> StringType,
            "breakdown" -> StringType, "amount" -> LongType,
            "custom_items" -> ArrayType(s(
              "name" -> StringType, "item_type" -> StringType,
              "value" -> customItemValue)),
            "files" -> ArrayType(fileRef)))))),
      "payment" -> s(
        "amount" -> LongType, "related_request_title" -> StringType,
        "related_request_id" -> StringType,
        "content_description" -> StringType,
        "specifics" -> ArrayType(s(
          "type" -> StringType,
          "rows" -> ArrayType(s(
            "company_name" -> StringType, "zip_code" -> StringType,
            "address" -> StringType, "bank_name" -> StringType,
            "bank_name_kana" -> StringType,
            "bank_account_name_kana" -> StringType,
            "bank_code" -> LongType, "branch_code" -> LongType,
            "row_number" -> StringType, "use_date" -> StringType,
            "group_name" -> StringType, "project_name" -> StringType,
            "content_description" -> StringType,
            "breakdown" -> StringType, "amount" -> LongType,
            "files" -> ArrayType(fileRef)))))),
      "ec" -> s(
        "related_request_id" -> StringType,
        "related_request_title" -> StringType,
        "content_description" -> StringType,
        "billing_destination" -> StringType,
        "shipping_address" -> s(
          "shipping_address_name" -> StringType, "zip_code" -> StringType,
          "country" -> StringType, "state" -> StringType,
          "city" -> StringType, "address1" -> StringType,
          "address2" -> StringType, "company_name" -> StringType,
          "contact_name" -> StringType, "tel" -> StringType,
          "email" -> StringType),
        "specifics" -> s(
          "order_id" -> StringType, "retention_deadline" -> StringType,
          "tax_amount" -> LongType, "shipping_amount" -> LongType,
          "total_price" -> LongType, "total_amount" -> LongType,
          "rows" -> ArrayType(s(
            "row_number" -> LongType, "item_name" -> StringType,
            "item_url" -> StringType, "item_id" -> StringType,
            "manufacturer_name" -> StringType, "sold_by" -> StringType,
            "fulfilled_by" -> StringType, "unit_price" -> LongType,
            "quantity" -> StringType, "subtotal" -> LongType,
            "files" -> ArrayType(fileRef))))),
      "approval_process" -> s(
        "is_route_changed_by_applicant" -> BooleanType,
        "approval_route_modify_logs" -> ArrayType(s(
          "date" -> StringType, "user_name" -> StringType)),
        // comments/files live at the STEP level, not per approver —
        // verified against the reference's writer
        // (_approval_process.py:91-117 reads as_i["comments"]/["files"])
        "steps" -> ArrayType(s(
          "name" -> StringType, "condition" -> StringType,
          "status" -> StringType,
          "approvers" -> ArrayType(s(
            "status" -> StringType, "approved_date" -> StringType,
            "approver_name" -> StringType, "approver_code" -> StringType,
            "proxy_approver_name" -> StringType,
            "proxy_approver_code" -> StringType)),
          "comments" -> ArrayType(comment),
          "files" -> ArrayType(fileRef))),
        "after_completion" -> s(
          "comments" -> ArrayType(comment),
          "files" -> ArrayType(fileRef))),
      // the viewers element uses key "group" (reference reads
      // v_i["group"], _viewers.py:45), stored as group_name in silver
      "viewers" -> ArrayType(s(
        "user_name" -> StringType, "status" -> StringType,
        "group" -> StringType, "position" -> StringType)),
      "default_attachment_files" -> ArrayType(fileRef),
      // element keys verified against the reference's writer
      // (_modify_logs.py:74-86: ml["detail"], d["old"], d["new"])
      "modify_logs" -> ArrayType(s(
        "date" -> StringType, "user_name" -> StringType,
        "detail" -> ArrayType(s(
          "title" -> StringType, "old" -> StringType,
          "new" -> StringType, "log_type" -> StringType,
          "specifics" -> ArrayType(s(
            "status" -> StringType, "difference" -> StringType))))))))
}
