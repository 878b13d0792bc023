package perfbench

import org.json4s._

/** The generated Jobcan API documents as plain values. Each type
  * renders its API JSON (FIXTURES.md section A shapes) and knows the
  * silver rows it should shred into, so the expected row count of
  * every table is computed here, independently of the program.
  *
  * Generation keeps every document in the form the read path rebuilds
  * (lists in index order, file lists sorted by id, comments by date),
  * so a round trip through the silver tables must reproduce it
  * exactly. */
object Model {

  def obj(fields: (String, JValue)*): JValue = JObject(fields.toList)
  def arr(items: Seq[JValue]): JValue = JArray(items.toList)
  def str(v: String): JValue = if (v == null) JNull else JString(v)
  def opt[A](v: Option[A])(f: A => JValue): JValue = v.map(f).getOrElse(JNull)
  def render(j: JValue): String = org.json4s.jackson.JsonMethods.compact(j)

  final case class FileRef(id: String, name: String, ftype: String,
      user: String, date: String, deleted: Boolean) {
    def json: JValue = obj("id" -> JString(id), "name" -> JString(name),
      "type" -> JString(ftype), "user_name" -> JString(user), "date" -> JString(date),
      "deleted" -> JBool(deleted))
  }

  /** A generic-master record; `additional` is fixed per (name, code). */
  final case class GM(name: String, code: String, additional: Seq[String]) {
    def json: JValue = obj("record_name" -> JString(name), "record_code" -> JString(code),
      "additional_items" -> arr(additional.map(JString(_))))
  }

  final case class Cell(column: Long, value: String, gm: Option[GM]) {
    def json: JValue = obj("column_number" -> JLong(column), "value" -> JString(value),
      "generic_master" -> opt(gm)(_.json))
  }

  final case class CItem(title: String, content: String, gm: Option[GM],
      files: Seq[FileRef], table: Seq[Seq[Cell]]) {
    def json: JValue = obj("title" -> JString(title), "content" -> str(content),
      "generic_master" -> opt(gm)(_.json), "files" -> arr(files.map(_.json)),
      "table" -> arr(table.map(r => arr(r.map(_.json)))))
  }

  final case class CustomValue(gmCode: String, gmRecordName: String,
      gmRecordCode: String, content: String, memo: String,
      ext: Seq[(String, String)]) {
    def json: JValue = obj("generic_master_code" -> str(gmCode),
      "generic_master_record_name" -> str(gmRecordName),
      "generic_master_record_code" -> str(gmRecordCode),
      "content" -> str(content), "memo" -> str(memo),
      "extension_items" -> arr(ext.map { case (n, v) =>
        obj("name" -> JString(n), "value" -> JString(v)) }))
  }

  final case class CustomItem(name: String, itemType: String,
      value: Option[CustomValue]) {
    def json: JValue = obj("name" -> JString(name), "item_type" -> JString(itemType),
      "value" -> opt(value)(_.json))
  }

  final case class ExpRow(rowNumber: Int, useDate: String, group: String,
      project: String, desc: String, breakdown: String, amount: Long,
      customItems: Seq[CustomItem], files: Seq[FileRef]) {
    def json: JValue = obj("row_number" -> JString(rowNumber.toString),
      "use_date" -> str(useDate), "group_name" -> str(group),
      "project_name" -> str(project), "content_description" -> str(desc),
      "breakdown" -> str(breakdown), "amount" -> JLong(amount),
      "custom_items" -> arr(customItems.map(_.json)),
      "files" -> arr(files.map(_.json)))
  }

  final case class ExpSpec(stype: String, rows: Seq[ExpRow])

  final case class Expense(amount: Long, desc: String, useSuspense: Boolean,
      advanced: Long, suspense: Long, specifics: Seq[ExpSpec]) {
    def json: JValue = obj("amount" -> JLong(amount),
      "related_request_title" -> JNull, "related_request_id" -> JNull,
      "use_suspense_payment" -> JBool(useSuspense),
      "content_description" -> str(desc), "advanced_payment" -> JLong(advanced),
      "suspense_payment_amount" -> JLong(suspense),
      "specifics" -> arr(specifics.map(s => obj("type" -> JString(s.stype),
        "rows" -> arr(s.rows.map(_.json))))))
  }

  final case class PayRow(company: String, bankName: String,
      bankCode: Option[Long], branchCode: Option[Long], rowNumber: Int,
      useDate: String, desc: String, amount: Long) {
    def json: JValue = obj("company_name" -> JString(company), "zip_code" -> JString(""),
      "address" -> JString(""), "bank_name" -> JString(bankName),
      "bank_name_kana" -> JString(""), "bank_account_name_kana" -> JString(""),
      "bank_code" -> opt(bankCode)(JLong(_)), "branch_code" -> opt(branchCode)(JLong(_)),
      "row_number" -> JString(rowNumber.toString), "use_date" -> str(useDate),
      "group_name" -> JString(""), "project_name" -> JString(""),
      "content_description" -> JString(desc), "breakdown" -> JString(""),
      "amount" -> JLong(amount), "files" -> arr(Nil))
  }

  final case class PaySpec(stype: String, rows: Seq[PayRow])

  final case class Payment(amount: Long, relatedId: String, desc: String,
      specifics: Seq[PaySpec]) {
    def json: JValue = obj("amount" -> JLong(amount),
      "related_request_title" -> opt(Option(relatedId))(_ => JString("関連申請")),
      "related_request_id" -> str(relatedId), "content_description" -> JString(desc),
      "specifics" -> arr(specifics.map(s => obj("type" -> JString(s.stype),
        "rows" -> arr(s.rows.map(_.json))))))
  }

  final case class EcRow(rowNumber: Long, name: String, itemId: String,
      unitPrice: Long, quantity: Long) {
    def json: JValue = obj("row_number" -> JLong(rowNumber), "item_name" -> JString(name),
      "item_url" -> JString(s"https://shop.example/$itemId"), "item_id" -> JString(itemId),
      "manufacturer_name" -> JString("maker"), "sold_by" -> JString("shop"),
      "fulfilled_by" -> JString("shop"), "unit_price" -> JLong(unitPrice),
      "quantity" -> JString(quantity.toString), "subtotal" -> JLong(unitPrice * quantity),
      "files" -> arr(Nil))
  }

  final case class Ec(orderId: String, retention: String, city: String,
      rows: Seq[EcRow]) {
    def json: JValue = {
      val total = rows.map(r => r.unitPrice * r.quantity).sum
      obj("related_request_id" -> JNull, "related_request_title" -> JNull,
        "content_description" -> JString("備品購入"), "billing_destination" -> JString("本社"),
        "shipping_address" -> obj("shipping_address_name" -> JString("本社"),
          "zip_code" -> JString("100-0001"), "country" -> JString("JP"),
          "state" -> JString("東京都"), "city" -> JString(city), "address1" -> JString("1-1"),
          "address2" -> JString(""), "company_name" -> JString("株式会社テスト"),
          "contact_name" -> JString("総務"), "tel" -> JString("03-0000-0000"),
          "email" -> JString("soumu@example.com")),
        "specifics" -> obj("order_id" -> JString(orderId),
          "retention_deadline" -> str(retention), "tax_amount" -> JLong(total / 11),
          "shipping_amount" -> JLong(0), "total_price" -> JLong(total),
          "total_amount" -> JLong(total), "rows" -> arr(rows.map(_.json))))
    }
  }

  final case class Comment(user: String, date: String, text: String,
      deleted: Boolean) {
    def json: JValue = obj("user_name" -> JString(user), "date" -> JString(date),
      "text" -> JString(text), "deleted" -> JBool(deleted))
    def key: (String, String, String) = (user, date, text)
  }

  final case class Approver(status: String, approvedDate: String, name: String,
      code: String) {
    def json: JValue = obj("status" -> JString(status), "approved_date" -> str(approvedDate),
      "approver_name" -> JString(name), "approver_code" -> JString(code),
      "proxy_approver_name" -> JNull, "proxy_approver_code" -> JNull)
  }

  final case class Step(name: String, condition: String, status: String,
      approvers: Seq[Approver], comments: Seq[Comment], files: Seq[FileRef]) {
    def json: JValue = obj("name" -> JString(name), "condition" -> JString(condition),
      "status" -> JString(status), "approvers" -> arr(approvers.map(_.json)),
      "comments" -> arr(comments.map(_.json)), "files" -> arr(files.map(_.json)))
  }

  final case class Approval(routeChanged: Boolean, logs: Seq[(String, String)],
      steps: Seq[Step], aacComments: Seq[Comment], aacFiles: Seq[FileRef]) {
    def json: JValue = obj("is_route_changed_by_applicant" -> JBool(routeChanged),
      "approval_route_modify_logs" -> arr(logs.map { case (d, u) =>
        obj("date" -> JString(d), "user_name" -> JString(u)) }),
      "steps" -> arr(steps.map(_.json)),
      "after_completion" -> obj("comments" -> arr(aacComments.map(_.json)),
        "files" -> arr(aacFiles.map(_.json))))
  }

  final case class Viewer(user: String, status: String, group: String,
      position: String) {
    def json: JValue = obj("user_name" -> JString(user), "status" -> JString(status),
      "group" -> str(group), "position" -> str(position))
  }

  final case class LogDetail(title: String, old: String, nw: String,
      specifics: Seq[(String, String)]) {
    def json: JValue = obj("title" -> JString(title), "old" -> JString(old), "new" -> JString(nw),
      "log_type" -> JString("update"), "specifics" -> arr(specifics.map { case (s, d) =>
        obj("status" -> JString(s), "difference" -> JString(d)) }))
  }

  final case class ModifyLog(date: String, user: String, detail: Seq[LogDetail]) {
    def json: JValue = obj("date" -> JString(date), "user_name" -> JString(user),
      "detail" -> arr(detail.map(_.json)))
  }

  final case class Detail(items: Seq[CItem], expense: Option[Expense],
      payment: Option[Payment], ec: Option[Ec], approval: Option[Approval],
      viewers: Seq[Viewer], defaultFiles: Seq[FileRef], modifyLogs: Seq[ModifyLog]) {
    def json: JValue = obj("customized_items" -> arr(items.map(_.json)),
      "expense" -> opt(expense)(_.json), "payment" -> opt(payment)(_.json),
      "ec" -> opt(ec)(_.json), "approval_process" -> opt(approval)(_.json),
      "viewers" -> arr(viewers.map(_.json)),
      "default_attachment_files" -> arr(defaultFiles.map(_.json)),
      "modify_logs" -> arr(modifyLogs.map(_.json)))
  }

  final case class Applicant(code: String, last: String, first: String,
      groupCode: String, groupName: String, position: String)

  final case class Request(id: String, title: String, status: String,
      form: Form, appliedDate: String, applicant: Applicant, project: (String, String),
      flowStep: String, totalAmount: Long, payAt: String,
      finalApprovedDate: String, detail: Detail) {
    def json: JValue = obj("id" -> JString(id), "title" -> JString(title),
      "status" -> JString(status), "form_id" -> JLong(form.id),
      "form_name" -> JString(form.name), "form_type" -> JString(form.formType),
      "settlement_type" -> JString(form.settlementType),
      "applied_date" -> JString(appliedDate), "applicant_code" -> JString(applicant.code),
      "applicant_last_name" -> JString(applicant.last),
      "applicant_first_name" -> JString(applicant.first),
      "applicant_group_name" -> JString(applicant.groupName),
      "applicant_group_code" -> JString(applicant.groupCode),
      "applicant_position_name" -> str(applicant.position),
      "proxy_applicant_last_name" -> JNull, "proxy_applicant_first_name" -> JNull,
      "group_name" -> JString(applicant.groupName), "group_code" -> JString(applicant.groupCode),
      "project_name" -> str(project._2), "project_code" -> str(project._1),
      "flow_step_name" -> str(flowStep), "is_content_changed" -> JBool(false),
      "total_amount" -> JLong(totalAmount), "pay_at" -> str(payAt),
      "final_approval_period" -> JNull, "final_approved_date" -> str(finalApprovedDate),
      "detail" -> detail.json)

    def outline: JValue = obj("id" -> JString(id), "form_id" -> JLong(form.id),
      "status" -> JString(status), "applied_date" -> JString(appliedDate))

    /** Files of this request outside the default attachments. */
    def placedFiles: Seq[FileRef] = {
      val d = detail
      d.items.flatMap(_.files) ++
        d.expense.toSeq.flatMap(_.specifics.flatMap(_.rows.flatMap(_.files))) ++
        d.approval.toSeq.flatMap(a => a.steps.flatMap(_.files) ++ a.aacFiles)
    }
    def allFiles: Seq[FileRef] = placedFiles ++ detail.defaultFiles
    def comments: Seq[(Option[Int], Comment)] = detail.approval.toSeq.flatMap { a =>
      a.steps.zipWithIndex.flatMap { case (s, i) => s.comments.map(Some(i) -> _) } ++
        a.aacComments.map(None -> _)
    }
    def gms: Seq[GM] = detail.items.flatMap(i => i.gm.toSeq ++ i.table.flatten.flatMap(_.gm))
  }

  final case class Form(id: Long, name: String, formType: String,
      settlementType: String, category: String, description: String) {
    def json: JValue = obj("id" -> JLong(id), "category" -> JString(category),
      "form_type" -> JString(formType), "settlement_type" -> JString(settlementType),
      "name" -> JString(name), "view_type" -> JString("csv"), "description" -> JString(description))
  }

  final case class User(id: Long, code: String, email: String, last: String,
      first: String, approver: Boolean, role: Long, groups: Seq[String],
      positions: Seq[(String, String)], bank: Option[Seq[String]]) {
    def json: JValue = obj("id" -> JLong(id), "user_code" -> JString(code),
      "email" -> JString(email), "last_name" -> JString(last), "first_name" -> JString(first),
      "is_approver" -> JBool(approver), "user_role" -> JLong(role), "memo" -> JString(""),
      "user_groups" -> arr(groups.map(str)),
      "user_positions" -> arr(positions.map { case (p, g) =>
        obj("position_code" -> JString(p), "group_code" -> JString(g)) }),
      "user_bank_account" -> opt(bank)(b => JObject(BankFields.zip(b.map(JString(_))).toList)))
  }
  val BankFields: Seq[String] = Seq("bank_code", "bank_name", "bank_name_kana",
    "branch_code", "branch_name", "branch_name_kana", "bank_account_type_code",
    "bank_account_code", "bank_account_name_kana")

  final case class Journal(id: Long, jtype: String, date: String, viewId: String,
      company: (String, String), user: User, amount: Long,
      items: Seq[(String, String)]) {
    def json: JValue = {
      val sides = Seq("debit", "credit").flatMap { side =>
        Seq(s"${side}_account_title_code" -> JString(if (side == "debit") "D1" else "C1"),
          s"${side}_account_title_name" -> JString(if (side == "debit") "旅費交通費" else "未払金"),
          s"${side}_account_sub_title_code" -> JNull,
          s"${side}_account_sub_title_name" -> JNull,
          s"${side}_tax_category_code" -> JNull, s"${side}_tax_category_name" -> JNull,
          s"${side}_amount" -> JLong(amount),
          s"${side}_tax_amount" -> JLong(if (side == "debit") amount / 11 else 0),
          s"${side}_amount_without_tax" -> JLong(
            if (side == "debit") amount - amount / 11 else amount),
          s"${side}_group_code" -> JNull, s"${side}_group_name" -> JNull,
          s"${side}_accounting_group_code" -> JNull, s"${side}_project_code" -> JNull,
          s"${side}_project_name" -> JNull)
      }
      JObject((Seq("journal_id" -> JLong(id), "journal_type" -> JString(jtype),
        "journal_date" -> JString(date), "req_date" -> JString(date),
        "journal_summary" -> JString("精算"), "view_id" -> JString(viewId),
        "specifics_row_number" -> JLong(1), "company_code" -> JString(company._1),
        "company_name" -> JString(company._2), "user_code" -> JString(user.code),
        "user_name" -> JString(user.last + user.first)) ++ sides ++ Seq(
        "invoice_registrated_number" -> JString("T1234567890123"),
        "custom_journal_item_list" -> arr(items.map { case (k, v) =>
          obj("key" -> JString(k), "value" -> JString(v),
            "generic_master_record_code" -> JNull) }))).toList)
    }
  }

  /** Expected silver row count per table for a set of masters and the
    * detail documents that reached silver. Global dedup rules follow
    * the shred: comments by (user, date, text), files by id, generic
    * master additional items by (name, code). */
  def expectedCounts(users: Seq[User], groups: Int, positions: Int, projects: Int,
      companies: Int, forms: Int, journals: Seq[Journal],
      docs: Seq[Request]): Map[String, Long] = {
    def sum[A](xs: Iterable[A])(f: A => Int): Long = xs.iterator.map(f(_).toLong).sum
    val d = docs.map(_.detail)
    val exp = d.flatMap(_.expense)
    val expRows = exp.flatMap(_.specifics.flatMap(_.rows))
    val cItems = expRows.flatMap(_.customItems)
    val pay = d.flatMap(_.payment)
    val ec = d.flatMap(_.ec)
    val ap = d.flatMap(_.approval)
    val steps = ap.flatMap(_.steps)
    val cells = d.flatMap(_.items.flatMap(_.table.flatten))
    val logs = d.flatMap(_.modifyLogs)
    Map(
      "users" -> users.size.toLong,
      "user_groups" -> sum(users)(_.groups.size),
      "user_positions" -> sum(users)(_.positions.size),
      "user_bank_accounts" -> users.count(_.bank.isDefined).toLong,
      "groups" -> groups.toLong, "positions" -> positions.toLong,
      "projects" -> projects.toLong, "companies" -> companies.toLong,
      "forms" -> forms.toLong, "fix_journals" -> journals.size.toLong,
      "custom_journal_items" -> sum(journals)(_.items.size),
      "requests" -> docs.size.toLong,
      "customized_items" -> sum(d)(_.items.size),
      "table_data" -> cells.size.toLong,
      "generic_masters" -> sum(d)(x => x.items.count(_.gm.isDefined) +
        x.items.flatMap(_.table.flatten).count(_.gm.isDefined)),
      "generic_master_additional_items" ->
        sum(docs.flatMap(_.gms).distinct)(_.additional.size),
      "expense" -> exp.size.toLong,
      "expense_specifics" -> sum(exp)(_.specifics.size),
      "expense_specific_rows" -> expRows.size.toLong,
      "custom_items" -> cItems.size.toLong,
      "custom_item_values" -> cItems.count(_.value.isDefined).toLong,
      "custom_item_value_extension_items" -> sum(cItems)(_.value.map(_.ext.size).getOrElse(0)),
      "payment" -> pay.size.toLong,
      "payment_specifics" -> sum(pay)(_.specifics.size),
      "payment_specific_rows" -> sum(pay)(_.specifics.map(_.rows.size).sum),
      "ec" -> ec.size.toLong, "shipping_address" -> ec.size.toLong,
      "ec_specifics" -> ec.size.toLong, "ec_specific_rows" -> sum(ec)(_.rows.size),
      "approval_process" -> ap.size.toLong,
      "approval_route_modify_logs" -> sum(ap)(_.logs.size),
      "approval_steps" -> steps.size.toLong,
      "approvers" -> sum(steps)(_.approvers.size),
      "comments" -> docs.flatMap(_.comments.map(_._2.key)).distinct.size.toLong,
      "comment_associations" -> sum(docs)(_.comments.map { case (s, c) => (s, c.key) }
        .distinct.size),
      "viewers" -> sum(d)(_.viewers.size),
      "modify_logs" -> logs.size.toLong,
      "modify_log_details" -> sum(logs)(_.detail.size),
      "modify_log_detail_specifics" -> sum(logs)(_.detail.map(_.specifics.size).sum),
      "files" -> docs.flatMap(_.allFiles.map(_.id)).distinct.size.toLong,
      "file_associations" -> sum(docs)(_.allFiles.map(_.id).distinct.size))
  }
}
