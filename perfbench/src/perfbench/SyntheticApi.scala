package perfbench

import graft.ingest.Ingest
import Model._
import org.json4s._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.util.Random

/** One state of the synthetic Jobcan API: the masters, the request
  * documents it serves, and the detail ids whose fetch fails. */
final class ApiState(val users: Seq[User], val groups: Seq[JValue],
    val positions: Seq[JValue], val projects: Seq[JValue], val companies: Seq[JValue],
    val forms: Seq[Form], val journals: Seq[Journal], val requests: Seq[Request],
    val failingIds: Set[String]) {

  val masterPages: Map[String, Seq[String]] = Map(
    "users" -> users.map(x => render(x.json)), "groups" -> groups.map(render),
    "positions" -> positions.map(render), "projects" -> projects.map(render),
    "companies" -> companies.map(render), "forms" -> forms.map(x => render(x.json)),
    "fix_journals" -> journals.map(x => render(x.json)))
  val details: Map[String, String] = requests.map(r => r.id -> render(r.json)).toMap
  private val byForm: Map[Long, Seq[Request]] = requests.groupBy(_.form.id)
  private val outlineDocs: Map[String, String] =
    requests.map(r => r.id -> render(r.outline)).toMap

  /** Requests that reach silver: every served document whose fetch
    * does not fail. */
  def landed: Seq[Request] = requests.filterNot(r => failingIds(r.id))

  def expectedCounts: Map[String, Long] = Model.expectedCounts(users, groups.size,
    positions.size, projects.size, companies.size, forms.size, journals, landed)

  /** Bytes of JSON this state serves: masters plus every detail. */
  def servedBytes: Long = (masterPages.values.flatten ++ details.values)
    .map(SyntheticApi.utf8Bytes).sum

  /** The `/v2/requests/` outline filter: per form, applied strictly
    * after the watermark; the canceled-after-completion sweep matches
    * on the completion date instead. */
  def outline(query: Map[String, String]): Seq[String] = {
    val rs = query.get("form_id").map(f => byForm.getOrElse(f.toLong, Nil))
      .getOrElse(requests)
    val hit = query.get("status") match {
      case Some(st) => rs.filter(r => r.status == st &&
        query.get("completed_after").forall(a =>
          r.finalApprovedDate != null && r.finalApprovedDate > a))
      case None => rs.filter(r => query.get("applied_after").forall(r.appliedDate > _))
    }
    hit.map(r => outlineDocs(r.id))
  }
}

/** Counters of the fetch layer, shared by every copy of a fetcher
  * (Spark ships the fetcher into tasks by serialization). */
final class FetchCounters {
  val pageCalls = new AtomicLong
  val detailCalls = new AtomicLong
  val busyNanos = new AtomicLong
  /** JSON bytes returned: the user data a run ingests. */
  val bytes = new AtomicLong
  /** Detail documents returned. */
  val fetched = new java.util.concurrent.ConcurrentLinkedQueue[String]
  def reset(): Unit = {
    pageCalls.set(0); detailCalls.set(0); busyNanos.set(0); bytes.set(0)
    fetched.clear()
  }
}

/** In-process registry the fetcher looks its API state up in, so the
  * documents are not serialized into every task. */
object ApiRegistry {
  private val states = new ConcurrentHashMap[String, ApiState]()
  val counters = new FetchCounters
  def put(key: String, s: ApiState): Unit = states.put(key, s)
  def get(key: String): ApiState = {
    val s = states.get(key)
    require(s != null, s"no synthetic API registered as $key")
    s
  }
}

/** `Ingest.Fetcher` over a registered [[ApiState]]: 100 records per
  * page, no throttle, failing ids answer with an HTTP 500 error. */
final class SyntheticFetcher(key: String) extends Ingest.Fetcher {
  private def timed[A](calls: AtomicLong)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally {
      calls.incrementAndGet()
      ApiRegistry.counters.busyNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  def fetchPage(apiType: String, query: Map[String, String],
      pageToken: Option[String]): Ingest.Page =
    timed(ApiRegistry.counters.pageCalls) {
      val api = ApiRegistry.get(key)
      val all = apiType match {
        case "test" => Nil
        case "request_outline" => api.outline(query)
        case other => api.masterPages.getOrElse(other, null)
      }
      if (all == null) Ingest.Page(Nil, None, 404, Some(s"unknown endpoint $apiType"))
      else {
        val from = pageToken.map(_.toInt).getOrElse(0)
        val until = from + SyntheticApi.PageSize
        val page = all.slice(from, until)
        ApiRegistry.counters.bytes.addAndGet(page.map(SyntheticApi.utf8Bytes).sum)
        Ingest.Page(page, if (until < all.size) Some(until.toString) else None)
      }
    }

  def fetchDetail(apiType: String, id: String): Either[String, String] =
    timed(ApiRegistry.counters.detailCalls) {
      val api = ApiRegistry.get(key)
      if (api.failingIds(id)) Left(s"HTTP 500 for request $id")
      else {
        val doc = api.details.get(id)
        doc.foreach { d =>
          ApiRegistry.counters.bytes.addAndGet(SyntheticApi.utf8Bytes(d))
          ApiRegistry.counters.fetched.add(d)
        }
        doc.toRight(s"HTTP 404 for request $id")
      }
    }
}

/** Seeded generator of the two API states the ingest workloads use:
  * `before` (the state a cold ingest loads, from `baseSeed`) and
  * `after` (a small delta on top of it, from `deltaSeed`). The same
  * seeds give the same documents.
  *
  * The document shapes follow FIXTURES.md. The proportions do not come
  * from any source: the status mix, requests per user, the share of EC
  * orders, payment forms and attachments, the number of items, rows
  * and steps, and the size of the delta are assumptions, chosen so that
  * every silver table gets rows. perfbench/README.md lists them. */
final class SyntheticApi(baseSeed: Long, deltaSeed: Long, nRequests: Int) {
  import SyntheticApi._

  private val rng = new Random(baseSeed)
  private def pick[A](xs: Seq[A], r: Random = rng): A = xs(r.nextInt(xs.size))

  val groupCodes: Seq[String] = (1 to 12).map(i => f"G$i%03d")
  private val groupNames = groupCodes.map(c => c -> s"部署$c").toMap
  val positionCodes: Seq[String] = (1 to 6).map(i => f"P$i%02d")
  val projectCodes: Seq[(String, String)] = (1 to 10).map(i => (f"PJ$i%02d", s"案件$i"))
  /** Company 0 has an empty-string code, as the API serves it for
    * companies registered without one. */
  val companies: Seq[(String, String)] =
    ("" -> "株式会社ゼロ") +: (1 to 15).map(i => (f"C$i%03d", s"株式会社取引先$i"))

  val forms: Seq[Form] =
    Format3Forms.map(id => Form(id, s"立替精算$id", "expense", "transport",
      "expense", "書式3")) ++
      PaymentForms.map(id => Form(id, s"支払依頼$id", "payment", "payment",
        "payment", "書式4"))

  private val nUsers = math.max(8, nRequests / 25)
  val users: Seq[User] = (1 to nUsers).map { i =>
    val ng = rng.nextInt(4)
    val gs = rng.shuffle(groupCodes).take(ng).sorted
    // a null entry in user_groups is legal and must survive the shred
    val groups = if (ng > 0 && rng.nextDouble() < 0.15) gs :+ null else gs
    val ps = rng.shuffle(positionCodes).take(rng.nextInt(3)).sorted
      .map(p => p -> pick(groupCodes))
    val bank =
      if (rng.nextDouble() < 0.2) None
      else Some(Seq("0001", "みずほ", "ミズホ", if (i % 7 == 0) "" else "001", "本店",
        "ホンテン", "1", f"${1000000 + i}%07d", s"ユーザ$i"))
    User(100L + i, f"u$i%04d", s"user$i@example.com", s"姓$i", s"名$i",
      rng.nextDouble() < 0.3, 1L + rng.nextInt(3), groups, ps, bank)
  }

  private val gmPool: Seq[GM] = (1 to 8).map { i =>
    GM(s"マスタ$i", f"GM$i%02d", (1 to (i % 3)).map(k => s"追加$i-$k"))
  }

  private val nNew = math.max(4, nRequests / 25)
  /** Every request either state serves, in id order. The first
    * requests are settled and carry every generic master, so no
    * master record is ever orphaned by a later change. */
  private val allRequests: IndexedSeq[Request] =
    (0 until nRequests + nNew).map(i => request(i, isNew = i >= nRequests))

  private def ts(day: Int, sec: Int): String = {
    val d = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
    f"${d.getYear}%04d/${d.getMonthValue}%02d/${d.getDayOfMonth}%02d " +
      f"${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d"
  }
  private def date(day: Int): String = ts(day, 0).take(10)

  private def request(i: Int, isNew: Boolean): Request = {
    val r = new Random((if (isNew) deltaSeed else baseSeed) * 1000003L + i)
    val id = s"sa-${100000 + i}"
    val anchor = i < gmPool.size
    val form = if (anchor) forms(i % Format3Forms.size) else pick(forms, r)
    val day = if (isNew) 190 + r.nextInt(20) else r.nextInt(180)
    val applied = ts(day, 8 * 3600 + r.nextInt(10 * 3600))
    val status =
      if (anchor) "completed"
      else {
        val x = r.nextDouble()
        if (x < 0.08) "in_progress" else if (x < 0.12) "returned"
        else if (x < 0.76) "completed" else if (x < 0.84) "rejected"
        else if (x < 0.92) "canceled" else "canceled_after_completion"
      }
    val done = status == "completed" || status == "canceled_after_completion"
    val u = users(r.nextInt(users.size))
    val gc = u.groups.find(_ != null).getOrElse(groupCodes.head)
    val applicant = Applicant(u.code, u.last, u.first, gc, groupNames(gc),
      if (r.nextDouble() < 0.3) null else "主任")
    var fileSeq = 0
    def file(): FileRef = {
      fileSeq += 1
      FileRef(f"f-$id-$fileSeq%02d", s"添付$fileSeq.pdf", "pdf", u.last,
        ts(day, 7 * 3600 + fileSeq), deleted = r.nextDouble() < 0.05)
    }
    def files(p: Double): Seq[FileRef] = if (r.nextDouble() < p) Seq(file()) else Nil
    def gm(p: Double): Option[GM] = if (r.nextDouble() < p) Some(pick(gmPool, r)) else None
    val payForm = form.formType == "payment"

    // customized items: payment forms carry the 16 pivoted items
    val nItems = if (payForm) 16 else 2 + r.nextInt(4)
    val items = (0 until nItems).map { k =>
      val content =
        if (payForm && Set(0, 2, 3, 4, 10, 11)(k)) "%,d 円".formatLocal(java.util.Locale.ROOT, 100 + r.nextInt(500000))
        else if (r.nextDouble() < 0.1) null else s"内容$k"
      val table =
        if (!payForm && r.nextDouble() < 0.2)
          (0 until 1 + r.nextInt(2)).map(ri => (0 until 1 + r.nextInt(3)).map(ci =>
            Cell(ci.toLong, s"v$ri$ci", gm(0.1))))
        else Nil
      val itemGm = if (anchor && k == 0) Some(gmPool(i)) else gm(0.15)
      CItem(s"項目$k", content, itemGm, files(0.1), table)
    }
    val expense =
      if (payForm) None
      else {
        val specs = (0 until 1 + r.nextInt(2)).map { s =>
          ExpSpec(pick(Seq("交通費", "宿泊費", "会議費"), r), (1 to 1 + r.nextInt(4)).map { rn =>
            val cis = (0 until r.nextInt(3)).map { k =>
              val v = if (r.nextDouble() < 0.3) None else Some(CustomValue(
                null, null, if (r.nextDouble() < 0.5) null else "rc", pick(Seq("あり", "なし"), r),
                if (r.nextDouble() < 0.5) null else "memo",
                (0 until r.nextInt(3)).map(e => (s"拡張$e", s"値$e"))))
              CustomItem(s"領収書$k", "select", v)
            }
            ExpRow(rn, date(math.max(0, day - 1 - r.nextInt(5))), groupNames(gc),
              if (r.nextDouble() < 0.3) null else pick(projectCodes, r)._2,
              s"用務$rn", pick(Seq("電車", "バス", "タクシー", "新幹線"), r),
              100L + r.nextInt(50000), cis, files(0.15))
          })
        }
        val amount = specs.flatMap(_.rows).map(_.amount).sum
        Some(Expense(amount, "交通費", false, 0, 0, specs))
      }
    val payment =
      if (!payForm) None
      else Some(Payment(1000L + r.nextInt(900000),
        if (r.nextDouble() < 0.2) s"sa-${100000 + r.nextInt(math.max(1, i))}" else null,
        "支払", (0 until 1 + r.nextInt(2)).map { s =>
          val c = pick(companies, r)
          PaySpec("振込", (1 to 1 + r.nextInt(3)).map { rn =>
            PayRow(c._2, "みずほ", if (r.nextDouble() < 0.5) None else Some(1L),
              if (r.nextDouble() < 0.5) None else Some(1L + r.nextInt(900)), rn,
              if (r.nextDouble() < 0.3) null else date(day), s"請求$rn",
              1000L + r.nextInt(100000))
          })
        }))
    val ec =
      if (r.nextDouble() < 0.15)
        Some(Ec(s"o-$id", if (r.nextDouble() < 0.5) null else ts(day + 30, 0),
          s"千代田区$i", (1 to 1 + r.nextInt(3)).map(k =>
            EcRow(k.toLong, s"品目$k", s"item-$i-$k", 100L + r.nextInt(5000),
              1L + r.nextInt(4)))))
      else None
    val nSteps = 1 + r.nextInt(3)
    val approval =
      if (r.nextDouble() < 0.05) None
      else {
        var cseq = 0
        val steps = (0 until nSteps).map { s =>
          val stepDone = done || s < nSteps - 1
          val approvers = (0 until 1 + r.nextInt(2)).map { a =>
            val ap = users((i + s + a) % users.size)
            Approver(if (stepDone) "承認済み" else "未承認",
              if (stepDone) ts(day + 1 + s, 10 * 3600 + a) else null,
              ap.last + ap.first, ap.code)
          }
          val comments = (0 until r.nextInt(3)).map { _ =>
            cseq += 1
            Comment(approvers.head.name, ts(day + 1 + s, 11 * 3600 + cseq),
              s"確認しました $id-$cseq", deleted = r.nextDouble() < 0.05)
          }
          Step(s"承認$s", "all", if (stepDone) "done" else "pending",
            approvers, comments, files(0.1))
        }
        val logs = if (r.nextDouble() < 0.3)
          (0 until 1 + r.nextInt(2)).map(k => (ts(day, 9 * 3600 + k), u.last)) else Nil
        val aacComments = if (done && r.nextDouble() < 0.2)
          Seq(Comment(u.last, ts(day + 5, 9 * 3600), s"完了後 $id", deleted = false))
        else Nil
        Some(Approval(r.nextDouble() < 0.1, logs, steps, aacComments,
          if (done) files(0.1) else Nil))
      }
    val viewers = (0 until r.nextInt(4)).map { k =>
      Viewer(s"閲覧者$k", "viewed", if (r.nextDouble() < 0.2) null else groupNames(gc),
        if (r.nextDouble() < 0.5) null else "一般")
    }
    // default attachments: sometimes a repeated entry, sometimes a file
    // that a customized item already carries (file id dedup)
    val extra = (0 until r.nextInt(3)).map(_ => file())
    val shared = items.flatMap(_.files).take(if (r.nextDouble() < 0.5) 1 else 0)
    val repeated = extra.take(if (r.nextDouble() < 0.3) 1 else 0)
    val defaults = (extra ++ shared ++ repeated).sortBy(_.id)
    val modifyLogs = (0 until r.nextInt(3)).map { k =>
      ModifyLog(ts(day, 12 * 3600 + k), u.last, (0 until 1 + r.nextInt(2)).map { dk =>
        LogDetail(s"項目$dk", s"${k * 10}", s"${k * 10 + 1}",
          (0 until r.nextInt(3)).map(sk => (s"changed$sk", s"+$sk")))
      })
    }
    val detail = Detail(items, expense, payment, ec, approval, viewers, defaults,
      modifyLogs)
    val total = expense.map(_.amount).orElse(payment.map(_.amount)).getOrElse(0L)
    Request(id, s"申請$i", status, form, applied, applicant,
      if (r.nextDouble() < 0.3) (null, null) else pick(projectCodes, r),
      if (done) null else "承認待ち", total,
      if (payForm && done) ts(day + 20, 0) else null,
      if (done) ts(day + nSteps + 1, 15 * 3600) else null, detail)
  }

  private def journals(reqs: Seq[Request]): Seq[Journal] =
    reqs.filter(r => JournalForms(r.form.id)).flatMap { r =>
      val isNew = r.id.drop(3).toLong - 100000 >= nRequests
      val jr = new Random((if (isNew) deltaSeed else baseSeed) ^ r.id.hashCode.toLong)
      val base = 9000000L + r.id.drop(3).toLong * 2
      val company = companies(jr.nextInt(companies.size))
      val user = users.find(_.code == r.applicant.code).get
      val items = (0 until jr.nextInt(3)).map(k => (s"部門$k", groupCodes(k)))
      Seq(Journal(base, "book", r.appliedDate.take(10).replace('/', '-'), r.id,
          company, user, r.totalAmount, items),
        Journal(base + 1, "pay", r.appliedDate.take(10).replace('/', '-'), r.id,
          company, user, r.totalAmount, Nil))
    }

  private def state(usersNow: Seq[User], reqs: Seq[Request], failing: Set[String]) =
    new ApiState(usersNow,
      groupCodes.map(c => obj("group_code" -> JString(c),
        "group_name" -> JString(groupNames(c)),
        "parent_group_code" -> (if (c == groupCodes.head) JNull
          else JString(groupCodes.head)), "description" -> JString(""))),
      positionCodes.map(c => obj("position_code" -> JString(c),
        "position_name" -> JString(s"役職$c"), "description" -> JNull)),
      projectCodes.map { case (c, n) => obj("project_code" -> JString(c),
        "project_name" -> JString(n)) },
      companies.zipWithIndex.map { case ((c, n), k) => obj(
        "company_code" -> JString(c), "company_name" -> JString(n),
        "zip_code" -> JString("100-0001"), "address" -> JString("東京都"),
        "bank_code" -> JString(if (k % 3 == 0) "" else "0001"),
        "bank_name" -> JString("みずほ"),
        "branch_code" -> JString(if (k % 2 == 0) "" else f"$k%03d"),
        "branch_name" -> JString("本店"), "bank_account_type_code" -> JString("1"),
        "bank_account_code" -> JString(f"${2000000 + k}%07d"),
        "bank_account_name_kana" -> JString(s"カ）トリヒキサキ$k"),
        "invoice_registrated_number" -> JString(f"T${k}%013d")) },
      forms, journals(reqs), reqs, failing)

  /** The state a cold ingest loads: the first `nRequests` requests. */
  lazy val before: ApiState = state(users, allRequests.take(nRequests), Set.empty)

  /** The small delta on top of [[before]]: some open requests change
    * status, some completed ones are canceled after completion, new
    * requests arrive (a few of which fail to fetch), and some users
    * lose a group. */
  lazy val after: ApiState = {
    val r = new Random(deltaSeed * 31 + 7)
    val old = allRequests.take(nRequests)
    val open = old.filter(x => !Terminal(x.status))
    val completed = old.drop(gmPool.size).filter(_.status == "completed")
    val nChange = math.min(open.size, math.max(2, nRequests * 4 / 100))
    val changed = r.shuffle(open).take(nChange).map(x => x.id -> advance(x, r)).toMap
    val nCancel = math.min(completed.size, math.max(1, nRequests / 100))
    val canceled = r.shuffle(completed).take(nCancel).map(x => x.id ->
      x.copy(status = "canceled_after_completion", finalApprovedDate = DeltaTs)).toMap
    val fresh = allRequests.drop(nRequests)
    val failing = r.shuffle(fresh).take(math.max(1, fresh.size / 8)).map(_.id).toSet
    val multi = users.filter(_.groups.count(_ != null) >= 2)
    val losers = r.shuffle(multi).take(math.max(1, users.size / 20))
      .map(_.id).toSet
    val usersNow = users.map(u =>
      if (losers(u.id)) u.copy(groups = u.groups.tail) else u)
    state(usersNow, old.map(x => changed.getOrElse(x.id, canceled.getOrElse(x.id, x))) ++
      fresh, failing)
  }

  /** Ids whose document differs between [[before]] and [[after]] or is
    * new in [[after]]: the detail fetches an incremental run needs. */
  lazy val changedIds: Set[String] = {
    val was = before.details
    after.details.collect { case (id, doc) if !was.get(id).contains(doc) => id }.toSet
  }

  /** An open request moves on: its last step is decided, a comment is
    * added, and the status becomes terminal (or flips between the two
    * open statuses). Child collections only grow, so no silver child
    * row is orphaned. */
  private def advance(x: Request, r: Random): Request = {
    val next = pick(Seq("completed", "completed", "rejected", "flip"), r)
    val status = if (next == "flip")
      (if (x.status == "in_progress") "returned" else "in_progress") else next
    val terminal = status != "in_progress" && status != "returned"
    val approval = x.detail.approval.map { a =>
      val last = a.steps.last
      val decided = last.copy(status = if (terminal) "done" else last.status,
        approvers = last.approvers.map(ap => if (terminal)
          ap.copy(status = "承認済み", approvedDate = DeltaTs) else ap),
        comments = last.comments :+ Comment(last.approvers.head.name, DeltaTs,
          s"更新 ${x.id}", deleted = false))
      a.copy(steps = a.steps.init :+ decided)
    }
    x.copy(status = status, flowStep = if (terminal) null else x.flowStep,
      finalApprovedDate = if (status == "completed") DeltaTs else x.finalApprovedDate,
      detail = x.detail.copy(approval = approval))
  }

  /** Share of open-status requests in [[before]]: the ids every
    * incremental run re-fetches. */
  def openShare: Double =
    before.requests.count(x => !Terminal(x.status)).toDouble / before.requests.size
}

object SyntheticApi {
  val PageSize = 100
  def utf8Bytes(s: String): Long = s.getBytes("UTF-8").length.toLong
  val Format3Forms: Seq[Long] = Seq(14789304L, 21063509L, 39901682L, 54142953L,
    64039825L, 66265686L, 70659861L, 84927058L, 87208398L, 88302404L)
  val PaymentForms: Seq[Long] = Seq(41052205L, 75858728L, 11171823L, 9782279L,
    29608169L)
  val JournalForms: Set[Long] = Set(41052205L, 75858728L)
  val Terminal: Set[String] =
    Set("completed", "rejected", "canceled", "canceled_after_completion")
  /** When the delta happens: after every date of the `before` state. */
  val DeltaTs = "2024/08/15 12:00:00"
}
