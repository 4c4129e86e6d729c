package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Sizes of a generated tenant and of the one upstream day the
  * delta workload replays. */
final case class TenantSpec(
    requests: Int,
    forms: Int = 20,
    users: Int,
    groups: Int,
    projects: Int,
    companies: Int,
    journals: Int,
    positions: Int = 10,
    openShare: Double = 0.03,
    newPerDay: Int,
    completedPerDay: Int,
    canceledPerDay: Int,
    editedUsers: Int,
    removedUsers: Int)

/** A seeded Jobcan tenant: every document is a pure function of
  * (seed, id, version), so a fetcher shipped to executors carries only
  * the seed and the sizes. Day 0 is the backfill state; day 1 is one
  * upstream day (new requests, open requests completed, cancellations
  * after completion, edited and removed users).
  *
  * Request documents are mutated copies of the bundled fixtures, with
  * the same mutation axes as `scripts/gen_fixture.py`: child-array
  * lengths, null patterns, amounts, dates and free text. Join codes
  * point at generated masters, so every view joins.
  */
final class Tenant(val seed: Long, val spec: TenantSpec)
    extends Serializable {
  import Tenant._

  // ---- identity -------------------------------------------------------

  def requestId(i: Int): String = f"rq-$i%06d"
  def requestIndex(id: String): Option[Int] =
    if (id.startsWith("rq-")) id.drop(3).toIntOption else None
  def formId(k: Int): Long =
    if (k < KnownFormIds.size) KnownFormIds(k) else 90000000L + k
  def formOf(i: Int): Int = i % spec.forms
  /** Forms 0–9 are the format-3 expense forms, 10–14 the format-4
    * payment forms; the rest alternate. */
  def isPayment(k: Int): Boolean =
    (k >= 10 && k < 15) || (k >= 15 && k % 2 == 1)

  /** Requests that exist upstream on `day`. */
  def requestCount(day: Int): Int =
    spec.requests + (if (day >= 1) spec.newPerDay else 0)

  // ---- the day-1 change sets -----------------------------------------

  private def draw(i: Int, salt: Long): Double =
    new SplittableRandom(mix(seed, i, salt)).nextDouble()

  /** Open (in_progress) on day 0. */
  def openAtStart(i: Int): Boolean =
    i < spec.requests && draw(i, 1) < spec.openShare

  @transient private lazy val day1 = {
    val open = (0 until spec.requests).filter(openAtStart)
    val rng = new SplittableRandom(mix(seed, -1, 2))
    val completed = shuffle(open, rng).take(spec.completedPerDay).toSet
    val closed = (0 until spec.requests).filterNot(openAtStart)
    val canceled = shuffle(closed, rng).take(spec.canceledPerDay).toSet
    val users = shuffle(0 until spec.users, rng)
    val removed = users.take(spec.removedUsers).toSet
    val edited = users.slice(spec.removedUsers,
      spec.removedUsers + spec.editedUsers).toSet
    (completed, canceled, edited, removed)
  }
  def completedOnDay1: Set[Int] = day1._1
  def canceledOnDay1: Set[Int] = day1._2
  def editedUsers: Set[Int] = day1._3
  def removedUsers: Set[Int] = day1._4

  /** The document version of request `i` on `day`: 0 as applied,
    * 1 after its day-1 change, -1 when it does not exist yet. */
  def requestVersion(i: Int, day: Int): Int =
    if (i >= requestCount(day)) -1
    else if (day >= 1 && (completedOnDay1(i) || canceledOnDay1(i))) 1
    else 0

  def status(i: Int, day: Int): String =
    if (requestVersion(i, day) == 1)
      if (canceledOnDay1(i)) "canceled_after_completion" else "completed"
    else if (openAtStart(i)) "in_progress"
    else "completed"

  /** Seconds since the epoch. Day-0 requests spread over the two years
    * before T0; day-1 requests arrive an hour or more after T0. */
  def appliedAt(i: Int): Long =
    if (i < spec.requests) T0 - 60L - (draw(i, 3) * TwoYears).toLong
    else T0 + 3600L + (draw(i, 4) * 82800).toLong

  /** Completion time: a few days after application, or one minute after
    * T0 for a day-1 change (so the completed_after re-sweep sees a
    * cancellation whose request was applied long before). */
  def completedAt(i: Int, day: Int): Option[Long] = status(i, day) match {
    case "in_progress" => None
    case _ if requestVersion(i, day) == 1 => Some(T0 + 60L)
    case _ => Some(appliedAt(i) + (draw(i, 5) * 432000).toLong)
  }

  def userVersion(u: Int, day: Int): Int =
    if (day >= 1 && removedUsers(u)) -1
    else if (day >= 1 && editedUsers(u)) 1
    else 0

  // ---- documents -------------------------------------------------------

  def outlineDoc(i: Int, day: Int): String = {
    val o = Json.createObjectNode()
    o.put("id", requestId(i))
    o.put("form_id", formId(formOf(i)))
    o.put("status", status(i, day))
    o.put("applied_date", slash(appliedAt(i)))
    Json.writeValueAsString(o)
  }

  /** The detail document of request `i` on `day`; None if it does not
    * exist upstream yet. */
  def requestDoc(i: Int, day: Int): Option[String] =
    if (requestVersion(i, day) < 0) None
    else Some(Json.writeValueAsString(requestNode(i, day)))

  def requestNode(i: Int, day: Int): ObjectNode = {
    val k = formOf(i)
    val st = status(i, day)
    val done = st != "in_progress"
    // the template follows the request as applied, so a day-1 change
    // keeps the document's shape
    val proto =
      if (isPayment(k)) RequestSa12 else if (openAtStart(i)) RequestSa11
      else RequestSa10
    val d = proto.deepCopy()
    // structure from (seed, id); only status-dependent fields follow
    // the version, so a completed request keeps its rows and steps
    val rng = new SplittableRandom(mix(seed, i, 6))
    d.put("id", requestId(i))
    d.put("status", st)
    d.put("form_id", formId(k))
    d.put("form_name", formName(k))
    d.put("title", txt(rng) + "精算")
    d.put("applied_date", slash(appliedAt(i)))
    val applicant = rng.nextInt(spec.users)
    d.put("applicant_code", userCode(applicant))
    val g = groupCode(rng.nextInt(spec.groups))
    d.put("applicant_group_code", g)
    d.put("group_code", g)
    val pj = rng.nextInt(spec.projects)
    d.put("project_code", projectCode(pj))
    putNullable(d, "project_name",
      maybeNull(rng, s"案件$pj", 0.25))
    putNullable(d, "flow_step_name",
      maybeNull(rng, "課長承認", 0.4))
    putNullable(d, "pay_at", maybeNull(rng, slash(appliedAt(i) + 86400), 0.5))
    putNullable(d, "final_approval_period",
      maybeNull(rng, slash(appliedAt(i) + 172800), 0.6))
    putNullable(d, "final_approved_date",
      completedAt(i, day).map(slash).orNull)
    val det = d.get("detail").asInstanceOf[ObjectNode]
    mutateCustomizedItems(rng, det, YenSlots.getOrElse(formId(k), Set.empty))
    det.get("expense") match {
      case exp: ObjectNode =>
        val total = mutateExpense(rng, exp, i)
        d.put("total_amount", total)
      case _ =>
    }
    det.get("payment") match {
      case pay: ObjectNode =>
        val amount = 1000 + rng.nextInt(899000)
        pay.put("amount", amount)
        pay.put("content_description", txt(rng))
        d.put("total_amount", amount)
      case _ =>
    }
    mutateApproval(rng, det.get("approval_process").asInstanceOf[ObjectNode],
      done, i)
    d
  }

  /** Item contents; the slots a form keeps amounts in hold yen
    * strings, like the real form layouts. */
  private def mutateCustomizedItems(rng: SplittableRandom,
      det: ObjectNode, yenSlots: Set[Int]): Unit = {
    var idx = 0
    det.get("customized_items").forEach { item0 =>
      val item = item0.asInstanceOf[ObjectNode]
      val content = Option(item.get("content")).filterNot(_.isNull)
        .map(_.asText)
      if (yenSlots(idx) || content.exists(_.contains("円")))
        item.put("content", yen(rng))
      else if (content.exists(_ != "-"))
        item.put("content", pick(rng, Seq("あり", "なし", "確認済", txt(rng))))
      item.get("table") match {
        case t: ArrayNode if t.size > 0 =>
          val cell = t.get(0).get(0)
          val rows = Json.createArrayNode()
          for (r <- 0 until 1 + rng.nextInt(3)) {
            val row = rows.addArray()
            for (c <- 0 until 1 + rng.nextInt(3)) {
              val cc = cell.deepCopy().asInstanceOf[ObjectNode]
              cc.put("column_number", c)
              cc.put("value", s"v$r$c")
              row.add(cc)
            }
          }
          item.set[JsonNode]("table", rows)
        case _ =>
      }
      idx += 1
    }
  }

  /** Specifics groups × rows, the child axis the 明細 views walk.
    * Returns the new total amount. */
  private def mutateExpense(rng: SplittableRandom, exp: ObjectNode,
      i: Int): Int = {
    exp.put("content_description", txt(rng))
    exp.put("advanced_payment",
      if (rng.nextInt(3) == 0) rng.nextInt(5000) else 0)
    val protoGroup = exp.get("specifics").get(0)
    val protoRow = protoGroup.get("rows").get(0)
    val groups = Json.createArrayNode()
    var total = 0
    for (_ <- 0 until 1 + rng.nextInt(2)) {
      val g = protoGroup.deepCopy().asInstanceOf[ObjectNode]
      g.put("type", pick(rng, Seq("交通費", "宿泊費", "雑費")))
      val rows = Json.createArrayNode()
      for (n <- 1 to 1 + rng.nextInt(4)) {
        val r = protoRow.deepCopy().asInstanceOf[ObjectNode]
        val amount = 100 + rng.nextInt(49900)
        total += amount
        r.put("row_number", n.toString)
        r.put("use_date", slashDate(appliedAt(i) - rng.nextInt(10) * 86400L))
        r.put("amount", amount)
        r.put("breakdown", pick(rng, Breakdowns))
        r.put("content_description", txt(rng))
        putNullable(r, "project_name", maybeNull(rng, "案件A", 0.3))
        rows.add(r)
      }
      g.set[JsonNode]("rows", rows)
      groups.add(g)
    }
    exp.set[JsonNode]("specifics", groups)
    exp.put("amount", total)
    total
  }

  private def mutateApproval(rng: SplittableRandom, ap: ObjectNode,
      done: Boolean, i: Int): Unit = {
    val protoStep = ap.get("steps").get(0)
    val protoAppr = protoStep.get("approvers").get(0)
    val steps = Json.createArrayNode()
    val nSteps = 1 + rng.nextInt(4)
    for (si <- 0 until nSteps) {
      val s = protoStep.deepCopy().asInstanceOf[ObjectNode]
      s.put("name", StepNames(si % StepNames.size))
      s.put("condition", pick(rng, Seq("all", "any")))
      val stepDone = done || si < nSteps - 1
      s.put("status", if (stepDone) "done" else "in_progress")
      val approvers = Json.createArrayNode()
      for (_ <- 0 until 1 + rng.nextInt(3)) {
        val a = protoAppr.deepCopy().asInstanceOf[ObjectNode]
        val u = rng.nextInt(spec.users)
        a.put("approver_name", s"承認者$u")
        a.put("approver_code", userCode(u))
        if (stepDone) {
          a.put("status", "承認済み")
          a.put("approved_date",
            slash(appliedAt(i) + 3600L * (1 + si) + rng.nextInt(3600)))
        } else {
          a.put("status", "未承認")
          a.putNull("approved_date")
        }
        approvers.add(a)
      }
      s.set[JsonNode]("approvers", approvers)
      steps.add(s)
    }
    ap.set[JsonNode]("steps", steps)
  }

  // ---- masters -----------------------------------------------------------

  def userCode(u: Int): String = f"u$u%05d"
  def groupCode(g: Int): String = f"G$g%03d"
  def projectCode(p: Int): String = f"PJ$p%03d"
  def companyCode(c: Int): String = f"C$c%03d"
  def positionCode(p: Int): String = f"P$p%02d"
  def formName(k: Int): String =
    if (isPayment(k)) s"支払依頼申請書（書式$k）" else s"立替精算・書式$k"

  /** The documents a master endpoint serves on `day`, in page order. */
  def masterDocs(api: String, day: Int): IndexedSeq[String] = api match {
    case "users" => (0 until spec.users).filter(userVersion(_, day) >= 0)
      .map(u => Json.writeValueAsString(userNode(u, day)))
    case "groups" => (0 until spec.groups).map { g =>
      val o = Group1.deepCopy()
      o.put("group_code", groupCode(g))
      o.put("group_name", s"部署$g")
      putNullable(o, "parent_group_code",
        if (g == 0) null else groupCode((g - 1) / 5))
      Json.writeValueAsString(o)
    }
    case "positions" => (0 until spec.positions).map { p =>
      val o = Position1.deepCopy()
      o.put("position_code", positionCode(p))
      o.put("position_name", s"役職$p")
      Json.writeValueAsString(o)
    }
    case "projects" => (0 until spec.projects).map { p =>
      val o = Project1.deepCopy()
      o.put("project_code", projectCode(p))
      o.put("project_name", s"案件$p")
      Json.writeValueAsString(o)
    }
    case "companies" => (0 until spec.companies).map { c =>
      val o = Company1.deepCopy()
      o.put("company_code", companyCode(c))
      o.put("company_name", s"株式会社テスト$c")
      Json.writeValueAsString(o)
    }
    case "fix_journals" => (0 until spec.journals).map { j =>
      Json.writeValueAsString(journalNode(j))
    }
    case "forms" => (0 until spec.forms).map { k =>
      val o = Form1.deepCopy()
      o.put("id", formId(k))
      o.put("name", formName(k))
      val kind = if (isPayment(k)) "payment" else "expense"
      o.put("category", kind)
      o.put("form_type", kind)
      Json.writeValueAsString(o)
    }
    case _ => IndexedSeq.empty
  }

  def userNode(u: Int, day: Int): ObjectNode = {
    val rng = new SplittableRandom(mix(seed, u, 7))
    val d = (if (u % 2 == 0) User1 else User2).deepCopy()
    d.put("id", 100000 + u)
    d.put("user_code", userCode(u))
    d.put("email", s"user$u@example.com")
    d.put("memo",
      if (userVersion(u, day) == 1) s"edited on day $day" else txt(rng))
    d.put("is_approver", rng.nextDouble() < 0.7)
    d.put("user_role", rng.nextInt(3))
    val groups = d.putArray("user_groups")
    val g = rng.nextInt(spec.groups)
    groups.add(groupCode(g))
    if (rng.nextDouble() < 0.3) groups.addNull()
    val positions = d.putArray("user_positions")
    if (rng.nextDouble() < 0.6) {
      val p = positions.addObject()
      p.put("position_code", positionCode(rng.nextInt(spec.positions)))
      p.put("group_code", groupCode(g))
    }
    if (u % 2 == 0 && rng.nextDouble() < 0.25) d.putNull("user_bank_account")
    d
  }

  def journalNode(j: Int): ObjectNode = {
    val rng = new SplittableRandom(mix(seed, j, 8))
    val d = FixJournal1.deepCopy()
    d.put("journal_id", 9000 + j)
    d.put("view_id", requestId(rng.nextInt(spec.requests)))
    d.put("company_code", companyCode(rng.nextInt(spec.companies)))
    d.put("user_code", userCode(rng.nextInt(spec.users)))
    for (side <- Seq("debit", "credit")) {
      val amt = 100 + rng.nextInt(399900)
      val tax = if (rng.nextBoolean()) amt / 11 else 0
      d.put(s"${side}_amount", amt)
      d.put(s"${side}_tax_amount", tax)
      d.put(s"${side}_amount_without_tax", amt - tax)
    }
    d.put("journal_summary", txt(rng))
    val items = d.putArray("custom_journal_item_list")
    for (n <- 0 until rng.nextInt(4)) {
      val it = items.addObject()
      it.put("key", s"k$n")
      it.put("value", txt(rng))
      it.put("generic_master_record_code", groupCode(n))
    }
    d
  }

  // ---- the truth the output checks compare against -----------------------

  /** Counts a correct sync of `day` leaves in silver, derived from the
    * same documents the API serves. */
  def truth(day: Int): Truth = {
    var rows = 0L
    var steps = 0L
    var expenseRequests = 0L
    val n = requestCount(day)
    var i = 0
    while (i < n) {
      val det = requestNode(i, day).get("detail")
      val exp = det.get("expense")
      if (exp != null && !exp.isNull) {
        expenseRequests += 1
        exp.get("specifics").forEach(g => rows += g.get("rows").size)
      }
      steps += det.get("approval_process").get("steps").size
      i += 1
    }
    val wm = (0 until n).groupBy(formOf).map { case (k, is) =>
      formId(k).toString -> slash(is.map(appliedAt).max)
    }
    Truth(requests = n, users = spec.users, expenseRows = rows,
      approvalSteps = steps, watermarks = wm)
  }
}

final case class Truth(requests: Long, users: Long, expenseRows: Long,
    approvalSteps: Long, watermarks: Map[String, String])

object Tenant {
  /** T0 = 2026-01-01T00:00:00Z, the end of the backfilled history. */
  val T0: Long = 1767225600L
  val TwoYears: Long = 730L * 86400L

  /** The form ids the BI views filter on (format 3 and format 4). */
  val KnownFormIds: IndexedSeq[Long] = IndexedSeq(14789304L, 21063509L,
    39901682L, 54142953L, 64039825L, 66265686L, 70659861L, 84927058L,
    87208398L, 88302404L, 41052205L, 75858728L, 11171823L, 9782279L,
    29608169L)

  /** About 20,000 requests over two years for a mid-size company. */
  def full: TenantSpec = TenantSpec(requests = 20000, users = 1000,
    groups = 50, projects = 100, companies = 20, journals = 500,
    newPerDay = 200, completedPerDay = 100, canceledPerDay = 5,
    editedUsers = 10, removedUsers = 1)

  /** `full` scaled down by `div`; the day's cancellations and the
    * removed user stay as they are, so every change kind occurs. */
  def scaled(div: Int): TenantSpec = {
    val f = full
    def s(n: Int) = math.max(1, n / div)
    f.copy(requests = s(f.requests), users = s(f.users),
      groups = s(f.groups), projects = s(f.projects),
      companies = s(f.companies), journals = s(f.journals),
      newPerDay = s(f.newPerDay), completedPerDay = s(f.completedPerDay),
      editedUsers = s(f.editedUsers))
  }

  /** Customized-item slots the format-4 payment views parse as yen
    * amounts, per form id. */
  val YenSlots: Map[Long, Set[Int]] = Map(41052205L -> Set(0),
    11171823L -> Set(2, 10), 9782279L -> Set(3, 11), 29608169L -> Set(4))

  private[perfbench] val Json = new ObjectMapper()

  private def resource(name: String): ObjectNode = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    require(in != null, s"missing fixture $name")
    try Json.readTree(in).asInstanceOf[ObjectNode] finally in.close()
  }
  private lazy val RequestSa10 = resource("request_sa10.json")
  private lazy val RequestSa11 = resource("request_sa11.json")
  private lazy val RequestSa12 = resource("request_sa12.json")
  private lazy val User1 = resource("user1.json")
  private lazy val User2 = resource("user2.json")
  private lazy val Group1 = resource("group1.json")
  private lazy val Position1 = resource("position1.json")
  private lazy val Project1 = resource("project1.json")
  private lazy val Company1 = resource("company1.json")
  private lazy val Form1 = resource("form1.json")
  private lazy val FixJournal1 = resource("fix_journal1.json")

  private val Words = Seq("精算", "出張", "会議", "備品", "交際費", "研修",
    "移動", "宿泊", "打合せ", "資料", "郵送", "通信", "雑費")
  private val Breakdowns = Seq("電車", "タクシー", "バス", "新幹線", "飛行機",
    "徒歩")
  private val StepNames = Seq("課長承認", "部長承認", "本部長承認", "経理確認",
    "社長決裁")

  private val SlashTs = DateTimeFormatter.ofPattern("yyyy/MM/dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)
  private val SlashD = DateTimeFormatter.ofPattern("yyyy/MM/dd")
    .withZone(ZoneOffset.UTC)
  def slash(sec: Long): String = SlashTs.format(Instant.ofEpochSecond(sec))
  def slashDate(sec: Long): String = SlashD.format(Instant.ofEpochSecond(sec))

  /** A stable 64-bit mix of (seed, index, salt). */
  def mix(seed: Long, i: Long, salt: Long): Long = {
    var h = seed * 0x9E3779B97F4A7C15L + i
    h = (h ^ (h >>> 31)) * 0xBF58476D1CE4E5B9L + salt
    h = (h ^ (h >>> 29)) * 0x94D049BB133111EBL
    h ^ (h >>> 32)
  }

  private def shuffle(xs: IndexedSeq[Int], rng: SplittableRandom): IndexedSeq[Int] = {
    val a = xs.toArray
    var k = a.length - 1
    while (k > 0) {
      val j = rng.nextInt(k + 1)
      val t = a(k); a(k) = a(j); a(j) = t
      k -= 1
    }
    a.toIndexedSeq
  }

  private def pick[A](rng: SplittableRandom, xs: Seq[A]): A =
    xs(rng.nextInt(xs.size))
  private def txt(rng: SplittableRandom): String =
    (0 until 1 + rng.nextInt(2)).map(_ => pick(rng, Words)).mkString
  private def yen(rng: SplittableRandom): String =
    f"${100 + rng.nextInt(499900)}%,d 円"
  private def maybeNull(rng: SplittableRandom, v: String, p: Double): String =
    if (rng.nextDouble() < p) null else v
  private def putNullable(o: ObjectNode, k: String, v: String): Unit =
    if (v == null) o.putNull(k) else o.put(k, v)
}
