package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** Output checks. Each returns the list of mismatches against what the
  * generator says a correct program produces; empty means correct. */
object Checks {
  val Format3: Set[Long] = Tenant.KnownFormIds.take(10).toSet
  val Format33 = 54142953L

  private val truths = new java.util.concurrent.ConcurrentHashMap[(Tenant, Int), Truth]
  def truth(t: Tenant, day: Int): Truth =
    truths.computeIfAbsent((t, day), _ => t.truth(day))

  /** After a sync of `day`: silver counts, every request's status, one
    * watermark per form at the newest applied_date, and an empty DLQ. */
  def sync(spark: SparkSession, t: Tenant, dir: Path, day: Int): Seq[String] = {
    val want = truth(t, day)
    def table(n: String) = spark.read.parquet(s"$dir/silver/$n")
    val counts = Seq("requests" -> want.requests, "users" -> want.users,
      "expense_specific_rows" -> want.expenseRows,
      "approval_steps" -> want.approvalSteps).flatMap { case (n, w) =>
      val got = table(n).count()
      if (got == w) None else Some(s"silver $n has $got rows, want $w")
    }
    val status = table("requests").select("id", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val stale = (0 until t.requestCount(day)).filterNot(i =>
      status.get(t.requestId(i)).contains(t.status(i, day)))
    val statusErr = stale.headOption.map(i => s"${stale.size} requests " +
      s"without their current status, e.g. ${t.requestId(i)} is " +
      s"${status.get(t.requestId(i))}, want ${t.status(i, day)}")
    val wm = table("_watermarks").collect().map(r => r.getString(0) ->
      Tenant.slash(r.getTimestamp(1).getTime / 1000)).toMap
    val wmErr = if (wm == want.watermarks) None
      else Some(s"watermarks ${wm.toSeq.sorted.take(3)}, want " +
        s"${want.watermarks.toSeq.sorted.take(3)} (${want.watermarks.size} forms)")
    val dlq = graft.operators.ParquetMerge.read(spark, s"$dir/silver/_dlq")
      .map(_.count()).getOrElse(0L)
    val dlqErr = if (dlq == 0) None else Some(s"_dlq holds $dlq entries")
    counts ++ statusErr ++ wmErr ++ dlqErr
  }

  /** Rows every registered view returns for the day-0 tenant, derived
    * from the generated documents. */
  def viewRows(t: Tenant): Map[String, Long] = {
    val n = t.requestCount(0)
    var approvers, history, expenseRows, f3, f33, f3Rows, f33Rows = 0L
    val perForm = Array.fill(t.spec.forms)(0L)
    val completedTemplate = Array.fill(t.spec.forms)(false)
    for (i <- 0 until n) {
      val k = t.formOf(i)
      val fid = t.formId(k)
      val det = t.requestNode(i, 0).get("detail")
      var rows = 0L
      val exp = det.get("expense")
      if (exp != null && !exp.isNull)
        exp.get("specifics").forEach(g => rows += g.get("rows").size)
      expenseRows += rows
      var done = false
      det.get("approval_process").get("steps").forEach { s =>
        s.get("approvers").forEach { a =>
          approvers += 1
          if (a.get("status").asText == "承認済み") done = true
        }
      }
      if (done) history += 1
      perForm(k) += 1
      if (t.status(i, 0) != "in_progress") completedTemplate(k) = true
      if (Format3(fid)) { f3 += 1; f3Rows += math.max(1L, rows) }
      if (fid == Format33) { f33 += 1; f33Rows += math.max(1L, rows) }
    }
    // customized items per form: 8 on the payment template; 2 on the
    // completed expense template, 1 on the open one
    val formItems = (0 until t.spec.forms).map(k =>
      if (t.isPayment(k)) 8L else if (completedTemplate(k)) 2L else 1L).sum
    val userGroups = (0 until t.spec.users)
      .map(u => t.userNode(u, 0).get("user_groups").size.toLong).sum
    def paymentForm(id: Long) =
      (0 until t.spec.forms).find(t.formId(_) == id).map(perForm(_)).getOrElse(0L)
    Map(
      "view_user_details" -> t.spec.users.toLong,
      "view_user_group_position" -> userGroups,
      "view_groups" -> t.spec.groups.toLong,
      "view_positions" -> t.spec.positions.toLong,
      "view_forms" -> t.spec.forms.toLong,
      "view_companies" -> t.spec.companies.toLong,
      "view_request_details" -> n.toLong,
      "view_approval_process" -> approvers,
      "view_expense_specifics" -> expenseRows,
      "view_form_items" -> formItems,
      "view_form_items_by_name" -> formItems,
      "view_request_approval_history" -> history,
      "view_expense_report_f3" -> f3,
      "view_expense_report_f3_detail" -> f3Rows,
      "view_expense_report_f33" -> f33,
      "view_expense_report_f33_detail" -> f33Rows,
      "view_payment_request_41" -> paymentForm(41052205L),
      "view_payment_request_42" -> paymentForm(75858728L),
      "view_payment_request_43" -> paymentForm(11171823L),
      "view_payment_request_44" -> paymentForm(9782279L),
      "view_payment_request_45" -> paymentForm(29608169L))
  }

  /** Reassembled request ids equal the generated id set, and there is
    * one master document per master row. */
  def reassembled(t: Tenant, ids: Seq[String], masters: Long): Seq[String] = {
    val want = (0 until t.requestCount(0)).map(t.requestId).toSet
    val got = ids.toSet
    val wantMasters = (t.spec.users + t.spec.journals + t.spec.companies +
      t.spec.forms + t.spec.groups + t.spec.positions + t.spec.projects).toLong
    (if (got == want && ids.size == want.size) Nil
     else Seq(s"reassembled ${ids.size} request docs (${got.size} distinct, " +
       s"${(want -- got).size} missing), want ${want.size}")) ++
      (if (masters == wantMasters) Nil
       else Seq(s"reassembled $masters master docs, want $wantMasters"))
  }
}
