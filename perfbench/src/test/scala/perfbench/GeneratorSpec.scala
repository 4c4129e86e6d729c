package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator and the fetcher, without Spark. */
class GeneratorSpec extends AnyFunSuite {
  private val sizes = Tenant.scaled(50) // 400 requests over 20 forms

  test("the same seed gives identical documents, another seed different ones") {
    val a = new Tenant(7L, sizes)
    val b = new Tenant(7L, sizes)
    val c = new Tenant(8L, sizes)
    val ids = 0 until sizes.requests by 37
    assert(ids.map(a.requestDoc(_, 0)) == ids.map(b.requestDoc(_, 0)))
    assert(a.masterDocs("users", 1) == b.masterDocs("users", 1))
    assert(a.completedOnDay1 == b.completedOnDay1)
    assert(ids.map(a.requestDoc(_, 0)) != ids.map(c.requestDoc(_, 0)))
  }

  test("documents follow their version: a day-1 change moves the status " +
    "and keeps the structure") {
    val t = new Tenant(3L, sizes)
    val i = t.completedOnDay1.head
    val d0 = t.requestNode(i, 0)
    val d1 = t.requestNode(i, 1)
    assert(d0.get("status").asText == "in_progress")
    assert(d1.get("status").asText == "completed")
    assert(d0.get("detail").get("expense") == d1.get("detail").get("expense"))
    assert(t.requestDoc(sizes.requests, 0).isEmpty, "day-1 request on day 0")
    assert(t.requestDoc(sizes.requests, 1).isDefined)
  }

  /** Every page of an outline scan, following the page tokens. */
  private def scan(api: TenantApi, q: Map[String, String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var page = api.fetchPage("request_outline", q, None)
    out ++= page.results
    while (page.next.isDefined) {
      assert(page.results.size == TenantApi.PageSize)
      page = api.fetchPage("request_outline", q, page.next)
      out ++= page.results
    }
    out.result()
  }

  private def idOf(doc: String) = doc.split("\"id\":\"")(1).takeWhile(_ != '"')

  test("pages hold 100 results; form_id and applied_after filter the outline") {
    val t = new Tenant(5L, Tenant.scaled(5)) // 4,000 requests, 200 per form
    val api = new TenantApi(t, 0)
    val form = t.formId(3)
    val all = scan(api, Map("form_id" -> form.toString))
    val want = (0 until t.requestCount(0)).filter(t.formOf(_) == 3)
    assert(all.map(idOf) == want.map(t.requestId))
    val cut = Tenant.slash(Tenant.T0 - 365L * 86400)
    val recent = scan(api, Map("form_id" -> form.toString, "applied_after" -> cut))
    assert(recent.map(idOf) ==
      want.filter(i => Tenant.slash(t.appliedAt(i)) > cut).map(t.requestId))
    assert(recent.nonEmpty && recent.size < all.size)
  }

  test("the completed_after re-sweep returns exactly the day-1 cancellations " +
    "after the watermark, and nothing once the day has synced") {
    val t = new Tenant(9L, sizes)
    val day1 = new TenantApi(t, 1)
    val swept = (0 until sizes.forms).flatMap { k =>
      val wm = Tenant.slash((0 until sizes.requests).filter(t.formOf(_) == k)
        .map(t.appliedAt(_)).max)
      scan(day1, Map("form_id" -> t.formId(k).toString,
        "status" -> "canceled_after_completion", "completed_after" -> wm))
    }.map(idOf(_)).toSet
    assert(swept == t.canceledOnDay1.map(t.requestId))
    val after = Tenant.slash((0 until t.requestCount(1)).map(t.appliedAt(_)).max)
    assert(scan(day1, Map("status" -> "canceled_after_completion",
      "completed_after" -> after)).isEmpty)
  }

  test("every call is counted") {
    val t = new Tenant(11L, sizes)
    TenantApi.Counters.reset()
    val api = new TenantApi(t, 0)
    assert(api.fetchDetail("request_detail", t.requestId(3)).isRight)
    assert(api.fetchDetail("request_detail", "rq-999999").isLeft)
    api.fetchPage("users", Map.empty, None)
    assert(TenantApi.Counters.details.get == 2)
    assert(TenantApi.Counters.pages.get == 1)
  }
}
