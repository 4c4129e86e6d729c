package perfbench

import graft.ingest.Ingest
import graft.ingest.Ingest.Page

import java.util.concurrent.atomic.AtomicLong

/** The Jobcan API of a generated tenant as it stands on `day`, behind
  * the program's public `Ingest.Fetcher` seam. It serializes to the
  * seed and the sizes: documents are derived on the executor that
  * fetches them, never shipped in a task closure.
  *
  * Pages hold 100 results, like the real API. Outline scans honour
  * `form_id` and `applied_after`; the canceled-after-completion
  * re-sweep honours `completed_after`. There is no throttle and no
  * sleep; every call is counted in [[TenantApi.Counters]].
  */
final class TenantApi(tenant: Tenant, day: Int)
    extends Ingest.Fetcher {
  import TenantApi._

  def fetchPage(apiType: String, query: Map[String, String],
      pageToken: Option[String]): Page = timed {
    Counters.pages.incrementAndGet()
    val offset = pageToken.map(_.toInt).getOrElse(0)
    apiType match {
      case "test" =>
        Counters.probeEndMs.set(System.currentTimeMillis())
        Page(Nil, None, 200)
      case "request_outline" =>
        val ids = outline(query)
        page(ids.slice(offset, offset + PageSize)
          .map(tenant.outlineDoc(_, day)), offset, ids.size)
      case api =>
        val docs = tenant.masterDocs(api, day)
        if (docs.isEmpty) Page(Nil, None, 404, Some(s"unknown $api"))
        else page(docs.slice(offset, offset + PageSize), offset, docs.size)
    }
  }

  def fetchDetail(apiType: String, id: String): Either[String, String] =
    timed {
      Counters.details.incrementAndGet()
      tenant.requestIndex(id) match {
        case Some(i) if tenant.requestVersion(i, day) >= 0 =>
          Right(tenant.requestDoc(i, day).get)
        case _ => Left(s"404 $id")
      }
    }

  /** Request indexes an outline query matches, in a stable page order. */
  private def outline(q: Map[String, String]): IndexedSeq[Int] = {
    val form = q.get("form_id").map(_.toLong)
    val all = (0 until tenant.requestCount(day)).filter(i =>
      form.forall(_ == tenant.formId(tenant.formOf(i))))
    if (q.get("status").contains("canceled_after_completion")) {
      val after = q.get("completed_after")
      all.filter(i => tenant.status(i, day) == "canceled_after_completion" &&
        tenant.completedAt(i, day).exists(c =>
          after.forall(Tenant.slash(c) > _)))
    } else {
      val after = q.get("applied_after")
      all.filter(i => after.forall(Tenant.slash(tenant.appliedAt(i)) > _))
    }
  }

  private def page(results: Seq[String], offset: Int, total: Int): Page =
    Page(results,
      if (offset + PageSize < total) Some((offset + PageSize).toString)
      else None)
}

object TenantApi {
  val PageSize = 100

  /** Process-wide call counters: in local mode every executor thread
    * shares this JVM, so the statics see executor-side calls. */
  object Counters {
    val pages = new AtomicLong
    val details = new AtomicLong
    val fetchNanos = new AtomicLong
    /** when the token preflight probe was answered (epoch ms) */
    val probeEndMs = new AtomicLong
    def reset(): Unit =
      Seq(pages, details, fetchNanos).foreach(_.set(0))
  }

  private def timed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally Counters.fetchNanos.addAndGet(System.nanoTime() - t0)
  }
}
