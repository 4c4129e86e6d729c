package perfbench

import graft.docs.{MasterDocs, Reassembly}
import graft.ingest.Ingest
import graft.integrator.Integrator
import graft.model.JobcanSchemas
import graft.normalize.{Normalize, NormalizeTables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One workload: a set-up, then iterations until the run time is up. */
abstract class Workload(val spark: SparkSession, val tenant: Tenant,
    val work: Path) {
  def setup(l: Ledger): Unit
  def iterate(l: Ledger, tr: Option[Tracing]): Unit
  /** Layers only a traced run measures, once, after the timed
    * iterations, so they never add to an iteration's time. */
  def traceLayers(l: Ledger, tr: Tracing): Unit = ()

  /** `body` as a span named `name` when traced. */
  def spanned[A](tr: Option[Tracing], name: String)(body: => A): A =
    tr.fold(body)(_.spans.span(name)(body))

  def inGroup[A](group: String)(body: => A): A =
    Bench.inGroup(spark, group)(body)

  /** One `Integrator.run()` of the tenant into `dir`, timed as `sync`
    * and checked against the tenant. Traced: phase spans, Spark work
    * per phase, merge and ingest counts. */
  def sync(l: Ledger, tr: Option[Tracing], dir: Path): Unit = {
    val api = new TenantApi(tenant, 0)
    val silver = dir.resolve("silver")
    val before = tr.fold(Map.empty[String, (Long, Long)])(_ =>
      Workload.listFiles(silver))
    TenantApi.Counters.reset()
    val t0 = System.currentTimeMillis()
    val out = l.op("sync") {
      inGroup(Bench.WorkGroup) {
        spanned(tr, "sync") {
          new Integrator(spark, api, dir.toString, notifier = tr.map(
            _.spans.phaseNotifier(() => TenantApi.Counters.probeEndMs.get))
            .orNull).run()
        }
      }
      ()
    }(_ => Checks.sync(spark, tenant, dir, 0))
    val t1 = System.currentTimeMillis()
    if (out.isDefined) {
      l.record("sync.api_requests",
        (TenantApi.Counters.pages.get + TenantApi.Counters.details.get).toDouble)
      l.record("sync.state_mb", Workload.dirBytes(silver) / 1e6)
    }
    for (t <- tr if out.isDefined) {
      val c = TenantApi.Counters
      val all = t.spans.all
      val syncSpan = all.filter(_.name == "sync").last
      val phases = all.filter(_.parent == syncSpan.id)
      val jobs = t.jobsIn(t0, t1)
      Workload.Phases.foreach { p =>
        val ps = phases.filter(_.name == p)
        t.put(s"integrator.${p}_s", ps.map(_.ms).sum / 1e3)
        val pj = ps.flatMap(s => jobs.filter(j => j.start >= s.start &&
          j.start <= s.end))
        t.put(s"spark.$p.jobs", pj.size)
        t.put(s"spark.$p.tasks", pj.map(_.tasks).sum)
        t.put(s"spark.$p.task_ms", pj.map(_.taskMs).sum)
        t.put(s"spark.$p.gc_ms", pj.map(_.gcMs).sum)
      }
      t.put("integrator.unattributed_s",
        SpanRecorder.selfMs(syncSpan, all) / 1e3)
      t.put("ingest.page_fetches", c.pages.get)
      t.put("ingest.detail_fetches", c.details.get)
      t.put("ingest.fetch_ms", c.fetchNanos.get / 1e6)
      val merge = jobs.filter(_.site == "ParquetMerge.scala")
      t.put("merge.jobs", merge.size)
      t.put("merge.job_ms", merge.map(_.ms).sum)
      val written = Workload.listFiles(silver)
        .filter { case (f, v) => !before.get(f).contains(v) }
      t.put("merge.bytes_written", written.values.map(_._1).sum)
      t.put("merge.files_written", written.size)
      t.put("merge.tables_rewritten",
        written.keys.map(_.takeWhile(_ != '/')).toSet.size)
    }
  }

  /** Normalize alone over the documents of `ids`, written to the noop
    * sink. */
  def shred(tr: Tracing, ids: Seq[Int]): Unit = {
    import spark.implicits._
    val docs = ids.flatMap(tenant.requestDoc(_, 0)).toDS().toDF("doc")
    val parsed = Ingest.parseDocs(docs, "doc", JobcanSchemas.requestDetailSchema)
      .filter(col("parse_ok")).select("parsed.*").localCheckpoint(true)
    val t0 = System.nanoTime()
    tr.spans.span("normalize.shred") {
      Normalize.requests(parsed).foreach { case (_, df) =>
        df.write.format("noop").mode("overwrite").save()
      }
    }
    tr.put("normalize.shred_s", (System.nanoTime() - t0) / 1e9)
    parsed.unpersist()
  }
}

object Workload {
  val Phases = Seq("preflight", "basic_data", "form_outline", "form_detail",
    "register_views")

  /** relative path -> (bytes, mtime) of every data file under `root` */
  def listFiles(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(p => root.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally s.close()
    }

  def dirBytes(root: Path): Long = listFiles(root).values.map(_._1).sum

  def delete(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}

/** Each iteration syncs the whole tenant into an empty state dir. */
final class ColdSync(spark: SparkSession, tenant: Tenant, work: Path)
    extends Workload(spark, tenant, work) {
  private var n = 0
  def setup(l: Ledger): Unit = ()
  def iterate(l: Ledger, tr: Option[Tracing]): Unit = {
    val dir = work.resolve(s"state-$n")
    n += 1
    sync(l, tr, dir)
    Workload.delete(dir)
  }
  override def traceLayers(l: Ledger, tr: Tracing): Unit =
    shred(tr, 0 until tenant.requestCount(0))
}

/** Set-up writes the tenant's state (`Baseline`) and registers the
  * views; each iteration reads every view, drills down by id and
  * reassembles every document. The traced run also runs the operator
  * pass over `queries`, the bundled query tables. */
final class BiRead(spark: SparkSession, tenant: Tenant, work: Path,
    seed: Long, queries: Path) extends Workload(spark, tenant, work) {
  private val dir = work.resolve("state")
  private var tables: Map[String, DataFrame] = Map.empty
  private var expected: Map[String, Long] = Map.empty
  private val lookupIds = {
    val rng = new java.util.SplittableRandom(Tenant.mix(seed, 0, 9))
    Seq.fill(Bench.Lookups)(rng.nextInt(tenant.requestCount(0)))
  }

  def setup(l: Ledger): Unit = {
    Baseline.build(spark, tenant, dir)
    Bench.log("baseline built")
    tables = NormalizeTables.all.flatMap(n =>
      graft.operators.ParquetMerge.read(spark, s"$dir/silver/$n")
        .map(n -> _)).toMap
    new graft.views.Views(tables).registerAll()
    Bench.log("views registered")
    expected = Checks.viewRows(tenant)
  }

  def iterate(l: Ledger, tr: Option[Tracing]): Unit = {
    Bench.Views.foreach { v =>
      val read = l.op("view_scan") {
        inGroup(Bench.WorkGroup)(spanned(tr, v) {
          val t0 = System.nanoTime()
          val df = spark.table(v)
          val rows = df.collect().length.toLong
          (rows, df.queryExecution.tracker.phases.values.map(_.durationMs).sum,
            (System.nanoTime() - t0) / 1e9)
        })
      } { case (rows, _, _) =>
        expected.get(v).filter(_ != rows)
          .map(e => s"$v returned $rows rows, expected $e").toSeq
      }
      for (t <- tr; (rows, planMs, s) <- read) {
        t.add(s"views.${v}_s", s)
        t.add("views.plan_ms", planMs)
        t.add("views.exec_ms", s * 1e3 - planMs)
        t.add("views.rows_out", rows)
      }
    }
    lookupIds.foreach { i =>
      val id = tenant.requestId(i)
      l.op("lookup") {
        inGroup(Bench.WorkGroup)(spanned(tr, "lookup") {
          (spark.table("view_request_details").filter(col("id") === id)
            .collect().length,
            spark.table("view_expense_report_f3")
              .filter(col("申請ID") === id).collect().length)
        })
      } { case (rd, f3) =>
        val f3Want = if (Checks.Format3(tenant.formId(tenant.formOf(i)))) 1 else 0
        (if (rd != 1) Seq(s"request $id: $rd detail rows") else Nil) ++
          (if (f3 != f3Want) Seq(s"request $id: $f3 format-3 rows, want $f3Want")
          else Nil)
      }
    }
    val docs = l.op("reassembly") {
      inGroup(Bench.WorkGroup)(spanned(tr, "reassembly") {
        val r0 = System.nanoTime()
        val reqIds = Reassembly.toJsonDocs(tables).collect().map(_.getString(0))
        val r1 = System.nanoTime()
        val masters = MasterDocs.toJsonDocs(tables).collect().length
        (reqIds, masters, (r1 - r0) / 1e9, (System.nanoTime() - r1) / 1e9)
      })
    } { case (reqIds, masters, _, _) =>
      Checks.reassembled(tenant, reqIds.toSeq, masters)
    }
    for (t <- tr; (reqIds, masters, rs, ms) <- docs) {
      t.put("docs.requests_s", rs)
      t.put("docs.masters_s", ms)
      t.put("docs.docs_out", reqIds.length + masters)
    }
  }

  override def traceLayers(l: Ledger, tr: Tracing): Unit =
    OperatorPass.run(spark, queries, l, tr)
}
