package perfbench

import graft.incr.Incremental
import graft.ingest.Ingest
import graft.integrator.Integrator
import graft.model.JobcanSchemas
import graft.normalize.Normalize
import graft.operators.ParquetMerge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The state a cold sync of the tenant leaves, written by the program's
  * own write path against the tenant's API:
  *  - the masters by `Integrator.updateBasicData`, the sync's phase 1;
  *  - the requests as phase 3 writes them: the ids round-robin over the
  *    Integrator's detail-fetch fan-out, `Ingest.fetchDetails`,
  *    `Ingest.parseDocs`, `Normalize.requests`, and each table through
  *    `ParquetMerge.mergeTable`; the watermarks through
  *    `ParquetMerge.write`.
  * Left out: the token probe, the outline scan (the ids are known), the
  * DLQ bookkeeping of a run without failures, and the view
  * registration. The masters and the request tables are written at
  * once, from several threads, where a sync writes them one by one;
  * the files per table and the rows are those of a synced state
  * (`BaselineSpec`).
  */
object Baseline {
  def build(spark: SparkSession, t: Tenant, dir: Path): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    val api = new TenantApi(t, 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      2 * sc.defaultParallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val writes = mutable.ArrayBuffer.empty[Future[Unit]]
    val checkpoints = mutable.ArrayBuffer.empty[DataFrame]
    def silver(name: String) = s"$dir/silver/$name"
    def merge(name: String, df: DataFrame): Unit = writes += Future(
      ParquetMerge.mergeTable(spark, silver(name), name, df))
    try {
      writes += Future(new Integrator(spark, api, dir.toString)
        .updateBasicData())
      val fanout = math.max(1,
        math.min(Integrator.FetchFanout, sc.defaultParallelism * 2))
      val ids = (0 until t.requestCount(0)).map(t.requestId).toDS()
        .repartition(fanout)
      val fetched = Ingest.fetchDetails(spark, api, "request_detail", ids)
        .localCheckpoint(true)
      val parsedAll = Ingest.parseDocs(fetched.filter(col("error").isNull),
        "doc", JobcanSchemas.requestDetailSchema).localCheckpoint(true)
      checkpoints += fetched += parsedAll
      val parsed = parsedAll.filter(col("parse_ok")).select("parsed.*")
      Normalize.requests(parsed).foreach { case (name, df) => merge(name, df) }
      val outline = parsed.select(col("form_id").cast("string").as("form_id"),
        Normalize.parseTs(col("applied_date")).as("applied_date"))
      val none = Seq.empty[(String, java.sql.Timestamp)]
        .toDF("scope_key", "watermark_ts")
      writes += Future(ParquetMerge.write(spark, silver("_watermarks"),
        Incremental.commitWatermarks(none,
          Incremental.captureWatermarks(outline, "form_id", "applied_date"))))
    } finally {
      writes.foreach(Await.ready(_, Duration.Inf))
      pool.shutdown()
      checkpoints.foreach(_.unpersist())
    }
    // the first failed write, if any
    writes.foreach(Await.result(_, Duration.Inf))
  }
}
