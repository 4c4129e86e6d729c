package perfbench

import graft.operators.ManagedCache
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

/** The program's query layer (`SparkEntry.queries` and the operator and
  * plan modules under it), measured in bi_read's traced run: one query
  * per name prefix, each written in full to the noop sink, so no part of
  * a plan can be dropped as it can under `count()`, with
  * `ManagedCache.releaseAll()` between queries. The tables are the
  * oracle-scale (sf0.01) TPC-H-style tables bundled in
  * `perfbench/data/sf0.01`. A query that throws or returns another row
  * count than [[Golden]] is a failed operation.
  */
object OperatorPass {
  /** The first query of each name prefix, in name order, and its rows
    * on the bundled tables. Recorded once; every count but that of
    * px10_deflate_scan, which has no SQL oracle, equals the DuckDB
    * oracle's (`Registry.oracle`) on the same tables. */
  val Golden: Map[String, Long] = Map(
    "a1_pivot_max_case" -> 14743L, "ann1_cosine_topk" -> 50L,
    "dd10_minhash_full" -> 1L, "dq1_quality_suite" -> 6L,
    "er1_entity_pairs" -> 2L, "f10_key_extraction" -> 10000L,
    "flagship_report" -> 5981L, "ir1_bm25" -> 482L,
    "j10_json_reassembly_join" -> 15000L, "k1_upsert_full_row" -> 15000L,
    "mm10_jpeg_metadata" -> 200L, "p1_projection" -> 60000L,
    "ps1_profile" -> 4L, "px10_deflate_scan" -> 102L,
    "r1_repeat_by_count" -> 1552L, "s3_incremental_scan" -> 5L,
    "sql1_sql_surface" -> 25L, "st1_tumbling_window" -> 3385L,
    "sx1_stratified_sample" -> 156L, "t1_watermark_capture" -> 5L,
    "ts10_cusum_changepoint" -> 5L, "tx10_vocab_ids" -> 31L,
    "u1_union_all" -> 7957L, "w1_order_by" -> 10000L,
    "xa1_group_concat_udaf" -> 1500L, "xg1_pagerank" -> 20L,
    "xj1_asof_join" -> 1981L, "xq10_event_transitions" -> 25L,
    "xs1_hll_distinct" -> 1L, "xv1_incr_view_multi" -> 14743L)

  def prefix(name: String): String = name.takeWhile(_.isLetter)

  /** Per query: `queries.<prefix>_s` from building the DataFrame to the
    * end of the write, and its planning in `queries.plan_ms`: the
    * tracker phases of the query's own `QueryExecution` plus those of
    * the write's. */
  def run(spark: SparkSession, tables: Path, l: Ledger, tr: Tracing,
      golden: Map[String, Long] = Golden): Unit = {
    val queries = graft.SparkEntry.queries
    val writePlanMs = new AtomicLong
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        writePlanMs.set(qe.tracker.phases.values.map(_.durationMs).sum)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val start = System.currentTimeMillis()
    try golden.keys.toSeq.sorted.foreach { name =>
      writePlanMs.set(0)
      val out = l.op(s"query $name") {
        Bench.inGroup(spark, Bench.WorkGroup)(tr.spans.span(name) {
          val t0 = System.nanoTime()
          val df = queries(name)(spark, tables.toString)
          val rows = Observation(name)
          df.observe(rows, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          val n = rows.get("n").asInstanceOf[Long]
          val s = (System.nanoTime() - t0) / 1e9
          tr.drain()
          (n, s, df.queryExecution.tracker.phases.values.map(_.durationMs).sum +
            writePlanMs.get)
        })
      } { case (n, _, _) =>
        if (n == golden(name)) Nil
        else Seq(s"$name returned $n rows, golden ${golden(name)}")
      }
      for ((_, s, planMs) <- out) {
        tr.add(s"queries.${prefix(name)}_s", s)
        tr.add("queries.plan_ms", planMs)
      }
      ManagedCache.releaseAll()
    } finally spark.listenerManager.unregister(listener)
    tr.spans.addJobs(tr.jobsIn(start, System.currentTimeMillis()))
  }
}
