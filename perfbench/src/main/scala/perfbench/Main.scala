package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Operations attempted, failed and timed in one run. An operation is
  * a call into the program plus the check of its output; one that
  * throws or fails its check counts as failed and contributes no time.
  * Only the call is timed: the check and any bookkeeping around the
  * operation stay out of every sample and out of [[busyNanos]].
  */
final class Ledger {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Wall and JVM CPU time spent inside the program's calls. */
  var busyNanos = 0L
  var busyCpuNanos = 0L

  def sample(name: String): Seq[Double] =
    samples.get(name).map(_.toSeq).getOrElse(Nil)
  def record(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def fail(name: String, why: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$name: $why".take(500)
    System.err.println(s"FAILED $name: $why".take(2000))
  }

  /** Time `body`, then check its result; `check` returns the list of
    * mismatches, empty when the output is correct. */
  def op[A](name: String)(body: => A)(check: A => Seq[String]): Option[A] = {
    attempted += 1
    val c0 = Bench.cpuNanos()
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val dt = System.nanoTime() - t0
    busyNanos += dt
    busyCpuNanos += Bench.cpuNanos() - c0
    r match {
      case Left(e) => fail(name, s"threw $e"); None
      case Right(v) =>
        val errs = try check(v)
          catch { case NonFatal(e) => Seq(s"check threw $e") }
        if (errs.isEmpty) { record(name, dt / 1e9); Some(v) }
        else { fail(name, errs.mkString("; ")); None }
    }
  }
}

/** Listener, spans and per-layer values of a traced run. */
final class Tracing(val spark: SparkSession, run: String) {
  val spans = new SpanRecorder(run)
  val jobs = new JobListener
  spark.sparkContext.addSparkListener(jobs)
  /** per-layer metric -> one value per traced iteration */
  val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val current = mutable.LinkedHashMap.empty[String, Double]
  def put(name: String, v: Double): Unit = current(name) = v
  def add(name: String, v: Double): Unit =
    current(name) = current.getOrElse(name, 0.0) + v
  def put(name: String, v: Long): Unit = put(name, v.toDouble)
  def add(name: String, v: Long): Unit = add(name, v.toDouble)
  /** Close the iteration: its values become one sample each. */
  def commit(): Unit = {
    current.foreach { case (k, v) =>
      values.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
    current.clear()
  }
  def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Spark work of the program between `start` and `end`. */
  def putSpark(start: Long, end: Long): Unit = {
    val js = jobsIn(start, end)
    spans.addJobs(js)
    put("spark.jobs", js.size)
    put("spark.stages", js.map(_.stages).sum)
    put("spark.tasks", js.map(_.tasks).sum)
    put("spark.task_ms", js.map(_.taskMs).sum)
    put("spark.gc_ms", js.map(_.gcMs).sum)
    put("spark.shuffle_read_mb", js.map(_.shuffleRead).sum / 1e6)
    put("spark.shuffle_write_mb", js.map(_.shuffleWrite).sum / 1e6)
    put("spark.spill_mb", js.map(_.spill).sum / 1e6)
  }
  def jobsIn(start: Long, end: Long): Seq[JobRecord] = {
    drain()
    jobs.records.filter(j => j.group == Bench.WorkGroup &&
      j.start >= start && j.start <= end)
  }
}

object Bench {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM: every Spark thread, JIT and GC. */
  def cpuNanos(): Long = os.getProcessCpuTime

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.1fs] $msg")

  /** Job group of the program's own work; the benchmark's checks and
    * accounting run under [[CheckGroup]] and are never counted. */
  val WorkGroup = "perfbench-work"
  val CheckGroup = "perfbench-check"

  /** `body` under job group `group`, then back under [[CheckGroup]]. */
  def inGroup[A](spark: SparkSession, group: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.setJobGroup(CheckGroup, CheckGroup,
      interruptOnCancel = false)
  }

  /** Every view `Views.registerAll` registers. */
  val Views: Seq[String] = Seq("view_user_details",
    "view_user_group_position", "view_groups", "view_positions",
    "view_forms", "view_companies", "view_request_details",
    "view_approval_process", "view_expense_specifics", "view_form_items",
    "view_form_items_by_name", "view_request_approval_history",
    "view_expense_report_f3", "view_expense_report_f3_detail",
    "view_expense_report_f33", "view_expense_report_f33_detail",
    "view_payment_request_41", "view_payment_request_42",
    "view_payment_request_43", "view_payment_request_44",
    "view_payment_request_45")

  /** Drill-downs by id per iteration. */
  val Lookups = 10
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val spec = Tenant.scaled(a.getOrElse("scale", "1").toInt)
    val nproc = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    Workload.delete(work)
    Files.createDirectories(work)
    val spark = graft.GraftSession.builder(master = s"local[$nproc]",
      shufflePartitions = Some(nproc))
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tenant = new Tenant(seed, spec)
    val wl = workload match {
      case "cold_sync" => new ColdSync(spark, tenant, work)
      case "bi_read" => new BiRead(spark, tenant, work, seed,
        Paths.get(a("queries")).toAbsolutePath)
      case other => sys.error(s"unknown workload $other")
    }
    val ledger = new Ledger
    try {
      wl.inGroup(Bench.CheckGroup)(())
      Bench.log("session up")
      wl.setup(ledger)
      Bench.log("set-up done")
      // no warm-up: a scheduled sync is a fresh process, so users pay
      // the first call's JIT and codegen; a warm-up read of every view
      // costs bi_read about 17 s of set-up, more than the benchmark's
      // time budget leaves
      val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      val deadline = System.nanoTime() + seconds * 1000000000L
      val tr = if (traced) Some(new Tracing(spark, s"$workload-$seed")) else None
      var iterations = 0
      do {
        val ms0 = System.currentTimeMillis()
        val busy0 = ledger.busyNanos
        val cpu0 = ledger.busyCpuNanos
        val ok = ledger.failed
        wl.spanned(tr, workload)(wl.iterate(ledger, tr))
        tr.foreach { t =>
          t.putSpark(ms0, System.currentTimeMillis())
          t.commit()
        }
        if (ledger.failed == ok) {
          ledger.record("iteration", (ledger.busyNanos - busy0) / 1e9)
          ledger.record("iteration_cpu", (ledger.busyCpuNanos - cpu0) / 1e9)
        }
        iterations += 1
        Bench.log(s"iteration $iterations done")
      } while (System.nanoTime() < deadline)
      val peakHeapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1e6
      // layers only a traced run measures, after the timed iterations
      tr.foreach { t =>
        wl.traceLayers(ledger, t)
        t.commit()
        Bench.log("traced layers done")
      }

      val record = Report.record(workload, seed, spec, ledger, setupS,
        peakHeapMb, iterations, tr)
      tr.foreach(t => Files.writeString(work.resolve("spans.json"),
        Tenant.Json.writeValueAsString(t.spans.toJson)))
      println(record)
      Bench.log("record printed")
    } catch {
      case NonFatal(e) =>
        ledger.fail("run", e.toString)
        e.printStackTrace()
        println(Report.record(workload, seed, spec, ledger, Double.NaN,
          Double.NaN, 0, None))
    } finally {
      spark.stop()
      Bench.log("session stopped")
    }
  }
}
