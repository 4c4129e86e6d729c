package perfbench

import com.fasterxml.jackson.databind.node.ArrayNode
import graft.integrator.Progress
import org.apache.spark.scheduler._

import scala.collection.mutable

/** A timed interval: name, start, end, the span that caused it, and
  * the run it belongs to. Times are epoch milliseconds so they share a
  * clock with Spark's job events. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    start: Long, end: Long, attrs: Map[String, String] = Map.empty) {
  def ms: Long = end - start
}

/** Spans kept in memory and written out once, when the benchmark ends.
  * Spans nest by a stack on the calling thread; the program's own
  * phases arrive as child spans through [[phaseNotifier]]. */
final class SpanRecorder(run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var nextId = 1

  def all: Seq[Span] = synchronized(spans.toList)

  def add(name: String, start: Long, end: Long,
      attrs: Map[String, String] = Map.empty,
      parent: Int = -1): Span = synchronized {
    val s = Span(nextId, name, if (parent >= 0) parent else stack.head,
      run, start, end, attrs)
    nextId += 1
    spans += s
    s
  }

  def span[A](name: String)(body: => A): A = {
    val id = synchronized { val i = nextId; nextId += 1; stack = i :: stack; i }
    val parent = stack.tail.head
    val t0 = System.currentTimeMillis()
    try body
    finally synchronized {
      stack = stack.tail
      spans += Span(id, name, parent, run, t0, System.currentTimeMillis())
    }
  }

  /** Phase spans from the integrator's progress side-channel. An update
    * fires when a phase ENDS, so each phase runs from the previous
    * boundary to its own update. The first boundary is the end of the
    * token probe, which the fetcher stamps. */
  def phaseNotifier(probeEnd: () => Long): Progress.Notifier =
    new Progress.Notifier {
      private var last = -1L
      override def update(u: Progress.Update): Unit = {
        val now = System.currentTimeMillis()
        u.phase match {
          case Progress.Initializing =>
            if (u.detail.startsWith("token")) last = now
          case Progress.Done => ()
          case Progress.BasicData =>
            val pe = probeEnd()
            add("preflight", last, pe)
            add(u.phase.name, pe, now)
            last = now
          case p =>
            add(p.name, last, now)
            last = now
        }
      }
    }

  /** Spark jobs as spans, each under the innermost span open when it
    * started, tagged with its call-site file. */
  def addJobs(js: Seq[JobRecord]): Unit = {
    val open = all
    js.foreach { j =>
      val parent = open.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(_.ms).headOption.map(_.id).getOrElse(0)
      add("spark.job", j.start, math.max(j.start, j.end),
        Map("site" -> j.site, "job" -> j.id.toString), parent)
    }
  }

  def toJson: ArrayNode = {
    val out = Tenant.Json.createArrayNode()
    all.foreach { s =>
      val o = out.addObject().put("id", s.id).put("name", s.name)
        .put("parent", s.parent).put("run", s.run).put("start", s.start)
        .put("end", s.end)
      val attrs = o.putObject("attrs")
      s.attrs.foreach { case (k, v) => attrs.put(k, v) }
    }
    out
  }
}

object SpanRecorder {
  /** Self time: a span's duration minus the part of it its children
    * cover (children may overlap; the union is subtracted). */
  def selfMs(s: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == s.id).map(k =>
      (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    kids.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    s.ms - covered
  }
}

/** One Spark job as the listener saw it. */
final case class JobRecord(id: Int, group: String, site: String,
    start: Long, var end: Long = -1L, var stages: Int = 0,
    var tasks: Int = 0, var taskMs: Long = 0L, var gcMs: Long = 0L,
    var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
    var spill: Long = 0L) {
  def ms: Long = if (end < 0) 0L else end - start
}

/** The benchmark's one listener: jobs, stages, tasks, shuffle, spill
  * and GC, keyed by the job group the benchmark sets on its calling
  * thread and by the call-site file of the job. Registered only in the
  * traced run. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  def records: Seq[JobRecord] = synchronized(jobs.values.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // the result stage is named after the job's call site, e.g.
    // "parquet at ParquetMerge.scala:49"
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
      .getOrElse("")
    jobs(e.jobId) = JobRecord(e.jobId, group, JobListener.siteFile(site),
      e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
        .foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get)) {
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object JobListener {
  /** "parquet at ParquetMerge.scala:49" -> "ParquetMerge.scala" */
  def siteFile(short: String): String = {
    val at = short.lastIndexOf(" at ")
    val loc = if (at >= 0) short.substring(at + 4) else short
    loc.takeWhile(_ != ':')
  }
}
