package perfbench

/** The one record a run prints: the end-to-end metrics named by the
  * workload's user-facing operations, the per-layer medians of a traced
  * run, failures with their base, and the run's shape. */
object Report {
  val Marker = "PERFBENCH_RECORD "

  def record(workload: String, seed: Long, spec: TenantSpec, l: Ledger,
      setupS: Double, peakHeapMb: Double, iterations: Int,
      tr: Option[Tracing]): String = {
    import Out._
    val r = Tenant.Json.createObjectNode()
    r.put("workload", workload).put("seed", seed)
    r.putObject("tenant").put("requests", spec.requests)
      .put("users", spec.users).put("forms", spec.forms)
      .put("journals", spec.journals)
    r.put("traced", tr.isDefined).put("iterations", iterations)
      .put("attempted", l.attempted).put("failed", l.failed)
    val failures = r.putArray("failures")
    l.failures.foreach(failures.add)

    val e2e = r.putObject("end_to_end")
    def value(as: String, v: Double, unit: String) =
      num(e2e.putObject(as), "value", v).put("unit", unit)
    def timing(sample: String, as: String) =
      if (l.sample(sample).nonEmpty)
        summary(e2e.putObject(as), l.sample(sample), "s")
    def lastOf(sample: String, as: String, unit: String) =
      l.sample(sample).lastOption.foreach(value(as, _, unit))
    value("setup_s", setupS, "s")
    timing("iteration", "iteration_s")
    timing("iteration_cpu", "iteration_cpu_s")
    timing("sync", "sync_s")
    lastOf("sync.api_requests", "api_requests", "count")
    timing("view_scan", "view_scan_s")
    timing("lookup", "lookup_s")
    timing("reassembly", "reassembly_s")
    lastOf("sync.state_mb", "state_mb", "MB")
    value("peak_heap_mb", peakHeapMb, "MB")
    value("failed_ops", if (l.attempted == 0) 0.0
      else l.failed.toDouble / l.attempted, "ratio")
      .put("failed", l.failed).put("attempted", l.attempted)

    val perLayer = r.putObject("per_layer")
    tr.foreach(_.values.foreach { case (k, vs) =>
      num(perLayer, k, median(vs.toSeq)) })
    Marker + Tenant.Json.writeValueAsString(r)
  }
}
