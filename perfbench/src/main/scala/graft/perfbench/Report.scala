package graft.perfbench

/** The end-to-end metrics every workload reports, each over its own
  * foreground operation (a search or an upload call). */
object Report {
  /** The tail is read at p90 at most. A higher rung depends on the sample
    * count, which differs between a faster and a slower commit (p99 needs
    * 1,000 samples), and p95 of a 15 s search window moved by 12% between
    * seeds where p90 rests on ~80 samples beyond it. */
  val TailCap = 90.0

  def ops(run: Run, setupS: Double, w: Window, latencyMs: Seq[Double],
      units: Double, ops: Int): Unit = {
    run.detail("timed_ops") = latencyMs.size
    if (latencyMs.isEmpty) { run.fail("no operation completed in the timed window"); return }
    val tail = Stats.tailOrMax(latencyMs, cap = TailCap)
    val m = run.metrics
    m("setup_s") = setupS
    m("latency_ms_p50") = Stats.median(latencyMs)
    m("latency_ms_tail") = tail.value
    m("throughput_per_s") = units / w.wallS
    m("cpu_ms_per_op") = w.cpuMs / math.max(ops, 1)
    m("heap_live_mb") = Proc.liveHeapMb()
    run.detail("peak_rss_mb") = Proc.peakRssMb()
    m("jvm.gc_ms") = w.gcMs
    m("spark.ungrouped_jobs") = w.ungroupedJobs.toDouble
    run.detail("latency_tail") = s"p${tail.percentile} of ${tail.samples} samples"
    Stats.tail(latencyMs).foreach(t => run.detail("latency_tail_uncapped") = s"p${t.percentile}: ${t.value}")
    run.detail("window_s") = w.wallS
    run.detail("window_cpu_s") = w.cpuMs / 1e3
  }
}
