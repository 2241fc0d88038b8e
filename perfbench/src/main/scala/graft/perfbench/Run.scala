package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run collects: measured metrics by name, operation and
  * failure counts, failure messages, and free-form detail for the
  * report. A failure is any non-2xx answer, a timeout, an exception, or
  * a failed correctness check. */
final class Run(val seed: Long, val seconds: Int, val traced: Boolean,
    val dataDir: String, val workDir: java.nio.file.Path) {
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val detail: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  private val failures = new ConcurrentLinkedQueue[String]()
  val tracer = new Tracer

  def ok(): Unit = attempted.incrementAndGet()

  def fail(msg: String): Unit = {
    attempted.incrementAndGet()
    failed.incrementAndGet()
    if (failures.size < 50) failures.add(msg)
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  /** Count one check: pass, or fail with `msg`. */
  def check(pass: Boolean, msg: => String): Unit = if (pass) ok() else fail(msg)

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def note(msg: String): Unit = System.err.println(f"[perfbench] ${Proc.sinceStartS()}%.1f s: $msg")

  def failureMessages: Seq[String] = failures.asScala.toSeq
}

/** Process-level readings taken around a timed window. */
object Proc {
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  /** Heap still in use after a full collection, in MB: the memory the
    * run's live state holds (caches, indexes, buffers). Spark's context
    * cleaner frees blocks only after a collection has dropped their
    * owners, so the reading is the least of a few collect-and-wait
    * rounds. */
  def liveHeapMb(): Double = (1 to 4).map { _ =>
    System.gc(); Thread.sleep(250)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Resident-set high-water mark (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Seconds since the JVM started. */
  def sinceStartS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** CPU, GC, wall time and jobs outside any benchmark group over a timed
  * window. */
final class Window(tracker: JobTracker) {
  private def ungrouped = tracker.stats(JobTracker.Ungrouped).jobs
  private val jobs0 = ungrouped
  private val wall0 = System.nanoTime()
  private val cpu0 = Proc.cpuNs()
  private val gc0 = Proc.gcMs()
  private var closed: Option[(Long, Long, Long, Long)] = None

  def close(): Window = {
    closed = Some((System.nanoTime() - wall0, Proc.cpuNs() - cpu0, Proc.gcMs() - gc0,
      ungrouped - jobs0))
    this
  }
  private def c = closed.getOrElse(sys.error("window still open"))
  def wallS: Double = c._1 / 1e9
  def cpuMs: Double = c._2 / 1e6
  def gcMs: Double = c._3.toDouble
  def ungroupedJobs: Long = c._4
}
