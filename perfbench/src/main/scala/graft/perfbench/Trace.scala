package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer's public function. Spans of one replayed
  * request share `requestId`; `parent` is the span of the entry point
  * one layer further out (0 for the outermost). */
final case class Span(id: Long, parent: Long, requestId: Long, name: String,
    startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span buffer, written out once when the run ends. Spans are
  * recorded only around calls the benchmark itself makes. */
final class Tracer {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextRequestId(): Long = ids.incrementAndGet()

  /** Time `f` as a span and return its result with the span. */
  def span[A](name: String, requestId: Long, parent: Long = 0L)(f: => A): (A, Span) = {
    val start = System.nanoTime()
    val out = f
    (out, record(name, requestId, parent, start, System.nanoTime()))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Record a call the benchmark timed itself. */
  def record(name: String, requestId: Long, parent: Long, startNs: Long, endNs: Long): Span = {
    val s = Span(ids.incrementAndGet(), parent, requestId, name, startNs, endNs)
    spans.add(s)
    s
  }

  /** Median duration of the spans called `name`, in ms. */
  def medianMs(name: String): Option[Double] = medianOf(name, _.durationNs)

  /** Median self time of the spans called `name`, in ms. */
  def medianSelfMs(name: String): Option[Double] = {
    val self = Stats.selfTimes(all)
    medianOf(name, s => self(s.id))
  }

  private def medianOf(name: String, ns: Span => Long): Option[Double] = {
    val d = all.filter(_.name == name).map(ns(_) / 1e6)
    if (d.isEmpty) None else Some(Stats.median(d))
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"request":${s.requestId},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
