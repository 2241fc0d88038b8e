package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work of one job group, as the listener saw it. */
final case class GroupStats(jobs: Long, stages: Long, tasks: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    jobIntervalsMs: Seq[(Long, Long)])

object GroupStats {
  val Empty: GroupStats = GroupStats(0, 0, 0, 0, 0, 0, Nil)
}

/** Counts jobs, stages, tasks, shuffle bytes and spill per job group.
  * The benchmark sets a group around each call it makes on its own
  * thread ([[JobTracker.grouped]]); jobs started outside any group, such
  * as the audit log's background flush or work on the REST server's
  * threads, are counted under [[JobTracker.Ungrouped]]. */
final class JobTracker(sc: SparkContext) extends SparkListener {
  private final class Acc {
    var jobs, stages, tasks, shRead, shWrite, spill = 0L
    val intervals = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
  }
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def acc(g: String): Acc = accs.computeIfAbsent(g, _ => new Acc)

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(JobTracker.Ungrouped)
    jobGroup.put(e.jobId, (g, e.time))
    e.stageIds.foreach(stageGroup.put(_, g))
    val a = acc(g)
    a.synchronized { a.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { case (g, start) =>
      val a = acc(g)
      a.synchronized { a.intervals += ((start, e.time)) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val a = acc(g)
      a.synchronized { a.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = acc(g)
      val m = Option(e.taskMetrics)
      a.synchronized {
        a.tasks += 1
        m.foreach { tm =>
          a.shRead += tm.shuffleReadMetrics.totalBytesRead
          a.shWrite += tm.shuffleWriteMetrics.bytesWritten
          a.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
        }
      }
    }

  /** Totals of one group once every queued event has been delivered. */
  def stats(group: String): GroupStats = {
    org.apache.spark.perfbench.BusDrain(sc)
    Option(accs.get(group)).map { a =>
      a.synchronized {
        GroupStats(a.jobs, a.stages, a.tasks, a.shRead, a.shWrite, a.spill, a.intervals.toList)
      }
    }.getOrElse(GroupStats.Empty)
  }

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `f` on this thread under a fresh job group named after `label`;
    * returns the result and the group id to read [[stats]] with. */
  def grouped[A](label: String)(f: => A): (A, String) = {
    val g = s"$label-${seq.incrementAndGet()}"
    sc.setJobGroup(g, label, interruptOnCancel = false)
    try (f, g) finally sc.clearJobGroup()
  }
}

object JobTracker {
  val Ungrouped = ""
}
