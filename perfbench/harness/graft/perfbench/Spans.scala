package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Layer spans measured from outside the program. Each span sets a job
  * group around one public call; this listener attributes jobs, stages and
  * task metrics to the group. Spark propagates the group to the jobs that
  * adaptive execution submits from its own threads, so attribution does
  * not depend on call sites. Spans are flat (never nested) and recorded in
  * memory until [[report]]. */
final class Spans(sc: SparkContext) extends SparkListener {
  import Spans._

  private var seq = 0L
  private var active = false
  private val calls = mutable.ArrayBuffer.empty[Call]
  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stages = mutable.HashMap.empty[(Int, Int), StageRec]
  private var stray = 0L

  /** Run `f` as one call of span `name`. */
  def apply[T](name: String)(f: => T): T = {
    val group = synchronized { seq += 1; active = true; s"$Prefix$seq" }
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try f
    finally {
      val wall = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      sc.clearJobGroup()
      synchronized { active = false; calls += Call(name, group, t0, t1, wall) }
    }
  }

  private def groupOf(p: java.util.Properties): String =
    Option(p).map(_.getProperty("spark.jobGroup.id")).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    if (g != null && g.startsWith(Prefix)) jobs(e.jobId) = JobRec(g, e.time, e.time)
    else if (active) stray += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(e.properties)
    if (g != null && g.startsWith(Prefix)) stageGroup(e.stageInfo.stageId) = g
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageGroup.contains(e.stageId)) {
      val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageRec)
      s.group = stageGroup(e.stageId)
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.ms = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(0L)
    }
  }

  /** Per-span totals of every call since the last [[reset]], in the order
    * the spans first ran. Waits for the listener bus to drain first. */
  def report(): Seq[(String, Stats)] = {
    org.apache.spark.graftbench.Drain(sc)
    synchronized {
      calls.map(_.name).distinct.toSeq.map { name =>
        val cs = calls.filter(_.name == name).toSeq
        val groups = cs.map(_.group).toSet
        val js = jobs.values.filter(j => groups(j.group)).toSeq
        val ss = stages.values.filter(s => groups(s.group)).toSeq
        val driver = cs.map { c =>
          val covered = union(js.filter(_.group == c.group)
            .map(j => (math.max(j.start, c.t0), math.min(j.end, c.t1))))
          math.max(0.0, c.wall - covered / 1e3)
        }.sum
        val skew = if (ss.isEmpty) 1.0 else {
          val ms = ss.maxBy(s => (s.ms, s.taskMs.size)).taskMs.sorted
          val med = ms(ms.size / 2)
          if (med > 0) ms.last.toDouble / med else ms.last.toDouble.max(1.0)
        }
        name -> Stats(cs.map(_.wall).sum, driver, js.size,
          ss.map(_.taskMs.size.toLong).sum, ss.map(_.shuffleBytes).sum,
          ss.map(_.spillBytes).sum, ss.map(_.cpuNs).sum / 1e9,
          ss.map(_.gcMs).sum / 1e3, skew, ss.map(_.inputBytes).sum,
          ss.map(_.outputBytes).sum)
      }
    }
  }

  /** Jobs that started while a span was open but carried no span group. */
  def strayJobs: Long = synchronized(stray)

  def reset(): Unit = synchronized {
    calls.clear(); jobs.clear(); stageGroup.clear(); stages.clear(); stray = 0
  }
}

object Spans {
  private val Prefix = "perfbench-"

  private final case class Call(name: String, group: String, t0: Long, t1: Long, wall: Double)
  private final case class JobRec(group: String, start: Long, var end: Long)
  private final class StageRec {
    var group: String = _
    var ms = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  final case class Stats(wallS: Double, driverS: Double, jobs: Int,
      tasks: Long, shuffleBytes: Long, spillBytes: Long, cpuS: Double,
      gcS: Double, taskSkew: Double, inputBytes: Long, outputBytes: Long)

  /** Total length of the union of [start, end] intervals (ms). */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}
