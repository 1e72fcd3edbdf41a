package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Job, stage and task events of the traced spans, recorded by a
  * listener the benchmark registers itself. The engine is untouched:
  * every figure comes from Spark's own events plus the
  * spans [[Trace]] opens around public entry points.
  *
  * Jobs are attributed to a span by their job group (`setJobGroup`
  * before each traced call); a job launched while a query is being
  * built counts as `sources.open` when its call site is in
  * `graft.sources` (the parquet schema job of `Tables.apply`, the
  * `JsonLogs` readers), otherwise as `queries.build`.
  */
final class Probe extends SparkListener {
  import Probe._

  @volatile var recording = false
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val openJobs = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (recording && group.startsWith(GroupPrefix)) {
      val site = e.stageInfos.headOption.map(s => userFrame(s.details)).getOrElse("")
      val rec = JobRec(e.jobId, group, e.time, e.time, site, e.stageIds.size)
      openJobs(e.jobId) = rec
      jobs += rec
      e.stageIds.foreach { s => stageGroup(s) = group; stageJob(s) = e.jobId }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val i = e.taskInfo
      val m = e.taskMetrics
      tasks += (if (m == null) TaskRec(g, stageJob(e.stageId), e.stageId, i.launchTime,
        i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      else TaskRec(g, stageJob(e.stageId), e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.recordsWritten))
    }
  }

  def clear(): Unit = synchronized {
    jobs.clear(); tasks.clear(); stageGroup.clear(); stageJob.clear(); openJobs.clear()
  }
}

object Probe {
  val GroupPrefix = "perfbench|"

  final case class JobRec(id: Int, group: String, start: Long, var end: Long,
                          site: String, stages: Int) {
    def ms: Long = end - start
    def inSources: Boolean = site.startsWith("graft.sources.")
  }

  final case class TaskRec(group: String, job: Int, stage: Int, launch: Long, finish: Long,
                           runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                           shuffleRead: Long, spill: Long, inBytes: Long, inRows: Long,
                           outRows: Long) {
    def ms: Long = finish - launch
  }

  /** Wall time in `[from, to)` (epoch ms) during which at most one of
    * the given tasks was running — from the union of the tasks' own
    * launch/finish intervals, never from stage-to-stage gaps (stages
    * overlap, so their gaps can be negative). */
  def serialMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val edges = intervals.flatMap { case (a, b) =>
      val (s, e) = (math.max(a, from), math.min(b, to))
      if (e > s) Seq(s -> 1, e -> -1) else Nil
    }.sortBy(x => (x._1, x._2)) // a finish sorts before a launch at the same ms
    var running = 0
    var last = from
    var serial = 0L
    edges.foreach { case (t, d) =>
      if (running <= 1) serial += t - last
      running += d
      last = t
    }
    serial + math.max(0L, to - last)
  }

  private val LibraryFrame = "^(org\\.apache\\.spark\\.|scala\\.|java\\.|jdk\\.|sun\\.)".r

  /** The first frame of a job's long call site outside Spark, Scala and
    * the JDK (the call site starts at the Spark method that ran the job),
    * or the first frame when no user frame was captured (a job started
    * on a Spark-owned thread, e.g. a broadcast). */
  def userFrame(details: String): String = {
    val frames = details.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    frames.find(f => LibraryFrame.findFirstIn(f).isEmpty).orElse(frames.headOption).getOrElse("")
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.graft.ListenerBusWait.drain(sc)
}
