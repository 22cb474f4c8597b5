package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Outside-in job attribution for the benchmark's traced runs.
  *
  * The listener keeps raw scheduler and SQL events in memory; `window`
  * turns the events of one timed operation into per-layer figures. A job
  * gets its call site from, in order:
  *  - the SQL execution it ran under (`spark.sql.execution.id` →
  *    `SparkListenerSQLExecutionStart.details`, the stack of the thread
  *    that started the query; most jobs run on Spark's own threads, so
  *    the stage call site alone rarely shows a `graft.` frame);
  *  - otherwise its first stage's `details` (plain RDD jobs such as
  *    `localCheckpoint`).
  * The benchmark's own calls carry a `perfbench.phase` local property.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobStarts = new ConcurrentLinkedQueue[JobStart]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stageDetails = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentLinkedQueue[StageDone]()
  private val tasks = new ConcurrentLinkedQueue[TaskDone]()
  private val execStarts = new ConcurrentLinkedQueue[ExecStart]()
  private val execEnds = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val cachedBytes = new java.util.concurrent.atomic.AtomicLong()

  def clear(): Unit = {
    jobStarts.clear(); jobEnds.clear(); stageDetails.clear(); stages.clear()
    tasks.clear(); execStarts.clear(); execEnds.clear(); cachedBytes.set(0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobStarts.add(JobStart(e.jobId, e.time, e.stageIds,
      prop("spark.sql.execution.id").map(_.toLong),
      prop(PhaseKey).getOrElse("")))
    e.stageInfos.foreach(s => stageDetails.put(s.stageId, s.details))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add((e.jobId, e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(StageDone(i.stageId, i.numTasks, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null) tasks.add(TaskDone(e.taskInfo.launchTime, e.taskInfo.finishTime))

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      cachedBytes.addAndGet(b.memSize + b.diskSize)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execStarts.add(ExecStart(s.executionId,
        s.rootExecutionId.getOrElse(s.executionId), s.time, s.details,
        s.physicalPlanDescription))
    case s: SparkListenerSQLExecutionEnd => execEnds.put(s.executionId, s.time)
    case _ =>
  }

  /** Everything recorded since `clear`, with each job's call site resolved. */
  def window(): Window = {
    val execs = execStarts.asScala.toList
    val byId = execs.map(x => x.id -> x).toMap
    val ends = jobEnds.asScala.toMap
    val jobs = jobStarts.asScala.toList.map { j =>
      val exec = j.execId.flatMap(byId.get).map(x => byId.getOrElse(x.root, x))
      val site = exec.map(_.details)
        .orElse(j.stageIds.sorted.headOption.flatMap(s => Option(stageDetails.get(s))))
        .getOrElse("")
      Job(j.id, j.time, ends.getOrElse(j.id, j.time), j.stageIds, exec, site, j.phase)
    }
    val roots = execs.filter(x => x.id == x.root).map(x =>
      RootExec(x, execEnds.asScala.getOrElse(x.id, x.time)))
    Window(jobs, roots, stages.asScala.toList, tasks.asScala.toList, cachedBytes.get)
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"

  final case class JobStart(id: Int, time: Long, stageIds: Seq[Int],
      execId: Option[Long], phase: String)
  final case class StageDone(id: Int, numTasks: Int, runMs: Long, shuffleBytes: Long,
      spillBytes: Long, recordsRead: Long)
  final case class TaskDone(launch: Long, finish: Long)
  final case class ExecStart(id: Long, root: Long, time: Long, details: String,
      plan: String)
  final case class RootExec(start: ExecStart, end: Long) {
    def seconds: Double = (end - start.time) / 1000.0
  }
  final case class Job(id: Int, start: Long, end: Long, stageIds: Seq[Int],
      exec: Option[ExecStart], site: String, phase: String)

  /** First frame of a call site whose class starts with `prefix`. */
  def firstFrame(site: String, prefix: String): Option[String] =
    site.linesIterator.map(_.trim).find(_.startsWith(prefix))

  /** The events of one operation. */
  final case class Window(jobs: List[Job], execs: List[RootExec],
      stages: List[StageDone], tasks: List[TaskDone], cachedBytes: Long) {

    /** Counters over the jobs `keep` selects. */
    def counters(keep: Job => Boolean): Counters = {
      val js = jobs.filter(keep)
      val ids = js.flatMap(_.stageIds).toSet
      val ss = stages.filter(s => ids(s.id))
      Counters(js.size, ss.map(_.numTasks).sum, ss.map(_.runMs).sum / 1000.0,
        ss.count(_.numTasks == 1), ss.map(_.shuffleBytes).sum / 1e6,
        ss.map(_.spillBytes).sum / 1e6, ss.map(_.recordsRead).sum)
    }

    /** Seconds of [t0, t1] in which no task was running. */
    def driverOnlySeconds(t0: Long, t1: Long): Double = {
      val spans = tasks.map(t => (math.max(t.launch, t0), math.min(t.finish, t1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L
      var curA = -1L
      var curB = -1L
      spans.foreach { case (a, b) =>
        if (a > curB) { busy += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      busy += curB - curA
      (t1 - t0 - busy) / 1000.0
    }
  }

  final case class Counters(jobs: Int, tasks: Int, taskSeconds: Double,
      singleTaskStages: Int, shuffleMb: Double, spillMb: Double, recordsRead: Long)
}
