package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. Times are epoch microseconds so they line
  * up with the Spark listener's job timestamps.
  */
final case class Span(
    id: Int,
    name: String,
    parent: Int,
    startUs: Long,
    endUs: Long,
    codegenCompiles: Long = 0,
    codegenMs: Double = 0,
) {
  def wallS: Double = (endUs - startUs) / 1e6
  def group: String = Tracer.groupOf(id)
}

/** Records spans around calls into the engine. With a listener attached
  * (the traced run) each span also sets the Spark job group, so the
  * listener can key every job and task to the innermost open span.
  */
final class Tracer(sc: SparkContext, val listener: Option[LayerListener]) {
  private var open = List.empty[Int]
  private var nextId = 0
  val spans = ArrayBuffer.empty[Span]

  def span[A](name: String)(body: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    if (listener.isDefined) sc.setJobGroup(Tracer.groupOf(id), name)
    open = id :: open
    val cg0 = if (listener.isDefined) Tracer.codegen() else (0L, 0.0)
    val t0 = Clock.nowUs
    try {
      val out = body
      val t1 = Clock.nowUs
      val cg1 = if (listener.isDefined) Tracer.codegen() else (0L, 0.0)
      val s = Span(id, name, parent, t0, t1, cg1._1 - cg0._1, cg1._2 - cg0._2)
      spans += s
      (out, s)
    } finally {
      open = open.tail
      if (listener.isDefined) open.headOption match {
        case Some(p) => sc.setJobGroup(Tracer.groupOf(p), "")
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Ids of `s` and every span opened inside it. */
  def subtree(s: Span): Set[Int] = {
    val kids = spans.filter(_.parent == s.id)
    kids.foldLeft(Set(s.id))((acc, k) => acc ++ subtree(k))
  }

  /** Span wall minus the part its child spans cover. */
  def selfUs(s: Span): Long =
    Stats.uncovered(
      (s.startUs, s.endUs),
      spans.filter(_.parent == s.id).map(c => (c.startUs, c.endUs)).toSeq)
}

object Tracer {

  /** Janino compiles so far and their summed time in ms. The time comes
    * from the metric's sample reservoir, so it is exact only while fewer
    * than the reservoir's 1028 compiles have happened.
    */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum.toDouble)
  }

  def groupOf(id: Int): String = s"perfbench-span-$id"
}

/** Job and task records keyed by the job group the tracer set. */
final case class JobRec(
    jobId: Int,
    group: String,
    startUs: Long,
    endUs: Long,
    callSite: String,
    stageIds: Seq[Int],
)

final case class TaskRec(
    group: String,
    stageId: Int,
    durationMs: Long,
    cpuNs: Long,
    gcMs: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
)

/** Counters of one span and everything run inside it. */
final case class SpanStats(
    wallS: Double,
    selfS: Double,
    driverS: Double,
    jobs: Int,
    tasks: Int,
    cpuS: Double,
    gcS: Double,
    shuffleMb: Double,
    spillMb: Double,
    skew: Double,
)

/** Collects every job and task of the application, tagged with the job
  * group that was set when the job was submitted.
  */
final class LayerListener extends SparkListener {
  private val jobStarts = scala.collection.mutable.Map.empty[Int, JobRec]
  private val done = ArrayBuffer.empty[JobRec]
  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]
  private val taskRecs = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val site =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, group))
    jobStarts(e.jobId) = JobRec(e.jobId, group, e.time * 1000, -1L, site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(j => done += j.copy(endUs = e.time * 1000))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val group = stageGroup.getOrElse(e.stageId, "")
    taskRecs += (if (m == null)
      TaskRec(group, e.stageId, e.taskInfo.duration, 0, 0, 0, 0, 0)
    else
      TaskRec(
        group,
        e.stageId,
        e.taskInfo.duration,
        m.executorCpuTime,
        m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
      ))
  }

  def jobs: Seq[JobRec] = synchronized(done.toSeq.sortBy(_.startUs))
  def tasks: Seq[TaskRec] = synchronized(taskRecs.toSeq)

  def jobsOf(groups: Set[String]): Seq[JobRec] =
    jobs.filter(j => groups.contains(j.group))

  def tasksOf(groups: Set[String]): Seq[TaskRec] =
    tasks.filter(t => groups.contains(t.group))
}

object LayerListener {

  /** Largest task duration over the median one, within the stage that
    * spent the most task time (the stage that sets the span's pace).
    */
  def skew(tasks: Seq[TaskRec]): Double = {
    val byStage = tasks.groupBy(_.stageId)
    if (byStage.isEmpty) 1.0
    else {
      val heavy = byStage.values.maxBy(_.map(_.durationMs).sum)
      val d = heavy.map(_.durationMs.toDouble)
      val med = Stats.median(d)
      if (med <= 0) 1.0 else d.max / med
    }
  }

  /** Counters for a window of time whose jobs and tasks are given. */
  def stats(
      window: (Long, Long),
      selfUs: Long,
      jobs: Seq[JobRec],
      tasks: Seq[TaskRec],
  ): SpanStats = {
    val mb = 1024.0 * 1024.0
    SpanStats(
      wallS = (window._2 - window._1) / 1e6,
      selfS = selfUs / 1e6,
      driverS = Stats.uncovered(window, jobs.map(j => (j.startUs, j.endUs))) / 1e6,
      jobs = jobs.length,
      tasks = tasks.length,
      cpuS = tasks.map(_.cpuNs).sum / 1e9,
      gcS = tasks.map(_.gcMs).sum / 1e3,
      shuffleMb = tasks.map(t => t.shuffleReadBytes + t.shuffleWriteBytes).sum / mb,
      spillMb = tasks.map(_.spillBytes).sum / mb,
      skew = skew(tasks),
    )
  }
}
