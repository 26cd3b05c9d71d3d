package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `op` is the id of the outermost span it belongs
  * to, shared by every span of one operation; `parent` is -1 at the top.
  */
final case class Span(id: Int, name: String, startUs: Long, endUs: Long,
    parent: Int, op: Int) {
  def seconds: Double = (endUs - startUs) / 1e6
}

/** A Spark job as the listener saw it, attributed to the span whose job
  * group was set on the driver thread when the job started.
  */
final class JobRec(val id: Int, val group: String, val span: Int,
    val callSite: String, val startMs: Long) {
  @volatile var endMs: Long = startMs
  @volatile var stages: Int = 0
  @volatile var tasks: Int = 0
  @volatile var taskCpuNs: Long = 0L
  @volatile var shuffleBytes: Long = 0L
}

/** Records jobs, completed stages and finished tasks. Task metrics are
  * summed per job through the stage → job map of the job-start event.
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val sentinelsEnded = new java.util.concurrent.atomic.AtomicInteger()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val span = if (group.startsWith(Tracer.GroupPrefix))
      group.stripPrefix(Tracer.GroupPrefix).toInt else -1
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs.put(e.jobId, new JobRec(e.jobId, group, span, site, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      if (j.group == Tracer.SentinelGroup) sentinelsEnded.incrementAndGet()
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    job(e.stageInfo.stageId).foreach(j => j.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- job(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskCpuNs += m.executorCpuTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }

  private def job(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(id => Option(jobs.get(id)))
}

/** Spans around the harness's calls into the program. Each span sets its
  * own job group on the driver thread, so every Spark job is attributed
  * to the innermost span that caused it. When disabled, `span` only runs
  * its body: untraced runs register no listener and set no job group.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private val listener: Option[JobListener] =
    if (enabled) Some(new JobListener) else None
  listener.foreach(sc.addSparkListener)

  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption
      val open = Span(id, name, nowUs, 0L, parent.map(_.id).getOrElse(-1),
        parent.map(_.op).getOrElse(id))
      stack ::= open
      sc.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
      try body
      finally {
        stack = stack.tail
        spans += open.copy(endUs = nowUs)
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Waits until the listener has seen every job started so far: a
    * sentinel job's end event is queued behind all earlier events.
    */
  def drain(): Unit = listener.foreach { l =>
    val before = l.sentinelsEnded.get
    sc.setJobGroup(Tracer.SentinelGroup, "sentinel", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (l.sentinelsEnded.get == before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Stops recording: later jobs are neither attributed nor counted. */
  def detach(): Unit = listener.foreach(sc.removeSparkListener)

  def allSpans: Seq[Span] = spans.toSeq

  def jobs: Seq[JobRec] = listener.map(_.jobs.values.asScala.toSeq
    .filter(_.group != Tracer.SentinelGroup).sortBy(_.id)).getOrElse(Nil)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def subtree(roots: Seq[Span]): Set[Int] = {
    val children = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).toSeq.flatMap(s => walk(s.id))
    roots.flatMap(r => walk(r.id)).toSet
  }

  def jobsUnder(roots: Seq[Span]): Seq[JobRec] = {
    val ids = subtree(roots)
    jobs.filter(j => ids.contains(j.span))
  }

  /** Writes spans and job spans (children of the span that started them,
    * sharing its op id) as JSON lines.
    */
  def writeSpans(path: Path): Unit = {
    val byId = spans.map(s => s.id -> s).toMap
    val jobSpans = jobs.filter(j => byId.contains(j.span)).map { j =>
      Span(-1 - j.id, s"spark.job ${j.callSite}", j.startMs * 1000L, j.endMs * 1000L,
        j.span, byId(j.span).op)
    }
    val lines = (spans ++ jobSpans).sortBy(_.startUs).map { s =>
      Json.render(Seq("id" -> s.id, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "parent" -> s.parent, "op" -> s.op))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  val SentinelGroup = "perfbench-sentinel"

  /** Total length of the union of `[start, end]` intervals, in seconds. */
  def unionSeconds(intervalsMs: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervalsMs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
