package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span around one call the benchmark makes into a layer. `unit` is the
  * id of the top-level span (one closed-loop step) it belongs to; spans
  * of one step share it. Times are epoch milliseconds with sub-ms
  * fraction, on the same clock as Spark's listener event times. */
final class Span(val id: Long, val parent: Long, val unit: Long,
                 val layer: String, val name: String, val startMs: Double,
                 val traced: Boolean) {
  var endMs: Double = startMs
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def durMs: Double = endMs - startMs
}

final case class JobRec(id: Int, span: Long, unit: Long, startMs: Double,
                        var endMs: Double, var ok: Boolean)
final case class StageRec(id: Int, attempt: Int, job: Int, submitMs: Double,
                          endMs: Double, tasks: Int)
final case class TaskRec(stage: Int, job: Int, launchMs: Double, endMs: Double,
                         queueMs: Double, runMs: Double, cpuMs: Double,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long,
                         inputRecords: Long, ok: Boolean)

/** Records spans from the benchmark's own code and, when tracing, the Spark
  * job/stage/task spans a registered listener sees. Jobs are tied to the
  * innermost open span through thread-local Spark properties set before
  * every action. One client thread: the span stack is not synchronized. */
final class Recorder(sc: SparkContext, tracing: Boolean) {
  import Recorder._

  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private var stack: List[Span] = Nil
  /** Whether the listener records the jobs of the current step. Traced
    * runs alternate it per step so the run measures its own overhead. */
  var recording: Boolean = tracing

  val listener: Option[Listener] =
    if (tracing) { val l = new Listener; sc.addSparkListener(l); Some(l) } else None

  private def setProps(): Unit = {
    sc.setLocalProperty(PropSpan, stack.headOption.map(_.id.toString).orNull)
    sc.setLocalProperty(PropUnit, stack.lastOption.map(_.id.toString).orNull)
    sc.setLocalProperty(PropTrace,
      if (stack.headOption.exists(_.traced) && listener.isDefined) "1" else "0")
  }

  /** Run `body` inside a span; nested calls become its children. */
  def span[A](layer: String, name: String)(body: => A): A = {
    val parent = stack.headOption
    val s = new Span(nextId, parent.map(_.id).getOrElse(0L),
      parent.map(_.unit).getOrElse(nextId), layer, name, nowMs,
      parent.map(_.traced).getOrElse(recording))
    nextId += 1
    spans += s
    stack = s :: stack
    setProps()
    try body
    finally {
      s.endMs = nowMs
      stack = stack.tail
      setProps()
    }
  }

  /** Attach a value to the innermost open span. */
  def attr(key: String, value: Double): Unit = stack.head.attrs(key) = value

  def childrenOf(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Wait until the listener has handled every event posted so far. */
  def drain(): Unit = listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(sc))

  def close(): Unit = listener.foreach(sc.removeSparkListener)
}

object Recorder {
  val PropSpan = "perfbench.span"
  val PropUnit = "perfbench.unit"
  val PropTrace = "perfbench.trace"

  final class Listener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val stageSubmit = new ConcurrentHashMap[(Int, Int), Double]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      if (p != null && p.getProperty(PropTrace) == "1") {
        jobs.put(e.jobId, JobRec(e.jobId, p.getProperty(PropSpan).toLong,
          p.getProperty(PropUnit).toLong, e.time.toDouble, e.time.toDouble, ok = true))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.endMs = e.time.toDouble
        j.ok = e.jobResult == JobSucceeded
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      if (stageJob.containsKey(si.stageId))
        stageSubmit.put((si.stageId, si.attemptNumber()),
          si.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageJob.get(si.stageId)).foreach { j =>
        val sub = stageSubmit.getOrDefault((si.stageId, si.attemptNumber()),
          si.submissionTime.getOrElse(0L).toDouble)
        stages.add(StageRec(si.stageId, si.attemptNumber(), j, sub,
          si.completionTime.getOrElse(System.currentTimeMillis()).toDouble,
          si.numTasks))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val ti = e.taskInfo
        val m = e.taskMetrics
        val sub = stageSubmit.getOrDefault((e.stageId, e.stageAttemptId),
          ti.launchTime.toDouble)
        val (run, cpu, sr, sw, spill, in) =
          if (m == null) (0.0, 0.0, 0L, 0L, 0L, 0L)
          else (m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.recordsRead)
        tasks.add(TaskRec(e.stageId, j, ti.launchTime.toDouble,
          ti.finishTime.toDouble, math.max(0.0, ti.launchTime - sub), run, cpu,
          sr, sw, spill, in, ti.successful))
      }
  }
}

/** Per-step layer accounting over the recorded spans and Spark jobs. */
final class Analysis(rec: Recorder) {
  private val l = rec.listener.get
  val jobs: Seq[JobRec] = l.jobs.values.asScala.toSeq.sortBy(_.id)
  val stages: Seq[StageRec] = l.stages.asScala.toSeq
  val tasks: Seq[TaskRec] = l.tasks.asScala.toSeq
  private val jobsBySpan = jobs.groupBy(_.span)
  private val jobsByUnit = jobs.groupBy(_.unit)
  private val tasksByJob = tasks.groupBy(_.job)
  private val stagesByJob = stages.groupBy(_.job)
  private val children: Map[Long, Seq[Span]] = rec.spans.toSeq.groupBy(_.parent)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val xs = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    xs.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  def jobsOfSpan(s: Span): Seq[JobRec] = jobsBySpan.getOrElse(s.id, Nil)
  def jobsOfUnit(u: Span): Seq[JobRec] = jobsByUnit.getOrElse(u.id, Nil)

  /** Wall time of a span not covered by its child spans or its own jobs. */
  def selfMs(s: Span): Double =
    s.durMs - covered(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)) ++
      jobsOfSpan(s).map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)

  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def jobMs(u: Span): Double =
    covered(jobsOfUnit(u).map(j => (j.startMs, j.endMs)), u.startMs, u.endMs)

  /** Spark counters summed over one step's jobs. */
  def counters(u: Span): Map[String, Double] = {
    val js = jobsOfUnit(u)
    val ts = js.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> js.map(j => stagesByJob.getOrElse(j.id, Nil).size).sum.toDouble,
      "tasks" -> ts.size.toDouble,
      "task_run_ms" -> ts.map(_.runMs).sum,
      "task_cpu_ms" -> ts.map(_.cpuMs).sum,
      "task_queue_ms" -> ts.map(_.queueMs).sum,
      "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "input_records" -> ts.map(_.inputRecords).sum.toDouble,
      "failed_tasks" -> ts.count(!_.ok).toDouble,
      "job_ms" -> jobMs(u),
      "driver_gap_ms" -> (u.durMs - jobMs(u)))
  }

  /** Spans, jobs, stages and tasks as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    rec.spans.foreach { s =>
      sb.append(Json.obj(Seq("type" -> Json.str("span"), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "unit" -> s.unit.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "self_ms" -> Json.num(selfMs(s))))).append('\n')
    }
    jobs.foreach { j =>
      sb.append(Json.obj(Seq("type" -> Json.str("job"), "id" -> j.id.toString,
        "parent" -> j.span.toString, "unit" -> j.unit.toString,
        "start_ms" -> Json.num(j.startMs), "end_ms" -> Json.num(j.endMs),
        "ok" -> j.ok.toString))).append('\n')
    }
    stages.foreach { s =>
      sb.append(Json.obj(Seq("type" -> Json.str("stage"), "id" -> s.id.toString,
        "attempt" -> s.attempt.toString, "parent" -> s.job.toString,
        "start_ms" -> Json.num(s.submitMs), "end_ms" -> Json.num(s.endMs),
        "tasks" -> s.tasks.toString))).append('\n')
    }
    tasks.foreach { t =>
      sb.append(Json.obj(Seq("type" -> Json.str("task"), "parent" -> t.stage.toString,
        "job" -> t.job.toString, "start_ms" -> Json.num(t.launchMs),
        "end_ms" -> Json.num(t.endMs), "queue_ms" -> Json.num(t.queueMs),
        "run_ms" -> Json.num(t.runMs), "cpu_ms" -> Json.num(t.cpuMs),
        "shuffle_read_bytes" -> t.shuffleRead.toString,
        "shuffle_write_bytes" -> t.shuffleWrite.toString,
        "spill_bytes" -> t.spill.toString,
        "input_records" -> t.inputRecords.toString, "ok" -> t.ok.toString)))
        .append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
