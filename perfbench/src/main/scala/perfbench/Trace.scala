package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One span: a named interval in one layer, caused by `parent`, inside
  * op `op`. Times are epoch milliseconds with sub-millisecond digits. */
final case class Span(id: Int, parent: Int, op: String, name: String, layer: String,
                      start: Double, end: Double)

/** Spans and counters of the traced run, kept in memory until the run
  * ends. The benchmark records spans around its own calls into each
  * layer; Spark job and stage spans come from [[SparkEvents]] and are
  * attached afterwards. With `on = false` every method only runs its
  * body, so the untraced run pays nothing for the tracer. */
final class Tracer(val on: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var op = ""
  val counters = mutable.Map[String, Double]().withDefaultValue(0.0)

  def startOp(opId: String): Unit = op = opId

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, op, name, layer, nowMs, 0)
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans(id) = spans(id).copy(end = nowMs)
      }
    }

  def add(counter: String, v: Double): Unit = if (on) counters(counter) += v
}

/** Spark listener that keeps job, stage and task ends in memory. Jobs
  * are attributed to ops through their job group. */
final class SparkEvents extends SparkListener {
  import SparkEvents._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, g, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Stage(s.stageId, s.attemptNumber(), s.submissionTime.getOrElse(-1L),
      s.completionTime.getOrElse(-1L), s.numTasks))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val failed = i.failed || i.killed
    if (m == null) tasks.add(Task(e.stageId, 0, 0, 0, 0, i.attemptNumber > 0 || failed))
    else {
      // Spark UI's scheduler delay: task wall minus executor-side time
      val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L))
      tasks.add(Task(e.stageId, m.executorRunTime, delay, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, i.attemptNumber > 0 || failed))
    }
  }

  def jobsOf(prefix: String): Seq[Job] = jobs.values().asScala.filter(_.group.startsWith(prefix)).toSeq
}

object SparkEvents {
  final case class Job(id: Int, group: String, start: Long, stages: Seq[Int], var end: Long = -1)
  final case class Stage(id: Int, attempt: Int, submitted: Long, completed: Long, tasks: Int)
  final case class Task(stage: Int, runMs: Long, schedDelayMs: Long, shuffleWrite: Long,
                        spill: Long, retry: Boolean)
}

object Trace {
  /** Self time per layer: each span's duration minus the part of it
    * that its children cover. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))).filter(x => x._2 > x._1))
        (s.end - s.start) - covered
      }.sum
    }
  }

  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Adds Spark job and stage spans (layer `exec`) under the bench span
    * of the same op that was open when the job started. */
  def withSparkSpans(spans: Seq[Span], ev: SparkEvents): Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]() ++= spans
    val stageById = ev.stages.asScala.groupBy(_.id).map { case (k, v) => k -> v.maxBy(_.attempt) }
    val byOp = spans.groupBy(_.op)
    ev.jobs.values().asScala.toSeq.sortBy(_.id).foreach { j =>
      byOp.get(j.group).foreach { opSpans =>
        val end = if (j.end > 0) j.end.toDouble else j.start.toDouble
        val parent = opSpans.filter(s => s.start <= j.start + 1 && s.end >= j.start - 1)
          .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(opSpans.head.id)
        val jid = out.length
        out += Span(jid, parent, j.group, s"job ${j.id}", "exec", j.start.toDouble, end)
        j.stages.flatMap(stageById.get).filter(_.submitted > 0).foreach { st =>
          out += Span(out.length, jid, j.group, s"stage ${st.id}", "exec",
            st.submitted.toDouble, st.completed.toDouble)
        }
      }
    }
    out.toSeq
  }
}
