package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Epoch milliseconds with nanosecond resolution, on the same time line as
  * Spark's listener event timestamps. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Int, parent: Int, name: String, start: Double, var end: Double = 0.0) {
  def seconds: Double = (end - start) / 1e3
  /** `core`, `io`, `graph`, `operators`, ... for a call span `layer.function`. */
  def layer: String = name.takeWhile(_ != '.')
}

/** Records one span per benchmark call, kept in memory for the whole run.
  * Spans are always recorded: they are the benchmark's own timer. When
  * `linkJobs` is set, each span also becomes the Spark job group of the
  * jobs its call starts, so the listener can place them under it. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var sc: Option[SparkContext] = None
  var linkJobs = false

  def span[T](name: String)(f: => T): T = {
    val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, Clock.ms)
    spans += s
    stack = s :: stack
    group(Some(s.id))
    try f
    finally {
      s.end = Clock.ms
      stack = stack.tail
      group(stack.headOption.map(_.id))
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  private def group(id: Option[Int]): Unit =
    if (linkJobs) sc.foreach { c =>
      id match {
        case Some(i) => c.setJobGroup(Tracer.groupOf(i), spans(i).name, interruptOnCancel = false)
        case None => c.clearJobGroup()
      }
    }
}

object Tracer {
  def groupOf(spanId: Int): String = s"graftbench-span-$spanId"
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith("graftbench-span-")).map(_.stripPrefix("graftbench-span-").toInt)
}

/** What the engine did, as seen by a listener on the Spark scheduler. */
final case class JobRec(id: Int, span: Option[Int], start: Long, var end: Long, stages: Seq[Int])
final case class StageRec(id: Int, job: Int, submit: Long, complete: Long)
final class TaskTotals {
  var tasks = 0L; var failed = 0L; var runMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
}

/** Collects jobs, stages and per-stage task totals while `recording`. */
final class EngineListener extends SparkListener {
  @volatile var recording = false
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val taskTotals = scala.collection.mutable.Map.empty[Int, TaskTotals]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageIds.foreach(stageJob(_) = e.jobId)
    if (recording) {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs += JobRec(e.jobId, Tracer.spanOf(group), e.time, e.time, e.stageIds)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    if (recording) for (s <- i.submissionTime; c <- i.completionTime)
      stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1), s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (recording) {
      val t = taskTotals.getOrElseUpdate(e.stageId, new TaskTotals)
      t.tasks += 1
      if (!e.taskInfo.successful) t.failed += 1
      Option(e.taskMetrics).foreach { m =>
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}
