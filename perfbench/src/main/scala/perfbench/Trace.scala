package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._

/** A timed interval around one call into a layer. `startMs`/`endMs` are
  * epoch milliseconds, the clock Spark's listener events carry, so job
  * intervals and spans compare directly; durations come from nanoTime. */
final class Span(val id: Int, val parent: Int, val name: String,
    val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Spans around layer calls, kept in memory until the run ends. Off
  * (`enabled = false`), `span` only runs its body. Jobs started inside a
  * span carry its id as a local property, which the [[Recorder]] reads. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      enter(s.id)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        enter(stack.headOption.map(_.id).getOrElse(-1))
      }
    }

  def attr(k: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(k) = v)

  private def enter(id: Int): Unit = {
    sc.setLocalProperty(Tracer.SpanProp, if (id < 0) null else id.toString)
    CountingFs.driverSpan = id
  }

  /** Span duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Double =
    s.durMs - spans.iterator.filter(_.parent == s.id).map(_.durMs).sum
}

object Tracer {
  val SpanProp = "perfbench.span"
  def spanOfTask: Int =
    Option(TaskContext.get()).flatMap(tc => Option(tc.getLocalProperty(SpanProp)))
      .map(_.toInt).getOrElse(CountingFs.driverSpan)
}

final case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long)
final case class TaskRec(span: Int, finishMs: Long, inputBytes: Long, inputRecords: Long,
    shuffleWriteBytes: Long, outputBytes: Long)

/** Records jobs and task metrics per span from Spark's listener bus. */
final class Recorder extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time, e.time))
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(stageSpan.getOrDefault(e.stageId, -1), e.taskInfo.finishTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten))
  }

  def jobsOf(spans: Set[Int]): Seq[JobRec] = jobs.values.asScala.filter(j => spans(j.span)).toSeq
  def tasksOf(spans: Set[Int]): Seq[TaskRec] = tasks.asScala.filter(t => spans(t.span)).toSeq
}

/** The local file system, counting which parquet files each span opens.
  * Installed (`fs.file.impl`) only in traced runs. */
class CountingFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.endsWith(".parquet")) CountingFs.opened.put((Tracer.spanOfTask, f.toUri.getPath), ())
    super.open(f, bufferSize)
  }
}

object CountingFs {
  @volatile var driverSpan: Int = -1
  val opened = new ConcurrentHashMap[(Int, String), Unit]()
  def filesOf(span: Int): Int = opened.keySet.asScala.count(_._1 == span)
}
