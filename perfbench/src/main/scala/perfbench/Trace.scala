package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's own calls into the engine.
  *
  * A span is (id, name, parent, start, end) in epoch milliseconds; the
  * run id is stamped on the span file as a whole. Spans nest by a stack
  * on the benchmark's single driver thread, and the innermost open span
  * id is published to Spark as a local property so the [[JobListener]]
  * can hang every Spark job under the span that submitted it. When
  * tracing is off, `span` only runs its body. */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()

  private def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size + 1
      val parent = stack.headOption.getOrElse(0)
      val s = Span(id, name, parent, nowMs, Double.NaN)
      spans += s
      stack.push(id)
      sc.setLocalProperty(SpanProperty, id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack.pop()
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.toString).orNull)
      }
    }

  def all: Seq[Span] = spans.toSeq
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startMs: Double,
                        var endMs: Double) {
    def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
      "parent" -> parent, "start_ms" -> startMs, "end_ms" -> endMs)
  }
}

/** The benchmark's own SparkListener: one record per Spark job with the
  * counters of its tasks, attributed to the benchmark span that
  * submitted it. Registered only on traced runs. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val span: Int, val startMs: Long) {
    var endMs: Long = -1
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var inputBytes = 0L
    def toMap: Map[String, Any] = Map("id" -> id, "span" -> span,
      "start_ms" -> startMs, "end_ms" -> endMs, "stages" -> stages,
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6,
      "gc_ms" -> gcMs, "sched_delay_ms" -> schedDelayMs,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "shuffle_read_bytes" -> shuffleReadBytes, "input_bytes" -> inputBytes)
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val jobOfStage = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(0)
    val j = new Job(e.jobId, span, e.time)
    j.stages = e.stageIds.size
    jobs(e.jobId) = j
    e.stageIds.foreach(s => jobOfStage(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    jobOfStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.inputBytes += m.inputMetrics.bytesRead
        // the scheduler delay Spark's own UI derives: task wall that is
        // neither running, (de)serializing nor fetching the result
        val info = e.taskInfo
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
    }
  }

  def all: Seq[Job] = synchronized(jobs.values.toSeq)
}
