package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call. `metric` names the per-layer metric its self time adds
  * to; the root span of an op (`metric` = [[Trace.Unattributed]]) holds the
  * time no layer accounts for.
  */
final case class Span(id: Long, parent: Long, name: String, metric: String,
    opId: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Trace {
  /** Spark local property carrying the innermost open span's id, so jobs
    * submitted inside a span can be attributed to it.
    */
  val SpanProperty = "perfbench.span"
  val Unattributed = "run.unattributed_s"

  /** Self time of every span: its duration minus the part of it covered by
    * its children (children of one thread never overlap, but a union is
    * taken anyway).
    */
  def selfTimesNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self time in seconds summed per metric name. */
  def selfTimeByMetric(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimesNs(spans)
    spans.groupBy(_.metric).map { case (m, ss) => m -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}

/** In-memory span recorder. Disabled, it only runs the body, so the
  * untraced run pays nothing for it.
  */
final class Tracer(var enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var opId = 0L

  /** Opens a root span for op `id`; nested [[apply]] calls become its children. */
  def op[T](id: Long, name: String)(body: => T): T = {
    opId = id
    apply(name, Trace.Unattributed)(body)
  }

  def apply[T](name: String, metric: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(Trace.SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanProperty, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, name, metric, opId, t0, t1)
      }
    }
}

/** Job, stage, task and block counters from Spark's listener bus, counted
  * only while `active`. Jobs are attributed to the span open when they
  * were submitted.
  */
final class LayerListener extends SparkListener {
  import LayerListener.Job
  @volatile var active = false

  val jobs = mutable.ArrayBuffer.empty[Job]

  var stages = 0L
  var tasks = 0L
  var taskBusyMs = 0L
  var schedWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  var rddBlocks = 0L
  var rddBlockBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active) {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      jobs += Job(e.jobId, span, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (active) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += 1
      taskBusyMs += m.executorRunTime
      schedWaitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      resultBytes += m.resultSize
      inputBytes += m.inputMetrics.bytesRead
      inputRows += m.inputMetrics.recordsRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (active && info.blockId.isRDD && info.storageLevel.isValid) {
      rddBlocks += 1
      rddBlockBytes += info.memSize + info.diskSize
    }
  }
}

object LayerListener {
  final case class Job(id: Int, span: Long, startMs: Long, var endMs: Long = -1L)
}

/** Catalyst phase times (`qe.tracker`) of every successful action. */
final class PhaseListener extends QueryExecutionListener {
  @volatile var active = false
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) synchronized {
      qe.tracker.phases.foreach { case (phase, s) => phaseMs(phase) += s.durationMs }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
