package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark work attributed to one span: every job started under the span's
  * job group, and every task of those jobs.
  */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var cpuNs = 0L
  var runMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  /** Slowest task over the median task (0 when the span ran no task). */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }

  /** Executor CPU time over executor run time (0 when nothing ran). */
  def cpuBusy: Double = if (runMs == 0L) 0.0 else cpuNs / (runMs * 1e6)
}

/** Counts jobs and task metrics per job group. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, Counters]

  private def of(g: String) = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    of(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    c.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
    }
  }

  def take(g: String): Counters = synchronized(groups.remove(g).getOrElse(new Counters))
}

/** Planning-phase time (analysis, optimization, planning) of every query
  * execution that completed, keyed by the wall-clock start of its first
  * phase so it can be attributed to the span that was open then.
  */
final class PlanListener extends QueryExecutionListener {
  private val samples = mutable.ArrayBuffer.empty[(Long, Double)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      samples += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum / 1e3))
    }
  }

  /** Sum of the planning time that started inside [fromMs, toMs]. */
  def within(fromMs: Long, toMs: Long): Double = synchronized {
    samples.collect { case (t, s) if t >= fromMs && t <= toMs => s }.sum
  }

  def clear(): Unit = synchronized(samples.clear())
}

final case class Span(name: String, parent: String, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long)

/** Records spans around calls into each layer. The untraced run uses
  * [[Tracer.Off]], whose `span` is a plain call.
  */
trait Tracer {
  def span[T](name: String)(body: => T): T
}

object Tracer {
  object Off extends Tracer {
    def span[T](name: String)(body: => T): T = body
  }
}

/** Spans stay in memory; each carries a job group so that the Spark work it
  * causes is attributed to it, even when the work runs on other threads.
  */
final class SpanTracer(spark: SparkSession, iteration: Int) extends Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]

  def group(name: String): String = s"it$iteration/$name"

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group(name), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val m0 = System.currentTimeMillis()
    try body
    finally {
      spans += Span(name, "iter", t0, System.nanoTime(), m0, System.currentTimeMillis())
      sc.clearJobGroup()
    }
  }
}
