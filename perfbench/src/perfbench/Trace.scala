package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed interval. `parent` is 0 for a root span. Times are epoch
  * nanoseconds, so listener events (epoch milliseconds) share the time base.
  */
final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long)

/** Spans around every call the benchmark makes into an engine layer, kept in
  * memory until the run ends. While a span is open, its id is the calling
  * thread's Spark job group, so the listener can attribute each job (and the
  * jobs of threads the engine starts inside the call) to that span.
  *
  * With `enabled = false` a span only runs its body: the untraced run pays
  * nothing but a flag test.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled: Boolean = false
  private val t0Nano = System.nanoTime()
  private val t0EpochNs = System.currentTimeMillis() * 1000000L
  def nowNs(): Long = t0EpochNs + (System.nanoTime() - t0Nano)

  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parents = stack.get()
      val start = nowNs()
      stack.set(id :: parents)
      sc.setJobGroup(s"span-$id", name)
      try body
      finally {
        val end = nowNs()
        stack.set(parents)
        parents.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "")
          case None => sc.clearJobGroup()
        }
        record(Span(id, name, parents.headOption.getOrElse(0L), start, end))
      }
    }

  /** A span whose interval was observed elsewhere (a Spark job). */
  def record(s: Span): Unit = spans.synchronized { spans += s }
  def newId(): Long = nextId.incrementAndGet()
  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Spark-side counters for the traced run: a `SparkListener` for jobs, stages
  * and tasks plus a `QueryExecutionListener` for planning time. Every event is
  * attributed to the span named by the job group it was submitted under
  * (`span-<id>`), not to whatever the tracer is doing when the listener bus
  * delivers it; events without such a group are ignored. Each finished job
  * also becomes a `spark.job` span under its span.
  */
final class SparkCounters(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private val c = mutable.HashMap.empty[(Long, String), Double] // (span id, counter) -> sum
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long)] // job -> (span id, start ms)
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val execSpan = mutable.HashMap.empty[Long, Long] // SQL execution id -> span id

  private def add(span: Long, k: String, v: Double): Unit =
    c.synchronized { c((span, k)) = c.getOrElse((span, k), 0.0) + v }

  private def spanOf(group: Option[String]): Option[Long] =
    group.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toLong)

  /** Counter sums over the events attributed to the spans `keep` accepts. */
  def totals(keep: Long => Boolean): Map[String, Double] = c.synchronized {
    c.toSeq.collect { case ((span, k), v) if keep(span) => k -> v }
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      .foreach { span =>
        add(span, "jobs", 1)
        c.synchronized {
          jobStart(e.jobId) = (span, e.time)
          e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, span))
        }
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    c.synchronized(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
      tracer.record(Span(tracer.newId(), "spark.job", span, t0 * 1000000L, e.time * 1000000L))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c.synchronized(stageSpan.get(e.stageInfo.stageId)).foreach(add(_, "stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    c.synchronized(stageSpan.get(e.stageId)).foreach { span =>
      val m = e.taskMetrics
      val i = e.taskInfo
      add(span, "tasks", 1)
      add(span, "task_run_s", m.executorRunTime / 1e3)
      add(span, "task_cpu_s", m.executorCpuTime / 1e9)
      add(span, "gc_s", m.jvmGCTime / 1e3)
      add(span, "sched_delay_s", math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
      add(span, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add(span, "shuffle_read_mb", (m.shuffleReadMetrics.localBytesRead +
        m.shuffleReadMetrics.remoteBytesRead) / 1048576.0)
      add(span, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(span, "spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
    }
  }

  /** Planning time of the execution whose end event is being delivered. */
  private var pendingPlanS: Option[Double] = None

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      spanOf(s.jobGroupId).foreach(span => c.synchronized(execSpan(s.executionId) = span))
    case end: SparkListenerSQLExecutionEnd => c.synchronized {
      for (span <- execSpan.remove(end.executionId); p <- pendingPlanS) add(span, "plan_s", p)
      pendingPlanS = None
    }
    case _ =>
  }

  /** Called by the session's `ExecutionListenerBus` while it handles a
    * `SparkListenerSQLExecutionEnd`. That bus shares the listener queue with
    * this listener and was registered before it (see `Main`), so the end event
    * reaches `onOtherEvent` right after this call and names the execution.
    */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    c.synchronized { pendingPlanS = Some(qe.tracker.phases.values.map(_.durationMs).sum / 1e3) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    c.synchronized { pendingPlanS = None }
}
