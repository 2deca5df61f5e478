package graft.obs

import org.apache.spark.{SparkContext, SparkException}
import org.apache.spark.scheduler._
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

/** The engine's one `SparkListener`: Spark's own job, stage and shuffle
  * counters, attributed to the job group that ran them and read only once
  * the listener bus has drained.
  *
  * Per job group (`""` for jobs run outside one) it counts started jobs, sums
  * the task-end shuffle write bytes, shuffle write time and fetch wait, and
  * records every completed stage (id, first line of its name, wall, tasks).
  * A stage belongs to the group of the job that submitted it; pool threads
  * and the SQL engine's broadcast and subquery threads inherit the group of
  * the thread that started them.
  *
  * The bus delivers events asynchronously, so counters read right after an
  * action can miss its last events. [[drain]] runs a one-task sentinel job
  * in a group of its own and waits for that job's end event: the bus
  * delivers events in order, so everything posted before the sentinel has
  * been seen by then. Sentinel jobs are never counted.
  */
final class JobGroupListener private (sc: SparkContext) extends SparkListener {
  import JobGroupListener._

  private final class Counters {
    val jobs, writeBytes, writeNanos, fetchWaitMs = new LongAdder
    val stages = new ConcurrentLinkedQueue[Stage]
    def snapshot: Counts = Counts(jobs.sum, writeBytes.sum, writeNanos.sum,
      fetchWaitMs.sum, stages.asScala.toSeq)
  }

  private val groups = new ConcurrentHashMap[String, Counters]
  private val stageGroup = new ConcurrentHashMap[Int, Counters]
  @volatile private var drainGroup: String = null
  @volatile private var drainJob = -1
  @volatile private var drained = new CountDownLatch(0)

  private def groupId(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(GroupKey))).getOrElse("")

  /** The counters of the group in `props`; None for sentinel jobs. */
  private def countersOf(props: java.util.Properties): Option[Counters] = {
    val id = groupId(props)
    if (id.startsWith(DrainPrefix)) None
    else Some(groups.computeIfAbsent(id, _ => new Counters))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (groupId(e.properties) == drainGroup) drainJob = e.jobId
    else countersOf(e.properties).foreach(_.jobs.increment())

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == drainJob) drained.countDown()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    countersOf(e.properties).foreach(stageGroup.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (c != null && m != null) {
      c.writeBytes.add(m.shuffleWriteMetrics.bytesWritten)
      c.writeNanos.add(m.shuffleWriteMetrics.writeTime)
      c.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val c = stageGroup.get(i.stageId)
    if (c != null) {
      val wall = (for { s <- i.submissionTime; d <- i.completionTime }
        yield (d - s) / 1e3).getOrElse(-1.0)
      c.stages.add(Stage(i.stageId, i.name.takeWhile(_ != '\n').take(60), wall, i.numTasks))
    }
  }

  /** Run `body` with `id` as this thread's job group, then restore the
    * thread's previous group. */
  def inGroup[A](id: String)(body: => A): A = {
    val saved = GroupProps.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(id, id)
    try body finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Block until the bus has delivered every event posted before this call.
    * A sentinel that fails (say, cancelled by a concurrent `cancelAllJobs`)
    * still posts its end event, so it still drains. */
  def drain(): Unit = synchronized {
    drainGroup = s"$DrainPrefix${java.util.UUID.randomUUID()}"
    drainJob = -1
    drained = new CountDownLatch(1)
    try inGroup(drainGroup)(sc.parallelize(Seq(0), 1).count())
    catch { case _: SparkException => }
    if (!drained.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus not drained in 60 s")
  }

  /** The counters of job group `id` so far. Call [[drain]] first. */
  def group(id: String): Counts =
    Option(groups.get(id)).fold(Counts.Zero)(_.snapshot)

  /** The counters of every job group together. Call [[drain]] first. */
  def total: Counts =
    groups.values.asScala.map(_.snapshot).foldLeft(Counts.Zero)(_ + _)

  def detach(): Unit = sc.removeSparkListener(this)
}

object JobGroupListener {

  private val GroupKey = "spark.jobGroup.id"
  private val GroupProps =
    Seq(GroupKey, "spark.job.description", "spark.job.interruptOnCancel")
  private val DrainPrefix = "graft-obs-drain-"

  /** One completed stage: wall from submission to completion. */
  final case class Stage(id: Int, name: String, wallSec: Double, tasks: Int)

  final case class Counts(jobs: Long, shuffleWriteBytes: Long,
      shuffleWriteNanos: Long, fetchWaitMs: Long, stages: Seq[Stage]) {
    def +(o: Counts): Counts = Counts(jobs + o.jobs,
      shuffleWriteBytes + o.shuffleWriteBytes, shuffleWriteNanos + o.shuffleWriteNanos,
      fetchWaitMs + o.fetchWaitMs, stages ++ o.stages)
  }

  object Counts {
    val Zero: Counts = Counts(0L, 0L, 0L, 0L, Nil)
  }

  /** A new listener registered on `sc`; [[JobGroupListener.detach]] removes it. */
  def attach(sc: SparkContext): JobGroupListener = {
    val l = new JobGroupListener(sc)
    sc.addSparkListener(l)
    l
  }
}
