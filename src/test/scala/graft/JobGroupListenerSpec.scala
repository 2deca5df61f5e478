package graft

import graft.obs.JobGroupListener
import org.scalatest.funsuite.AnyFunSuite

/** The shared listener's counters: per-group jobs, shuffle bytes and
  * stages, read after the bus has drained. */
class JobGroupListenerSpec extends AnyFunSuite with SparkSuite {

  test("a job group's shuffle reports its bytes, both stages and its job count") {
    val sc = spark.sparkContext
    val listener = JobGroupListener.attach(sc)
    try {
      val group = s"shuffle-${java.util.UUID.randomUUID()}"
      val sums = listener.inGroup(group) {
        sc.parallelize(1 to 1000, 4).map(i => (i % 10, 1L)).reduceByKey(_ + _, 2)
          .collect()
      }
      assert(sums.map(_._2).sum == 1000L)
      // a job outside the group is not counted in it
      sc.parallelize(1 to 10, 1).count()
      listener.drain()
      val c = listener.group(group)
      assert(c.jobs == 1)
      assert(c.shuffleWriteBytes > 0 && c.shuffleWriteNanos > 0)
      assert(c.stages.map(_.tasks).sorted == Seq(2, 4), c.stages)
      assert(c.stages.forall(_.wallSec >= 0))
      // the drain's sentinel jobs are never counted
      listener.drain()
      assert(listener.total.jobs == 2)
      assert(listener.total.shuffleWriteBytes == c.shuffleWriteBytes)
    } finally listener.detach()
  }
}
