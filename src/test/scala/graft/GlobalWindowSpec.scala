package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Repo-wide scale guard: NO query plan may contain a WindowExec with an
  * empty partition spec (a single-task global window — the shape that
  * collapses a 100 TB shuffle onto one task), except the known bounded
  * carry: q54's counter-mode sample ranks globally via
  * Exporter.assignBatches with a CONSTANT tenant, whose foldable partition
  * key Catalyst folds away — but that window runs over the per-chunk
  * TOTALS frame (numChunks rows, not data-sized), the same bounded-carry
  * shape as Pack's prefix sum. Any new query that trips this test either
  * partitions its window or documents a bounded frame here.
  */
class GlobalWindowSpec extends AnyFunSuite with SparkSuite {

  private def globalWindows(p: SparkPlan): Seq[WindowExec] = {
    val self = p match {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
      case _ => Seq.empty
    }
    self ++ p.children.flatMap(globalWindows) ++ (p match {
      case a: AdaptiveSparkPlanExec => globalWindows(a.executedPlan)
      case _ => Seq.empty
    }) ++ p.subqueries.flatMap(globalWindows)
  }

  private val boundedCarryAllowlist = Set("q54_sample_counter")

  test("no query plan contains an unpartitioned (global) window outside the bounded-carry allowlist") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val gw = globalWindows(fn(spark, sfDir).queryExecution.executedPlan)
        if (gw.nonEmpty) Some(name) else None
    }
    assert(offenders.toSet.subsetOf(boundedCarryAllowlist),
      s"global single-task windows in: ${offenders.mkString(", ")}")
  }
}
