package graft

import graft.queries.TraceQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the trace surface (q81–q83): well-formed span
  * trees and the flame-graph self-time identity.
  */
class TraceSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("span frame is a forest of 8-span binary trees: one root per trace, every parent exists") {
    val sp = TraceQueries.spans(spark, dir).cache()
    val traces = sp.select("trace_id").distinct().count()
    val roots = sp.filter(col("parent_span_id") === 0).count()
    assert(roots == traces, s"$roots roots vs $traces traces")
    // every non-root's parent is a span of the SAME trace with a smaller id
    val nonRoot = sp.filter(col("parent_span_id") =!= 0)
    val joined = nonRoot.alias("c").join(sp.alias("p"),
      col("c.trace_id") === col("p.trace_id") &&
        col("c.parent_span_id") === col("p.span_id"))
    assert(joined.count() == nonRoot.count())
    assert(joined.filter(col("c.parent_span_id") >= col("c.span_id")).count() == 0)
    sp.unpersist()
  }

  test("self-time identity: per trace, sum(self_us) equals the root span's duration") {
    val sp = TraceQueries.spans(spark, dir)
    val children = sp.filter(col("parent_span_id") =!= 0)
      .groupBy(col("trace_id").as("c_tid"), col("parent_span_id").as("c_pid"))
      .agg(sum(col("duration_us")).as("child_us"))
    val selfByTrace = sp.join(children,
        sp("trace_id") === col("c_tid") && sp("span_id") === col("c_pid"), "left")
      .groupBy(col("trace_id"))
      .agg(sum(col("duration_us") - coalesce(col("child_us"), lit(0L))).as("self_sum"))
    val rootDur = sp.filter(col("parent_span_id") === 0)
      .select(col("trace_id"), col("duration_us").as("root_dur"))
    val bad = selfByTrace.join(rootDur, "trace_id")
      .filter(col("self_sum") =!= col("root_dur")).count()
    assert(bad == 0)
  }

  test("RED rollup accounts for every span exactly once") {
    val sp = TraceQueries.spans(spark, dir)
    val red = TraceQueries.traceRed(spark, dir)
    val agg = red.agg(sum("req"), sum("errs"), sum("dur_us")).head()
    assert(agg.getLong(0) == sp.count())
    assert(agg.getLong(1) == sp.filter(col("status_code") === 2).count())
    val totalDur = sp.agg(sum("duration_us")).head().getLong(0)
    assert(agg.getLong(2) == totalDur)
  }
}
