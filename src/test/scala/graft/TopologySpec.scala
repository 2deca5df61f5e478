package graft

import graft.plans.Topology
import graft.plans.Topology._
import org.scalatest.funsuite.AnyFunSuite

/** Config-DAG semantics vs the reference's topology loader (SURVEY §1.5/§3.1):
  * validation errors, fanout/union of multiple inputs, non-exclusive route
  * ports with _unmatched, and an end-to-end source→filter→rollup chain.
  */
class TopologySpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("source -> filter -> rewrite -> rollup chain executes") {
    val out = Topology.build(spark, Seq(
      SourceParquet("events", s"$dir/events.parquet"),
      Filter("big", Seq("events"), "value > 50"),
      Rewrite("shaped", Seq("big"), Seq("kind" -> "upper(event_type)")),
      Rollup("r1m", Seq("shaped"), series = "kind", ts = "unix_timestamp(ts)",
        value = "value", bucketSec = 3600, seqExpr = "event_id")))
    val tier = out("r1m")
    assert(tier.columns.toSeq ==
      Seq("series", "bucket", "sum_v", "cnt", "min_v", "max_v", "last_v", "last_ts", "last_seq"))
    assert(tier.count() > 0)
  }

  test("route: non-exclusive ports + _unmatched partition the parent") {
    val out = Topology.build(spark, Seq(
      SourceParquet("events", s"$dir/events.parquet"),
      Route("r", Seq("events"), Seq(
        "high" -> "value > 100",
        "errors" -> "event_type = 'error'"))))
    val n = out("events").count()
    val high = out("r.high").count()
    val errors = out("r.errors").count()
    val unmatched = out("r._unmatched").count()
    assert(high > 0 && errors > 0 && unmatched > 0)
    // non-exclusive: an error with value>100 is in both ports
    val overlap = out("r.high").filter("event_type = 'error'").count()
    assert(high + errors + unmatched == n + overlap)
  }

  test("fanout/union: component with two inputs merges them") {
    val out = Topology.build(spark, Seq(
      SourceParquet("events", s"$dir/events.parquet"),
      Filter("a", Seq("events"), "value > 100"),
      Filter("b", Seq("events"), "value <= 100"),
      Filter("all", Seq("a", "b"), "true")))
    assert(out("all").count() == out("events").count())
  }

  test("validation: unknown input, duplicate id, cycle") {
    val src = SourceParquet("events", s"$dir/events.parquet")
    val e1 = intercept[TopologyException] {
      Topology.build(spark, Seq(src, Filter("f", Seq("nope"), "true")))
    }
    assert(e1.getMessage.contains("unknown input: nope"))
    val e2 = intercept[TopologyException] {
      Topology.build(spark, Seq(src, Filter("events", Seq("events"), "true")))
    }
    assert(e2.getMessage.contains("duplicate id"))
    val e3 = intercept[TopologyException] {
      Topology.build(spark, Seq(src,
        Filter("x", Seq("y"), "true"), Filter("y", Seq("x"), "true")))
    }
    assert(e3.getMessage.contains("cycle"))
  }
}
