package graft

import graft.functions.Exporter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sink-side shaping semantics vs the reference (SURVEY §2.1 sinks):
  * remote-write batch packing and exporter text rendering order.
  */
class ExporterSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("batch packing: <=maxEvents per (tenant, batch), deterministic order") {
    val rows = (0 until 25).map(i => (s"t${i % 2}", 100L + i, i.toLong, i.toDouble))
    val df = rows.toDF("tenant", "ts", "seq", "value")
    val batches = Exporter.batchSummaries(df, "tenant", "ts", "seq", maxEvents = 5)
      .as[(String, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2))
    // t0 has 13 events -> batches of 5,5,3; t1 has 12 -> 5,5,2
    val t0 = batches.filter(_._1 == "t0").map(_._3).toSeq
    val t1 = batches.filter(_._1 == "t1").map(_._3).toSeq
    assert(t0 == Seq(5L, 5L, 3L), s"t0 $t0")
    assert(t1 == Seq(5L, 5L, 2L), s"t1 $t1")
    // ts spans don't overlap between consecutive batches of one tenant
    val spans = batches.filter(_._1 == "t0").map(b => (b._4, b._5))
    spans.sliding(2).foreach { case Array((_, hi), (lo, _)) => assert(hi < lo); case _ => }
  }

  test("two-level batch ids equal the single-window formulation at any chunking") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 500).map(i => (s"t${i % 3}", rnd.nextInt(100).toLong, i.toLong))
    val df = rows.toDF("tenant", "ts", "seq")
    // naive single-window oracle
    val expected = rows.groupBy(_._1).flatMap { case (_, rs) =>
      rs.sortBy(r => (r._2, r._3)).zipWithIndex.map { case (r, i) => r._3 -> (i / 7).toLong }
    }
    for (chunks <- Seq(1, 5, 64)) {
      val got = Exporter.assignBatches(df, "tenant", "ts", "seq", maxEvents = 7,
        numChunks = chunks)
        .select("seq", "batch_id").as[(Long, Long)].collect().toMap
      assert(got == expected, s"numChunks=$chunks")
    }
    // caller-supplied bounds (skipping the min/max reduce) change nothing,
    // even when the supplied window over-covers the data
    val bounded = Exporter.assignBatches(df, "tenant", "ts", "seq", maxEvents = 7,
      numChunks = 16, tsBounds = Some((-50L, 500L)))
      .select("seq", "batch_id").as[(Long, Long)].collect().toMap
    assert(bounded == expected, "tsBounds variant diverged")
  }

  test("canonical labels: key-sorted regardless of map insertion order") {
    val df = Seq(1).toDF("x").select(
      Exporter.canonicalLabels(map(lit("z"), lit("1"), lit("a"), lit("2"))).as("c"))
    assert(df.as[String].head() == "a=\"2\",z=\"1\"")
  }

  test("renderExposition: golden body with headers, histogram expansion, ordering") {
    val rows = Seq(
      ("app_up", Map.empty[String, String], "gauge", 1.0, 1L, Seq.empty[Long]),
      ("app_reqs", Map("svc" -> "b"), "counter", 20.0, 2L, Seq.empty[Long]),
      ("app_reqs", Map("svc" -> "a"), "counter", 10.0, 1L, Seq.empty[Long]),
      ("app_latency", Map("svc" -> "a"), "histogram", 1.7, 7L, Seq(3L, 7L)))
      .toDF("name", "tags", "kind", "m_sum", "m_count", "m_buckets")
    val body = Exporter.renderExposition(rows,
      ladder = Seq(0.1, Double.PositiveInfinity),
      descriptions = Map("app_latency" -> "request latency", "app_up" -> "is up"))
      .as[String].collect().toSeq
    assert(body == Seq(
      "# HELP app_latency request latency",
      "# TYPE app_latency histogram",
      """app_latency_bucket{svc="a",le="0.1"} 3""",
      """app_latency_bucket{svc="a",le="+Inf"} 7""",
      """app_latency_sum{svc="a"} 1.7""",
      """app_latency_count{svc="a"} 7""",
      "# HELP app_reqs ",
      "# TYPE app_reqs counter",
      """app_reqs{svc="a"} 10.0""",
      """app_reqs{svc="b"} 20.0""",
      "# HELP app_up is up",
      "# TYPE app_up gauge",
      "app_up 1.0"), body.mkString("\n"))
  }

  test("renderExposition: summary kind expands to quantile lines + _sum/_count") {
    val rows = Seq(
      ("lat", Map("svc" -> "a"), "summary", 12.5, 40L, Seq.empty[Long], Seq(0.3, 0.9, 2.1)))
      .toDF("name", "tags", "kind", "m_sum", "m_count", "m_buckets", "m_quantiles")
    val body = Exporter.renderExposition(rows, quantiles = Seq(0.5, 0.9, 0.99))
      .as[String].collect().toSeq
    assert(body == Seq(
      "# HELP lat ",
      "# TYPE lat summary",
      """lat{svc="a",quantile="0.5"} 0.3""",
      """lat{svc="a",quantile="0.9"} 0.9""",
      """lat{svc="a",quantile="0.99"} 2.1""",
      """lat_sum{svc="a"} 12.5""",
      """lat_count{svc="a"} 40"""), body.mkString("\n"))
  }

  test("renderExposition: expired entries are skipped; fully-expired family loses its header") {
    val rows = Seq(
      ("live", Map("k" -> "1"), "gauge", 1.0, 1L, Seq.empty[Long], 100L),
      ("live", Map("k" -> "2"), "gauge", 2.0, 1L, Seq.empty[Long], 10L), // expired
      ("dead", Map("k" -> "3"), "gauge", 3.0, 1L, Seq.empty[Long], 10L)) // expired
      .toDF("name", "tags", "kind", "m_sum", "m_count", "m_buckets", "expires_at")
    val body = Exporter.renderExposition(rows,
      expiresAtCol = Some("expires_at"), now = Some(lit(50L)))
      .as[String].collect().toSeq
    assert(body == Seq(
      "# HELP live ",
      "# TYPE live gauge",
      """live{k="1"} 1.0"""))
  }

  test("assignBatches keeps null-ts rows and packs them first (nulls-first order)") {
    val df = Seq((Option(100L), 1L), (None, 2L), (Option(50L), 3L), (None, 4L))
      .toDF("ts", "seq").withColumn("tenant", lit("t"))
    val got = Exporter.assignBatches(df, "tenant", "ts", "seq", maxEvents = 2)
      .select($"seq", $"batch_id").as[(Long, Long)].collect().toMap
    // order: null ts first by seq (2, 4), then ts 50 (3), then 100 (1)
    assert(got == Map(2L -> 0L, 4L -> 0L, 3L -> 1L, 1L -> 1L), got.toString)
  }

  test("label values with quote/backslash/newline escape on render and roundtrip the parser") {
    val tricky = Map("a" -> "x\"y", "b" -> "p\\q", "c" -> "l1\nl2")
    val df = Seq(("m", tricky, 1.0)).toDF("name", "tags", "value")
    val line = Exporter.renderText(df).as[String].head()
    assert(!line.contains('\n'), s"unescaped newline breaks the line protocol: $line")
    val parsed = graft.sources.PromText.parseLine(line)
    assert(parsed.exists(p => p.name == "m" && p.labels == tricky && p.value == 1.0),
      s"roundtrip failed: $line -> $parsed")
    // HELP text with backslash/newline renders as ONE escaped line too
    val rows = Seq(("m", Map.empty[String, String], "gauge", 1.0, 1L, Seq.empty[Long]))
      .toDF("name", "tags", "kind", "m_sum", "m_count", "m_buckets")
    val help = Exporter.renderExposition(rows,
      descriptions = Map("m" -> "line1\nline2 c:\\tmp"))
      .as[String].collect().head
    assert(help == "# HELP m line1\\nline2 c:\\\\tmp", help)
  }

  test("renderText: lines ordered by (name, canonical labels), exposition shape") {
    val rows = Seq(
      ("metric_b", Map("h" -> "1"), 2.0),
      ("metric_a", Map("z" -> "9", "a" -> "0"), 1.5),
      ("metric_a", Map("a" -> "0"), 3.0))
    val df = rows.toDF("name", "tags", "value")
    val lines = Exporter.renderText(df).as[String].collect().toSeq
    assert(lines == Seq(
      """metric_a{a="0"} 3.0""",
      """metric_a{a="0",z="9"} 1.5""",
      """metric_b{h="1"} 2.0"""))
  }
}
