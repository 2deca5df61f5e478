package graft

import graft.functions.RemoteWrite
import graft.functions.RemoteWrite._
import org.scalatest.funsuite.AnyFunSuite

/** WriteRequest wire-format roundtrip — the mirror of the reference sink's
  * own encode test (/root/reference/src/sinks/prometheus_remote_write.rs:
  * 253-374 decodes its own request bytes back).
  */
class RemoteWriteSpec extends AnyFunSuite with SparkSuite {

  test("proto roundtrip: labels, samples, metadata survive encode/decode") {
    val req = PromWriteRequest(
      Seq(
        PromTimeSeries(
          Seq(PromLabel("__name__", "http_requests_total"), PromLabel("code", "200")),
          Seq(PromSample(1027.0, 1395066363000L), PromSample(1030.5, 1395066364000L))),
        PromTimeSeries(
          Seq(PromLabel("__name__", "up")),
          Seq(PromSample(1.0, 0L)))),
      Seq(PromMetadata(1, "http_requests_total"), PromMetadata(2, "up")))
    assert(decode(encode(req)) == req)
  }

  test("proto roundtrip: special doubles and varint extremes") {
    val req = PromWriteRequest(
      Seq(PromTimeSeries(
        Seq(PromLabel("__name__", "m")),
        Seq(PromSample(Double.PositiveInfinity, Long.MaxValue),
          PromSample(Double.NegativeInfinity, 1L),
          PromSample(-0.0, 127L), PromSample(1e-300, 128L)))),
      Nil)
    val got = decode(encode(req))
    assert(got.timeseries.head.samples.map(_.timestampMs) ==
      Seq(Long.MaxValue, 1L, 127L, 128L))
    assert(got.timeseries.head.samples(0).value.isPosInfinity)
    assert(got.timeseries.head.samples(1).value.isNegInfinity)
    assert(java.lang.Double.doubleToRawLongBits(got.timeseries.head.samples(2).value) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
    val nan = decode(encode(PromWriteRequest(
      Seq(PromTimeSeries(Nil, Seq(PromSample(Double.NaN, 5L)))), Nil)))
    assert(nan.timeseries.head.samples.head.value.isNaN)
  }

  test("snappy block roundtrip") {
    val bytes = encode(PromWriteRequest(
      Seq(PromTimeSeries(Seq(PromLabel("a", "b" * 500)), Seq(PromSample(1.0, 1L)))), Nil))
    val packed = compress(bytes)
    assert(packed.length < bytes.length) // repetitive input must compress
    assert(uncompress(packed).toSeq == bytes.toSeq)
  }

  test("buildRequest sorts labels (incl __name__), series, samples; dedups metadata") {
    // rows deliberately out of order
    val rows = Seq(
      ("m2", Map("z" -> "1", "a" -> "2"), 5.0, 200L, 2L, "gauge"),
      ("m1", Map.empty[String, String], 1.0, 100L, 1L, "counter"),
      ("m2", Map("z" -> "1", "a" -> "2"), 4.0, 100L, 3L, "gauge"),
      ("m1", Map.empty[String, String], 2.0, 100L, 0L, "counter"))
    val req = buildRequest(rows)
    assert(req.timeseries.map(_.labels) == Seq(
      Seq(PromLabel("__name__", "m1")),
      Seq(PromLabel("__name__", "m2"), PromLabel("a", "2"), PromLabel("z", "1"))))
    // samples ordered by (tsMs, seq): m1 gets (100,0) then (100,1)
    assert(req.timeseries(0).samples == Seq(PromSample(2.0, 100L), PromSample(1.0, 100L)))
    assert(req.timeseries(1).samples == Seq(PromSample(4.0, 100L), PromSample(5.0, 200L)))
    assert(req.metadata == Seq(PromMetadata(1, "m1"), PromMetadata(2, "m2")))
    // determinism: shuffled input -> identical bytes
    assert(encode(buildRequest(rows.reverse)).toSeq == encode(req).toSeq)
  }

  test("encodeBatches produces decodable requests with matching census") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (0 until 97).map(i =>
      (s"t${i % 2}", i.toLong, i.toLong, "m", Map("u" -> s"${i % 10}"),
        i.toDouble, 1000L + i, "gauge"))
      .toDF("tenant", "ts", "seq", "name", "tags", "value", "ts_ms", "kind")
    val enc = RemoteWrite.encodeBatches(df, maxEvents = 20)
    val rows = enc
      .withColumn("c", RemoteWrite.decodedCensus(col("request")))
      .select($"tenant", $"batch_id", $"n_series", $"n_samples",
        $"c._1".as("ds"), $"c._2".as("dn"))
      .as[(String, Long, Int, Int, Int, Int)].collect()
    assert(rows.length == 6) // 49 and 48 rows -> 3 batches each at 20
    rows.foreach { r =>
      assert(r._3 == r._5 && r._4 == r._6, s"census mismatch $r")
      assert(r._4 <= 20)
    }
    assert(rows.map(_._4).sum == 97)
  }
}
