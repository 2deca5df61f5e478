package graft

import graft.ref.RefRollup
import graft.streaming.StreamRollup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming rollup vs the single-node oracle: a MemoryStream drives the
  * event-time windowed aggregation in micro-batches; results must equal the
  * batch/oracle rollup of the same points (SURVEY.md §2.8: event-time windows
  * replace the reference's processing-time flush deterministically).
  */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  test("streaming rollup over micro-batches equals the oracle rollup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pts: Seq[(String, Long, Long, Double)] =
      (0 until 500).map(i => (s"s${i % 3}", 1000L + i * 7, i.toLong, (i % 11).toDouble))
    val stream = MemoryStream[(String, Long, Long, Double)]
    val obs = stream.toDF().toDF("series", "ts", "seq", "value")
    val rolled = StreamRollup.rollupStream(obs, 60L, watermark = "0 seconds")
    val q = rolled.writeStream
      .format("memory").queryName("rollup_out")
      .outputMode("complete") // complete mode: all windows visible at the end
      .start()
    // three micro-batches in event-time order
    pts.grouped(200).foreach { batch => stream.addData(batch); q.processAllAvailable() }
    q.stop()

    val got = spark.table("rollup_out")
      .select("series", "bucket", "sum_v", "cnt", "min_v", "max_v", "last_v", "last_ts", "last_seq")
      .as[(String, Long, Double, Long, Double, Double, Double, Long, Long)]
      .collect()
      .map(r => (r._1, r._2) -> r)
      .toMap
    val expected = RefRollup.rollup(pts, 60L)
    assert(got.size == expected.size)
    expected.foreach { p =>
      val g = got((p.series, p.bucket))
      assert(g._3 == p.sum && g._4 == p.cnt && g._5 == p.min && g._6 == p.max &&
        g._7 == p.last && g._8 == p.lastTs && g._9 == p.lastSeq, s"cell ${p.series}/${p.bucket}")
    }
  }

  test("streaming dedup keeps first occurrence per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Long, Double)]
    val df = stream.toDF().toDF("k", "ts", "v")
      .withColumn("ts_ts", org.apache.spark.sql.functions.timestamp_seconds(
        org.apache.spark.sql.functions.col("ts")))
    // watermark wide enough that both batches fall inside it: state is
    // bounded by the watermark (dropDuplicatesWithinWatermark) but nothing
    // is evicted within the test window
    val deduped = StreamRollup.dedupStream(df, Seq("k"), "ts_ts", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    stream.addData(Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 3L, 3.0)))
    stream.addData(Seq(("a", 4L, 4.0), ("c", 5L, 5.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out").select("k", "v").as[(String, Double)].collect().toSet
    assert(got == Set(("a", 1.0), ("b", 3.0), ("c", 5.0)))
  }

  test("streaming sink to lake: windows land exactly once, resumable via checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val base = tempDir("stream_lake")
    val ckpt = tempDir("stream_ckpt")
    val lake = new graft.lake.LakeTable(spark, base, "stream_1m", "pk")
    val stream = MemoryStream[(String, Long, Long, Double)]
    val obs = stream.toDF().toDF("series", "ts", "seq", "value")
    // watermark 0s: a window closes as soon as a later-window event arrives
    val rolled = StreamRollup.rollupStream(obs, 60L, watermark = "0 seconds")
    // pk must be unique per emitted window: a window appended into an
    // already-committed partition would be skipped (exactly-once = partition
    // granularity), so the partition key is the window bucket itself
    val pk = concat(col("series"), lit("-"), col("bucket"))
    val q = StreamRollup.sinkToLake(rolled, lake, pk, ckpt)
    stream.addData(Seq(("a", 10L, 1L, 1.0), ("a", 20L, 2L, 2.0)))   // window 0
    q.processAllAvailable()
    stream.addData(Seq(("a", 70L, 3L, 3.0)))                        // window 60 opens, closes window 0
    q.processAllAvailable()
    stream.addData(Seq(("a", 130L, 4L, 4.0)))                       // advances wm past 120
    q.processAllAvailable()
    stream.addData(Seq(("a", 200L, 5L, 5.0)))                       // flush batch: emits window 60
    q.processAllAvailable()
    q.stop()
    val rows = lake.read().select("series", "bucket", "sum_v", "cnt")
      .as[(String, Long, Double, Long)].collect().sortBy(_._2).toSeq
    assert(rows == Seq(("a", 0L, 3.0, 2L), ("a", 60L, 3.0, 1L), ("a", 120L, 4.0, 1L)))
    // restart from the same checkpoint: no duplicate emission of old windows
    val stream2 = MemoryStream[(String, Long, Long, Double)]
    val q2 = StreamRollup.sinkToLake(
      StreamRollup.rollupStream(stream2.toDF().toDF("series", "ts", "seq", "value"),
        60L, watermark = "0 seconds"), lake, pk, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert(lake.read().count() == 3)
  }

  test("streaming GCRA throttle carries per-key TAT state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Long, Long)]
    val events = stream.toDF().toDF("key", "t", "seq")
    // threshold 2 per 5 s: batch 1 spends the burst, batch 2's early event
    // must still be denied from the carried state, the later one admitted
    val out = StreamRollup.throttleGcraStream(events, threshold = 2,
      windowMicros = 5000000L)
    val q = out.writeStream.format("memory").queryName("gcra_out")
      .outputMode("append").start()
    stream.addData(Seq(("k", 0L, 1L), ("k", 1000000L, 2L), ("k", 2000000L, 3L)))
    q.processAllAvailable()
    // e4 lands before the carried tat refills a slot (denied from state),
    // e5 after (admitted); "j" has its own limiter, independent state
    stream.addData(Seq(("k", 2400000L, 4L), ("k", 5000000L, 5L), ("j", 2400000L, 6L)))
    q.processAllAvailable()
    q.stop()
    val admitted = spark.table("gcra_out").select("seq").as[Long].collect().sorted.toSeq
    // batch replay of the same 6 events must agree exactly (state carry works)
    val batchDf = Seq(("k", 0L, 1L), ("k", 1000000L, 2L), ("k", 2000000L, 3L),
      ("k", 2400000L, 4L), ("k", 5000000L, 5L), ("j", 2400000L, 6L)).toDF("key", "t", "seq")
    import org.apache.spark.sql.functions.col
    val batchAdmitted = graft.ops.Throttle.gcraAdmit(batchDf, Seq("key"),
      col("t"), col("seq"), 2, 5000000L)
      .filter(col("admitted")).select("seq").as[Long].collect().sorted.toSeq
    assert(admitted == batchAdmitted)
    assert(admitted == Seq(1L, 2L, 5L, 6L)) // 3,4 denied: burst spent, not yet refilled
  }

  test("streaming packing carries partial sequences across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val budget = 10
    def doc(g: String, ord: Long, n: Int): (String, Long, Seq[String]) =
      (g, ord, (0 until n).map(j => s"${g}_${ord}_$j"))
    val batches = Seq(
      Seq(doc("a", 1, 7), doc("a", 2, 6), doc("b", 1, 4)),  // a: 13 → one seq + carry 3
      Seq(doc("b", 2, 9), doc("a", 3, 17)),                 // a: 3+17 → two seqs; b: 13 → one + carry 3
      Seq(doc("b", 3, 6))                                   // b: 3+6=9 < 10 → nothing emitted
    )
    val stream = MemoryStream[(String, Long, Seq[String])]
    val packed = StreamRollup.packStream(
      stream.toDF().toDF("group", "ord", "toks"), budget)
    val q = packed.writeStream
      .format("memory").queryName("pack_out")
      .outputMode("append")
      .start()
    batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()

    val got = spark.table("pack_out")
      .collect()
      .map(r => (r.getAs[String]("group"), r.getAs[Long]("seq_id"),
        r.getSeq[String](r.fieldIndex("tokens"))))
      .sortBy(t => (t._1, t._2))

    // oracle: per group, concatenate tokens in (batch, ord) arrival order and
    // cut at budget; completed sequences only (the tail stays in state)
    val streams = batches.flatten.groupBy(_._1)
      .map { case (g, ds) => g -> ds.sortBy(_._2).flatMap(_._3) }
    val want = streams.toSeq.flatMap { case (g, ts) =>
      ts.grouped(budget).zipWithIndex
        .filter(_._1.length == budget)
        .map { case (chunk, i) => (g, i.toLong, chunk) }
    }.sortBy(t => (t._1, t._2))

    assert(got.map(t => (t._1, t._2, t._3.toList)).toSeq ==
      want.map(t => (t._1, t._2, t._3.toList)))
    // every emitted sequence is exactly budget tokens
    assert(got.forall(_._3.length == budget))
  }

  test("streaming metricalize replay: kind flips within one window match the batch replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.Metricalize
    implicit val sqlCtx = spark.sqlContext
    // two specs on the SAME metric name with different kinds: every event
    // emits both sub-events, so the packed ord flips the series kind on
    // every step — the worst case for the arrival-order reset
    val specs = Seq(
      Metricalize.MetricSpec("toks", "counter", "col:value",
        tagPaths = Map("src" -> "col:source")),
      Metricalize.MetricSpec("toks", "gauge", "col:value",
        tagPaths = Map("src" -> "col:source")))
    // 24 events over 2 sources inside bucket [0, 60); ord-monotone batches
    val evs: Seq[(String, Long, Long, Double)] =
      (0 until 24).map(i => (s"s${i % 2}", (i * 2 + 1).toLong, i.toLong, (i % 7 + 1).toDouble))
    def toDf(rows: Seq[(String, Long, Long, Double)]) =
      rows.toDF("source", "ts_s", "seq", "value")
        .withColumn("ts", timestamp_seconds(col("ts_s")))

    val stream = MemoryStream[(String, Long, Long, Double)]
    val sdf = stream.toDF().toDF("source", "ts_s", "seq", "value")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
    val out = Metricalize.metricalizeStreamReplay(sdf, "props", specs,
      "ts", 60L, col("seq"), watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("mzreplay_out")
      .outputMode("append").start()
    // two ord-monotone micro-batches inside the window, then watermark
    // sentinels in later windows so the event-time timeout closes bucket 0
    stream.addData(evs.take(12)); q.processAllAvailable()
    stream.addData(evs.drop(12)); q.processAllAvailable()
    stream.addData(Seq(("s0", 3600L, 1000L, 1.0))); q.processAllAvailable()
    stream.addData(Seq(("s0", 7200L, 1001L, 1.0))); q.processAllAvailable()
    q.stop()

    def canon(df: org.apache.spark.sql.DataFrame): Map[String, (String, String, Double, Long, Seq[Long], Long)] =
      df.collect().map { r =>
        val tags = r.getAs[Map[String, String]]("tags")
        tags("src") -> ((r.getAs[String]("name"), r.getAs[String]("kind"),
          r.getAs[Double]("m_sum"), r.getAs[Long]("m_count"),
          r.getSeq[Long](r.fieldIndex("m_buckets")).toList,
          r.getAs[Long]("mismatches")))
      }.toMap

    val got = canon(spark.table("mzreplay_out")
      .filter(col("bucket") === 0L)
      .select("name", "tags", "kind", "m_sum", "m_count", "m_buckets", "mismatches"))
    val want = canon(graft.functions.Metricalize.metricalize(
        toDf(evs), "props", specs, col("seq"))
      .select("name", "tags", "kind", "m_sum", "m_count", "m_buckets", "mismatches"))
    assert(got.size == 2, s"expected 2 series in bucket 0, got $got")
    assert(got == want,
      s"stream replay must match the batch kind-replay:\n got=$got\nwant=$want")
    // every event flips the kind (counter,gauge,counter,...): 24 sub-events
    // per series → 23 transitions
    assert(got.values.forall(_._6 == 23L))
  }
}
