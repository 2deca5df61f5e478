package graft

import graft.functions.Metricalize
import graft.functions.Metricalize.MetricSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Path-driven metricalize semantics vs hand-replays of the reference's
  * state machine (/root/reference/src/transforms/metricalize.rs:67-120 value
  * and tag extraction; :233-248 kind-mismatch reset + failure count).
  */
class MetricalizeSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val logs = Seq(
    (1L, "a", """{"bytes": 10, "code": "200"}"""),
    (2L, "a", """{"bytes": 32, "code": "200"}"""),
    (3L, "a", """{"bytes": 7, "code": "500"}"""),
    (4L, "b", """{"bytes": 100}"""), // no code tag: tag omitted
    (5L, "b", """{"other": 1}""") // no bytes value: dropped + failure
  ).toDF("id", "host", "props")

  test("counter sums extracted values; tags from mixed json/column paths") {
    val out = Metricalize.metricalize(logs, "props",
      Seq(MetricSpec("bytes_total", "counter", "$.bytes",
        tagPaths = Map("host" -> "col:host", "code" -> "$.code"))),
      col("id"))
      .select($"tags", $"m_sum", $"m_count", $"mismatches")
      .as[(Map[String, String], Double, Long, Long)].collect().toSet
    assert(out == Set(
      (Map("host" -> "a", "code" -> "200"), 42.0, 2L, 0L),
      (Map("host" -> "a", "code" -> "500"), 7.0, 1L, 0L),
      (Map("host" -> "b"), 100.0, 1L, 0L))) // missing tag path omitted
  }

  test("series keys use UTF8 binary key order, any tagPaths declaration order") {
    // supplementary-plane key ("😀" sorts differently in UTF-16 vs UTF-8
    // byte order vs U+E000..U+FFFF codepoints): the shared-skey aliases and
    // their lookup must agree on ONE order (a mismatch would be a plan-time
    // alias miss), and the declaration order of tagPaths must not matter
    val out1 = Metricalize.metricalize(logs, "props",
      Seq(MetricSpec("m", "counter", "$.bytes",
        tagPaths = Map("😀" -> "col:host", "k" -> "col:host"))),
      col("id"))
      .select($"tags", $"m_sum").as[(Map[String, String], Double)].collect().toSet
    val out2 = Metricalize.metricalize(logs, "props",
      Seq(MetricSpec("m", "counter", "$.bytes",
        tagPaths = Map("k" -> "col:host", "😀" -> "col:host"))),
      col("id"))
      .select($"tags", $"m_sum").as[(Map[String, String], Double)].collect().toSet
    assert(out1 == out2)
    assert(out1.forall(_._1.keySet == Set("😀", "k")))
  }

  test("counter with increment_by_value=false counts events") {
    val out = Metricalize.metricalize(logs, "props",
      Seq(MetricSpec("reqs", "counter", "$.bytes", incrementByValue = false)),
      col("id")).select($"m_sum", $"m_count").as[(Double, Long)].head()
    assert(out == ((4.0, 4L))) // row 5 has no bytes -> still dropped
  }

  test("gauge takes the last value in ord order; histogram builds the ladder") {
    val out = Metricalize.metricalize(logs, "props",
      Seq(
        MetricSpec("g", "gauge", "$.bytes"),
        MetricSpec("h", "histogram", "$.bytes", buckets = Seq(10.0, 50.0))),
      col("id"))
      .select($"name", $"m_sum", $"m_count", $"m_buckets")
      .as[(String, Double, Long, Seq[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("g") == ((100.0, 4L, Seq.empty)))
    // bytes 10,32,7,100: <=10 -> {10,7}=2; <=50 -> {10,32,7}=3
    assert(out("h") == ((149.0, 4L, Seq(2L, 3L))))
  }

  test("kind mismatch resets state and is counted (metricalize.rs:233-248)") {
    // same series written counter,counter,gauge,counter in ord order:
    // transitions c->g and g->c = 2 mismatches; final kind=counter, and the
    // surviving run is only the rows after the LAST transition
    val rows = Seq((1L, 5.0, "counter"), (2L, 6.0, "counter"),
      (3L, 7.0, "gauge"), (4L, 8.0, "counter"), (5L, 9.0, "counter"))
      .toDF("id", "v", "k")
    // encode kinds via two specs and a value path that exists only for that kind
    val df = rows
      .withColumn("props", when($"k" === "counter",
        format_string("""{"c": %s}""", $"v")).otherwise(format_string("""{"g": %s}""", $"v")))
    val out = Metricalize.metricalize(df, "props",
      Seq(MetricSpec("m", "counter", "$.c"), MetricSpec("m", "gauge", "$.g")),
      col("id"))
      .select($"kind", $"m_sum", $"m_count", $"mismatches")
      .as[(String, Double, Long, Long)].head()
    assert(out == (("counter", 17.0, 2L, 2L))) // 8+9 survive; 2 flips
  }

  test("streaming metricalize: event-time window flush matches hand-computed state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long, String)]
    val df = stream.toDF().toDF("ts", "seq", "props")
      .withColumn("ts_ts", timestamp_seconds(col("ts")))
    val out = Metricalize.metricalizeStream(df, "props",
      Seq(
        Metricalize.MetricSpec("b_total", "counter", "$.bytes"),
        Metricalize.MetricSpec("b_gauge", "gauge", "$.bytes")),
      "ts_ts", bucketSec = 60L, ordCol = col("seq"))
    val q = out.writeStream.format("memory").queryName("mz_out").outputMode("append").start()
    // window [0, 60): bytes 10, 30 (seq order 1, 2); window [60, 120): 5
    stream.addData(Seq((10L, 1L, """{"bytes": 10}"""), (20L, 2L, """{"bytes": 30}""")))
    stream.addData(Seq((70L, 3L, """{"bytes": 5}""")))
    // advance the watermark far enough to close both windows
    stream.addData(Seq((100000L, 4L, """{"bytes": 1}""")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("mz_out")
      .select($"bucket", $"name", $"m_sum", $"m_count")
      .as[(Long, String, Double, Long)].collect().toSet
    assert(got == Set(
      (0L, "b_total", 40.0, 2L), (0L, "b_gauge", 30.0, 2L),
      (60L, "b_total", 5.0, 1L), (60L, "b_gauge", 5.0, 1L)))
  }

  test("kind-replay is chunk-invariant and matches a sequential replay oracle") {
    // 60 rows, pseudo-random kind flips — replay the reference state machine
    // sequentially in Scala, then demand identical output at every chunking
    val rnd = new scala.util.Random(7)
    val rows = (1 to 60).map { i =>
      val kind = if (rnd.nextInt(3) == 0) "gauge" else "counter"
      (i.toLong, i.toDouble, kind)
    }
    val df = rows.toDF("id", "v", "k")
      .withColumn("props", when($"k" === "counter",
        format_string("""{"c": %s}""", $"v")).otherwise(format_string("""{"g": %s}""", $"v")))
    val specs = Seq(MetricSpec("m", "counter", "$.c"), MetricSpec("m", "gauge", "$.g"))
    // sequential oracle (metricalize.rs:233-248 reset semantics)
    var mm = 0L
    var prev: Option[String] = None
    var run = Seq.empty[Double]
    rows.foreach { case (_, v, k) =>
      if (prev.exists(_ != k)) { mm += 1; run = Seq.empty }
      prev = Some(k); run :+= v
    }
    val finalKind = rows.last._3
    val expSum = if (finalKind == "gauge") run.last else run.sum
    for (nc <- Seq(1, 3, 7, 64)) {
      val out = Metricalize.metricalize(df, "props", specs, col("id"), numChunks = nc)
        .select($"kind", $"m_sum", $"m_count", $"mismatches")
        .as[(String, Double, Long, Long)].head()
      assert(out == ((finalKind, expSum, run.size.toLong, mm)), s"numChunks=$nc: $out")
    }
  }

  test("randomized differential: 3 kinds × 2 series × missing values vs sequential replay") {
    // pins the round-4 single-pass formulation (trailing-run partials +
    // tiny-frame survivor cut) against a direct Scala replay of the
    // reference state machine, across seeds and chunk counts
    val buckets = Seq(10.0, 20.0, 30.0)
    val specs = Seq(
      MetricSpec("m", "counter", "$.c", tagPaths = Map("t" -> "col:typ")),
      MetricSpec("m", "gauge", "$.g", tagPaths = Map("t" -> "col:typ")),
      MetricSpec("m", "histogram", "$.h", tagPaths = Map("t" -> "col:typ"),
        buckets = buckets))
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val events = (1 to 80).map { i =>
        val typ = if (rnd.nextBoolean()) "a" else "b"
        val c = if (rnd.nextInt(10) < 6) Some(rnd.nextInt(40) + 1) else None
        val g = if (rnd.nextInt(10) < 6) Some(rnd.nextInt(40) + 1) else None
        val h = if (rnd.nextInt(10) < 6) Some(rnd.nextInt(40) + 1) else None
        val props = (c.map(v => s""""c": $v""") ++ g.map(v => s""""g": $v""") ++
          h.map(v => s""""h": $v""")).mkString("{", ", ", "}")
        (i.toLong, typ, props, c, g, h)
      }
      // sequential replay: per series, spec rows in (event, spec-position)
      // order; reset + count on kind change (metricalize.rs:233-248)
      case class St(kind: String, vs: Vector[Double], mm: Long, lastSpec: Int)
      val st = scala.collection.mutable.Map.empty[String, St]
      events.foreach { case (_, typ, _, c, g, h) =>
        Seq(("counter", c, 0), ("gauge", g, 1), ("histogram", h, 2)).foreach {
          case (kind, vOpt, sidx) =>
            vOpt.foreach { v =>
              val cur = st.getOrElse(typ, St(kind, Vector.empty, 0L, sidx))
              val next =
                if (cur.vs.nonEmpty && cur.kind != kind)
                  St(kind, Vector(v.toDouble), cur.mm + 1, sidx)
                else St(kind, cur.vs :+ v.toDouble, cur.mm, sidx)
              st(typ) = next
            }
        }
      }
      val expected = st.map { case (typ, s) =>
        val mSum = if (s.kind == "gauge") s.vs.last else s.vs.sum
        val hb =
          if (s.kind == "histogram") buckets.map(b => s.vs.count(_ <= b).toLong)
          else Seq.empty[Long]
        (typ, (s.kind, mSum, s.vs.size.toLong, hb, s.mm))
      }.toMap
      val df = events.map(e => (e._1, e._2, e._3)).toDF("id", "typ", "props")
      for (nc <- Seq(1, 2, 5, 64)) {
        val got = Metricalize.metricalize(df, "props", specs, col("id"), numChunks = nc)
          .select(element_at(col("tags"), "t").as("typ"), col("kind"), col("m_sum"),
            col("m_count"), col("m_buckets"), col("mismatches"))
          .as[(String, String, Double, Long, Seq[Long], Long)]
          .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5.toSeq, r._6))).toMap
        assert(got.keySet == expected.keySet, s"seed=$seed nc=$nc series mismatch")
        expected.foreach { case (typ, (k, sSum, cnt, hb, mm)) =>
          val (gk, gs, gc, ghb, gmm) = got(typ)
          assert(gk == k && math.abs(gs - sSum) < 1e-9 && gc == cnt &&
            ghb == hb && gmm == mm,
            s"seed=$seed nc=$nc typ=$typ: got ${got(typ)}, want ($k,$sSum,$cnt,$hb,$mm)")
        }
      }
    }
  }

  test("two histogram specs keep their own bucket ladders (no union-ladder leak)") {
    val df = Seq((1L, """{"x": 5, "y": 15}"""), (2L, """{"x": 40, "y": 25}"""))
      .toDF("id", "props")
    val out = Metricalize.metricalize(df, "props",
      Seq(
        MetricSpec("hx", "histogram", "$.x", buckets = Seq(10.0, 50.0)),
        MetricSpec("hy", "histogram", "$.y", buckets = Seq(20.0))),
      col("id"))
      .select($"name", $"m_buckets").as[(String, Seq[Long])].collect().toMap
    assert(out("hx") == Seq(1L, 2L), s"hx: ${out("hx")}") // x=5,40: <=10 -> 1, <=50 -> 2
    assert(out("hy") == Seq(1L), s"hy: ${out("hy")}") // y=15,25: <=20 -> 1; NOT 3 rungs
  }

  test("ord outside the packed range raises instead of overflowing silently") {
    val df = Seq((Long.MaxValue / 2 + 1, """{"v": 1}""")).toDF("id", "props")
    // the guard fires on the first action over the packed ord — which is the
    // chunk-stats reduce inside metricalize itself
    assertThrows[Exception] {
      Metricalize.metricalize(df, "props",
        Seq(MetricSpec("a", "counter", "$.v"), MetricSpec("b", "gauge", "$.v")),
        col("id")).collect()
    }
  }

  test("extraction failures are counted per spec") {
    val out = Metricalize.extractionFailures(logs, "props",
      Seq(MetricSpec("bytes_total", "counter", "$.bytes"),
        MetricSpec("codes", "counter", "$.code")))
      .as[(String, Long)].collect().toMap
    assert(out == Map("bytes_total" -> 1L, "codes" -> 2L)) // row5 no bytes; rows 4+5 no code
  }
}
