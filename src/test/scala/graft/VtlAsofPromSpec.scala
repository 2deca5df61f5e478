package graft

import graft.functions.Vtl
import graft.sources.PromText
import graft.tiers.AsOfJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VtlAsofPromSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("VTL case styles (camel/pascal/snake/kebab)") {
    val df = Seq("hello world", "FooBar-baz", "already_snake").toDF("s")
    val got = df.select(
      Vtl.camelcase($"s"), Vtl.pascalcase($"s"), Vtl.snakecase($"s"), Vtl.kebabcase($"s"))
      .as[(String, String, String, String)].collect()
    assert(got(0) == ("helloWorld", "HelloWorld", "hello_world", "hello-world"))
    assert(got(1) == ("fooBarBaz", "FooBarBaz", "foo_bar_baz", "foo-bar-baz"))
    assert(got(2) == ("alreadySnake", "AlreadySnake", "already_snake", "already-snake"))
  }

  test("VTL truncate/redact") {
    val df = Seq("secret=hunter2 rest").toDF("s")
    val got = df.select(
      Vtl.truncateStr($"s", 6), Vtl.truncateStr($"s", 6, ellipsis = true),
      Vtl.redact($"s", "secret=\\S+")).as[(String, String, String)].head()
    assert(got == ("secret", "secret...", "[REDACTED] rest"))
  }

  test("VTL parse_bytes (decimal and binary units)") {
    val df = Seq("1024", "1KiB", "1.5MiB", "2MB", "1GiB", "garbage").toDF("s")
    val got = df.select(Vtl.parseBytes($"s")).as[Option[Long]].collect().toSeq
    assert(got == Seq(Some(1024L), Some(1024L), Some((1.5 * (1 << 20)).toLong),
      Some(2000000L), Some(1L << 30), None))
  }

  test("VTL parse_duration") {
    val df = Seq("1h30m", "15s", "100ms", "2d", "nope").toDF("s")
    val got = df.select(Vtl.parseDurationSecs($"s")).as[Option[Double]].collect().toSeq
    assert(got == Seq(Some(5400.0), Some(15.0), Some(0.1), Some(172800.0), None))
  }

  test("VTL cidr_contains / is_ipv4") {
    val df = Seq(("10.0.0.0/8", "10.1.2.3"), ("10.0.0.0/8", "11.1.2.3"),
      ("192.168.1.0/24", "192.168.1.200")).toDF("cidr", "ip")
    val got = df.select(Vtl.cidrContains($"cidr", $"ip")).as[Boolean].collect().toSeq
    assert(got == Seq(true, false, true))
    val ips = Seq("1.2.3.4", "256.1.1.1", "abc").toDF("s")
    assert(ips.select(Vtl.isIpv4($"s")).as[Boolean].collect().toSeq == Seq(true, false, false))
  }

  test("VTL hashMod matches the reference md5[8..16]-as-u64 semantics") {
    // JVM oracle of relabel.rs HashMod: md5 bytes [8..16) as big-endian
    // unsigned u64, mod m (Rust: u64::from_be_bytes(md5[8..]) % modules)
    def refHashMod(s: String, m: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      val u = java.math.BigInteger.valueOf(0)
        .add(new java.math.BigInteger(1, d.slice(8, 16)))
      u.mod(java.math.BigInteger.valueOf(m)).longValueExact()
    }
    val inputs = Seq("a", "b", "c", "a", "hello", "node-exporter", "9987",
      "über", "x" * 300)
    // m=7 (non-power-of-two) exposes the old low-32-bit bug; m=16 covers pow2
    for (m <- Seq(7, 16, 1000)) {
      val got = inputs.toDF("s").select(Vtl.hashMod($"s", m)).as[Long].collect().toSeq
      assert(got == inputs.map(refHashMod(_, m)), s"m=$m")
    }
  }

  test("VTL is_ipv6 accepts real addresses and rejects junk") {
    val good = Seq("::1", "2001:db8::1", "fe80::1ff:fe23:4567:890a",
      "2001:0db8:85a3:0000:0000:8a2e:0370:7334", "::", "::ffff:192.168.1.1",
      "64:ff9b::192.0.2.33")
    val bad = Seq(":::::", "2001:::1", "12345::1", "1:2:3:4:5:6:7:8:9",
      "1:2:3:4:5:6:7", "g::1", "1.2.3.4", "", "::ffff:256.1.1.1", ":")
    val got = (good ++ bad).toDF("s").select(Vtl.isIpv6($"s")).as[Boolean].collect().toSeq
    assert(got == (good.map(_ => true) ++ bad.map(_ => false)),
      (good ++ bad).zip(got).filter { case (s, v) =>
        v != good.contains(s)
      }.mkString(", "))
  }

  test("as-of join matches a hand-computed oracle incl. no-match nulls") {
    val left = Seq(("k", 5L, "e1"), ("k", 10L, "e2"), ("k", 20L, "e3"), ("j", 7L, "e4"))
      .toDF("key", "ts", "tag")
    val right = Seq(("k", 4L, 1.0), ("k", 10L, 2.0), ("k", 15L, 3.0), ("x", 1L, 9.0))
      .toDF("key", "ts", "v")
    val got = AsOfJoin.asof(left, right, Seq("key"), "ts", "ts", Seq("v"))
      .select("tag", "v").as[(String, Option[Double])].collect().toMap
    // e1@5 -> 1.0 (ts4); e2@10 -> 2.0 (<= includes equal ts); e3@20 -> 3.0; e4 (key j) -> null
    assert(got == Map("e1" -> Some(1.0), "e2" -> Some(2.0), "e3" -> Some(3.0), "e4" -> None))
  }

  test("as-of join rejects probe/value column collisions") {
    val left = Seq(("k", 5L, 1.0)).toDF("key", "ts", "v")
    val right = Seq(("k", 4L, 2.0)).toDF("key", "ts", "v")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asof(left, right, Seq("key"), "ts", "ts", Seq("v"))
    }
    assert(e.getMessage.contains("collide"))
  }

  test("as-of join: build rows tied on ts resolve deterministically by seq") {
    val left = Seq(("k", 10L)).toDF("key", "ts")
    // two build rows at ts=10; seq convention says the larger seq wins
    val right = Seq(("k", 10L, 1L, 111.0), ("k", 10L, 2L, 222.0))
      .toDF("key", "ts", "seq", "v")
    for (_ <- 1 to 3) {
      val got = AsOfJoin.asof(left, right.repartition(7), Seq("key"), "ts", "ts",
        Seq("v"), rightSeq = Some("seq")).select("v").as[Double].head()
      assert(got == 222.0)
    }
  }

  test("as-of join chunked path matches brute force across chunk boundaries") {
    val rnd = new scala.util.Random(7)
    val keys = Seq("a", "b", "c")
    val probe = (1 to 400).map(i => (keys(rnd.nextInt(3)), rnd.nextInt(1000).toLong, i.toLong))
    val build = (1 to 120).map(i => (keys(rnd.nextInt(3)), rnd.nextInt(1000).toLong,
      i.toLong, rnd.nextDouble()))
    val pdf = probe.toDF("key", "ts", "pid")
    val bdf = build.toDF("key", "ts", "seq", "v")
    // brute-force oracle: latest build (ts', seq) with ts' <= ts per key
    val expected = probe.map { case (k, t, pid) =>
      val cands = build.filter(b => b._1 == k && b._2 <= t)
      pid -> (if (cands.isEmpty) None
              else Some(cands.maxBy(b => (b._2, b._3))._4))
    }.toMap
    for (chunks <- Seq(1, 7, 50)) {
      val got = AsOfJoin.asof(pdf, bdf, Seq("key"), "ts", "ts", Seq("v"),
        numChunks = chunks, rightSeq = Some("seq"))
        .select("pid", "v").as[(Long, Option[Double])].collect().toMap
      assert(got.size == 400 && probe.forall { case (_, _, pid) => got(pid) == expected(pid) },
        s"numChunks=$chunks")
    }
    // caller-supplied ts bounds (skipping the min/max reduce) change nothing,
    // even when the window under-covers the data (out-of-range rows clamp
    // into the edge chunks)
    val bounded = AsOfJoin.asof(pdf, bdf, Seq("key"), "ts", "ts", Seq("v"),
      numChunks = 13, rightSeq = Some("seq"), tsBounds = Some((100L, 800L)))
      .select("pid", "v").as[(Long, Option[Double])].collect().toMap
    assert(bounded.size == 400 &&
      probe.forall { case (_, _, pid) => bounded(pid) == expected(pid) },
      "tsBounds variant diverged")
    // broadcast plan (small snapshot-shaped build side): identical semantics,
    // zero probe shuffle
    val bcast = AsOfJoin.asofBroadcast(pdf, bdf, Seq("key"), "ts", "ts", Seq("v"),
      rightSeq = Some("seq"))
      .select("pid", "v").as[(Long, Option[Double])].collect().toMap
    assert(bcast.size == 400 &&
      probe.forall { case (_, _, pid) => bcast(pid) == expected(pid) },
      "broadcast variant diverged from brute force")
    // auto dispatch: under the row limit it must take the broadcast path —
    // the physical plan has no Exchange (no shuffle of the probe at all)
    val auto = AsOfJoin.asofAuto(pdf, bdf, Seq("key"), "ts", "ts", Seq("v"),
      rightSeq = Some("seq"))
    val plan = auto.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"auto plan should be shuffle-free:\n$plan")
    val autoGot = auto.select("pid", "v").as[(Long, Option[Double])].collect().toMap
    assert(probe.forall { case (_, _, pid) => autoGot(pid) == expected(pid) })
  }

  test("broadcast as-of: ties by seq, missing keys, multi-value, string values") {
    val left = Seq(("k", 10L, 1L), ("k", 9L, 2L), ("j", 5L, 3L), ("m", 7L, 4L))
      .toDF("key", "ts", "pid")
    val right = Seq(("k", 10L, 1L, 111.0, "a"), ("k", 10L, 2L, 222.0, "b"),
      ("m", 8L, 3L, 9.0, "c"))
      .toDF("key", "ts", "seq", "v", "s")
    val got = AsOfJoin.asofBroadcast(left, right, Seq("key"), "ts", "ts",
      Seq("v", "s"), rightSeq = Some("seq"))
      .select("pid", "v", "s").as[(Long, Option[Double], Option[String])]
      .collect().map { case (k, v, s) => k -> ((v, s)) }.toMap
    assert(got(1L) == ((Some(222.0), Some("b")))) // tie at ts=10: larger seq wins
    assert(got(2L) == ((None, None))) // before any build row
    assert(got(3L) == ((None, None))) // key with no build rows
    assert(got(4L) == ((None, None))) // only build row (ts=8) is later than probe (ts=7)
  }

  test("broadcast as-of: null probe ts yields null values (parity with chunked)") {
    val left = Seq((1L, "k", Some(10L)), (2L, "k", None))
      .toDF("pid", "key", "ts")
    val right = Seq(("k", 4L, 7.5)).toDF("key", "ts", "v")
    for (df <- Seq(
      AsOfJoin.asofBroadcast(left, right, Seq("key"), "ts", "ts", Seq("v")),
      AsOfJoin.asof(left, right, Seq("key"), "ts", "ts", Seq("v")))) {
      val got = df.select("pid", "v").as[(Long, Option[Double])].collect().toMap
      assert(got == Map(1L -> Some(7.5), 2L -> None))
    }
  }

  test("prometheus text parse: samples, labels, specials, comments") {
    val lines = Seq(
      "# HELP http_requests_total comment",
      "# TYPE http_requests_total counter",
      """http_requests_total{method="get",code="200"} 1027 1395066363000""",
      "cpu_seconds 12.5",
      """temp{city="x"} NaN""",
      """up{} +Inf""",
      "malformed line {{{").toDF("line")
    val got = PromText.parse(spark, lines).collect()
    assert(got.length == 4)
    val first = got.find(_.getString(0) == "http_requests_total").get
    assert(first.getAs[Map[String, String]](1) == Map("method" -> "get", "code" -> "200"))
    assert(first.getDouble(2) == 1027.0)
    assert(first.getAs[Long](3) == 1395066363000L)
  }

  test("prometheus text parse: commas, escaped quotes, braces in label values") {
    // legal exposition format the round-1 split-on-comma parser mis-parsed
    val lines = Seq(
      """m{a="x,y",b="z"} 1""",
      """m{a="say \"hi\"",b="back\\slash"} 2""",
      """m{a="line\nbreak"} 3""",
      """m{a="closing } brace, yes"} 4""",
      """m{a="unterminated} 5""").toDF("line")
    val got = PromText.parse(spark, lines)
      .select("labels", "value").collect()
      .map(r => r.getAs[Map[String, String]](0) -> r.getDouble(1)).toMap
    assert(got == Map(
      Map("a" -> "x,y", "b" -> "z") -> 1.0,
      Map("a" -> "say \"hi\"", "b" -> "back\\slash") -> 2.0,
      Map("a" -> "line\nbreak") -> 3.0,
      Map("a" -> "closing } brace, yes") -> 4.0))
  }

  test("histogram regroup: buckets/sum/count assembled per series") {
    val lines = Seq(
      """lat_bucket{svc="a",le="0.1"} 3""",
      """lat_bucket{svc="a",le="0.5"} 5""",
      """lat_bucket{svc="a",le="+Inf"} 7""",
      """lat_sum{svc="a"} 1.7""",
      """lat_count{svc="a"} 7""").toDF("line")
    val parsed = PromText.parse(spark, lines)
    val row = PromText.regroupHistograms(parsed).collect()(0)
    assert(row.getAs[String]("family") == "lat")
    assert(row.getAs[Map[String, String]]("series_labels") == Map("svc" -> "a"))
    val buckets = row.getAs[collection.Seq[org.apache.spark.sql.Row]]("buckets")
      .map(b => (b.getDouble(0), b.getDouble(1))).toSeq
    assert(buckets == Seq((0.1, 3.0), (0.5, 5.0), (Double.PositiveInfinity, 7.0)))
    assert(row.getAs[Double]("h_sum") == 1.7 && row.getAs[Long]("h_count") == 7L)
  }
}
