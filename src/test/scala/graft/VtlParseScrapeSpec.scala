package graft

import graft.functions.Vtl
import graft.sources.Scrape
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** VTL parse_* long tail + scrape/pushgateway label semantics. Pushgateway
  * path cases mirror the reference's own tests
  * (/root/reference/src/sources/prometheus_pushgateway.rs:195-282).
  */
class VtlParseScrapeSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("parse_query: decode, duplicates as ordered arrays, leading ?") {
    val got = Seq("?a=1&b=hello+world&a=2&c=%C3%BCber&flag", "", null)
      .toDF("q").select(Vtl.parseQuery($"q"))
      .as[Option[Map[String, Seq[String]]]].collect().toSeq
    assert(got(0).get == Map(
      "a" -> Seq("1", "2"), "b" -> Seq("hello world"),
      "c" -> Seq("über"), "flag" -> Seq("")))
    assert(got(1).get == Map.empty[String, Seq[String]])
    assert(got(2).isEmpty)
  }

  test("parse_url: component map; invalid url -> null") {
    val got = Seq(
      "https://user:pw@example.com:8443/a/b?x=1&y=2#frag",
      "ftp://host/file.txt",
      "not a url")
      .toDF("u").select(Vtl.parseUrl($"u"))
      .as[Option[Map[String, String]]].collect().toSeq
    assert(got(0).get == Map(
      "scheme" -> "https", "username" -> "user", "password" -> "pw",
      "host" -> "example.com", "port" -> "8443", "path" -> "/a/b",
      "query" -> "x=1&y=2", "fragment" -> "frag"))
    assert(got(1).get("host") == "host" && got(1).get("path") == "/file.txt" &&
      !got(1).get.contains("port"))
    assert(got(2).isEmpty)
  }

  test("parse_regex: named groups to map; no match -> null") {
    val re = "(?<ip>[0-9.]+) - (?<user>\\w+)"
    val got = Seq("10.0.0.1 - alice extra", "garbage").toDF("s")
      .select(Vtl.parseRegex($"s", re))
      .as[Option[Map[String, String]]].collect().toSeq
    assert(got(0).get == Map("ip" -> "10.0.0.1", "user" -> "alice"))
    assert(got(1).isEmpty)
  }

  test("parse_user_agent: woothee-subset ruleset — families, versions, os(+version), category") {
    // expectations follow the public woothee dataset's classification
    // (names, Windows marketing versions, smartphone/crawler/misc categories)
    val cases = Seq(
      ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
        ("Chrome", "120.0.0.0", "Windows 10", "NT 10.0", "pc")),
      ("Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/45.0.2454.85 Safari/537.36 OPR/32.0.1948.25",
        ("Opera", "32.0.1948.25", "Windows 7", "NT 6.1", "pc")),
      ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
        ("Edge", "120.0.2210.91", "Windows 10", "NT 10.0", "pc")),
      ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
        ("Safari", "17.1", "Mac OSX", "10.15.7", "pc")),
      ("Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0",
        ("Firefox", "115.0", "Linux", "", "pc")),
      ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Mobile/15E148 Safari/604.1",
        ("Safari", "17.0", "iOS", "17.0", "smartphone")),
      ("Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.43 Mobile Safari/537.36",
        ("Chrome", "120.0.6099.43", "Android", "14", "smartphone")),
      ("Mozilla/5.0 (Windows NT 6.1; Trident/7.0; rv:11.0) like Gecko",
        ("Internet Explorer", "11.0", "Windows 7", "NT 6.1", "pc")),
      ("Opera/9.80 (Windows NT 6.1) Presto/2.12.388 Version/12.16",
        ("Opera", "12.16", "Windows 7", "NT 6.1", "pc")),
      ("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
        ("Googlebot", "2.1", "unknown", "", "crawler")),
      ("Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
        ("bingbot", "2.0", "unknown", "", "crawler")),
      ("curl/8.4.0", ("curl", "8.4.0", "unknown", "", "misc")),
      ("python-requests/2.31.0", ("python-requests", "2.31.0", "unknown", "", "misc")),
      ("weird agent string", ("unknown", "", "unknown", "", "unknown")))
    val got = cases.map(_._1).toDF("ua").select(Vtl.parseUserAgent($"ua"))
      .as[Map[String, String]].collect().toSeq
    cases.zip(got).foreach { case ((ua, (bf, bv, os, osv, dev)), m) =>
      assert(m("browser.family") == bf && m("browser.version") == bv &&
        m("os.family") == os && m("os.version") == osv &&
        m("device.category") == dev, s"ua: $ua got $m")
    }
  }

  test("pushgateway grouping path: reference test matrix") {
    import Scrape.parseGroupingPath
    assert(parseGroupingPath("/metrics/job/foo/instance/bar") ==
      Some(Map("job" -> "foo", "instance" -> "bar")))
    assert(parseGroupingPath("/metrics/job/foo/instance").isEmpty) // odd segments
    assert(parseGroupingPath("/metrics/job/foo/instance@base64/YmFyL2Jheg==") ==
      Some(Map("job" -> "foo", "instance" -> "bar/baz")))
    assert(parseGroupingPath("/metrics/job/foo/instance@base64/YmFyL2Jheg") ==
      Some(Map("job" -> "foo", "instance" -> "bar/baz"))) // permissive padding
    assert(parseGroupingPath("/metrics/job@base64/=").isEmpty) // empty job
    assert(parseGroupingPath("/").isEmpty) // must begin with /metrics/job
    // duplicate label: last value wins in the grouping map
    assert(parseGroupingPath("/metrics/job/foo/instance/bar/instance/baz") ==
      Some(Map("job" -> "foo", "instance" -> "baz")))
    // empty string via padding-only value on a non-job key
    assert(parseGroupingPath("/metrics/job/foo/env@base64/=") ==
      Some(Map("job" -> "foo", "env" -> "")))
  }

  test("grouping labels override sample labels; honor_labels instance rule") {
    val df = Seq(1).toDF("x").select(
      map(lit("instance"), lit("scraped"), lit("app"), lit("web")).as("tags"),
      map(lit("job"), lit("foo"), lit("app"), lit("push")).as("g"))
    val merged = df.select(Scrape.applyGroupingLabels($"tags", $"g"))
      .as[Map[String, String]].head()
    assert(merged == Map("instance" -> "scraped", "app" -> "push", "job" -> "foo"))

    val honored = df.select(
      Scrape.instanceOverride($"tags", lit("cfg:9090"), honorLabels = true))
      .as[Map[String, String]].head()
    assert(honored("instance") == "scraped")
    val overridden = df.select(
      Scrape.instanceOverride($"tags", lit("cfg:9090"), honorLabels = false))
      .as[Map[String, String]].head()
    assert(overridden("instance") == "cfg:9090")
    // honor_labels=true with no scraped instance -> configured applies
    val noInst = Seq(1).toDF("x").select(map(lit("app"), lit("web")).as("tags"))
      .select(Scrape.instanceOverride($"tags", lit("cfg:9090"), honorLabels = true))
      .as[Map[String, String]].head()
    assert(noInst("instance") == "cfg:9090")
  }
}
