package graft

import graft.compress.GorillaCodec
import graft.model.Schemas
import graft.ref.{RefRollup, RollupPoint}
import graft.sources.TokenFixture
import graft.tiers.{TierCascade, TierRollup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark rollup vs the single-node oracle (bit-for-bit; token-count values are
  * integral so f64 sums are order-insensitive — SURVEY.md §7.5.1).
  */
class RollupSpec extends AnyFunSuite with SparkSuite {

  private def obsDf(n: Long, skewed: Boolean = false): DataFrame =
    TokenFixture.deriveObs(TokenFixture.tokenTable(spark, n, skewed = skewed, withTokens = false))
      .select("series", "ts", "seq", "value")

  private def collectTier(df: DataFrame): Map[(String, Long), RollupPoint] =
    df.collect().map { r =>
      val p = RollupPoint(r.getAs[String]("series"), r.getAs[Long]("bucket"),
        r.getAs[Double]("sum_v"), r.getAs[Long]("cnt"), r.getAs[Double]("min_v"),
        r.getAs[Double]("max_v"), r.getAs[Double]("last_v"), r.getAs[Long]("last_ts"),
        r.getAs[Long]("last_seq"))
      (p.series, p.bucket) -> p
    }.toMap

  private def collectHist(df: DataFrame): Map[(String, Long), (Long, Double, List[Long])] =
    df.collect().map { r =>
      (r.getAs[String]("series"), r.getAs[Long]("bucket")) ->
        ((r.getAs[Long]("h_count"), r.getAs[Double]("h_sum"),
          r.getAs[Seq[Long]]("h_buckets").toList))
    }.toMap

  private def oracleObs(n: Long): Seq[(String, Long, Long, Double)] = oracleObs(obsDf(n))

  private def oracleObs(obs: DataFrame): Seq[(String, Long, Long, Double)] = {
    val rows = obs.collect()
    rows.map(r => (r.getAs[String]("series"), r.getAs[Long]("ts"),
      r.getAs[Long]("seq"), r.getAs[Double]("value"))).toSeq
  }

  test("1m rollup matches oracle bit-for-bit (10k rows)") {
    val pts = oracleObs(10000)
    val expected = RefRollup.rollup(pts, 60L).map(p => (p.series, p.bucket) -> p).toMap
    val got = collectTier(TierRollup.fromObs(obsDf(10000), 60L))
    assert(got.size == expected.size)
    expected.foreach { case (k, e) =>
      val g = got(k)
      assert(g == e, s"cell $k: got $g expected $e")
    }
  }

  test("salted two-phase rollup is identical to unsalted (skewed fixture)") {
    val obs = obsDf(20000, skewed = true)
    val plain = collectTier(TierRollup.fromObs(obs, 60L))
    val salted = collectTier(TierRollup.fromObsSalted(obs, 60L, salts = 8))
    assert(plain == salted)
  }

  test("tier cascade 1m->1h->1d equals oracle merge at every tier") {
    val pts = oracleObs(10000)
    val o1m = RefRollup.rollup(pts, 60L)
    val o1h = RefRollup.mergeTier(o1m, 3600L)
    val o1d = RefRollup.mergeTier(o1h, 86400L)
    val s1m = TierRollup.fromObs(obsDf(10000), 60L)
    val s1h = TierRollup.mergeTier(s1m, 3600L)
    val s1d = TierRollup.mergeTier(s1h, 86400L)
    Seq((o1h, s1h, "1h"), (o1d, s1d, "1d")).foreach { case (o, s, tag) =>
      val om = o.map(p => (p.series, p.bucket) -> p).toMap
      val sm = collectTier(s)
      assert(sm.size == om.size, s"$tag size")
      om.foreach { case (k, e) => assert(sm(k) == e, s"$tag cell $k") }
    }
  }

  test("histogram tier matches oracle cumulative buckets and merges across tiers") {
    val pts = oracleObs(5000)
    val ladder = Schemas.bucketLadder
    // oracle per (series, 1h bucket)
    val byCell = pts.groupBy(p => (p._1, math.floorDiv(p._2, 3600L) * 3600L))
    val expected = byCell.map { case (k, vs) =>
      k -> RefRollup.histogram(vs.sortBy(v => (v._2, v._3)).map(_._4), ladder)
    }
    val got1m = TierRollup.histogramFromObs(obsDf(5000), ladder, 60L)
    val got1h = TierRollup.mergeHistogramTier(got1m, ladder.length, 3600L)
    val gotMap = got1h.collect().map { r =>
      (r.getAs[String]("series"), r.getAs[Long]("bucket")) ->
        (r.getAs[Long]("h_count"), r.getAs[Double]("h_sum"),
          r.getAs[Seq[Long]]("h_buckets").toArray)
    }.toMap
    assert(gotMap.size == expected.size)
    expected.foreach { case (k, (ec, es, eb)) =>
      val (gc, gs, gb) = gotMap(k)
      assert(gc == ec && gs == es && gb.sameElements(eb), s"hist cell $k")
    }
  }

  test("fused 1m stage: tier and histogram projections equal the separate forms exactly") {
    val obs = obsDf(20000, skewed = true)
    val ladder = Schemas.bucketLadder
    val fused = TierRollup.fromObsWithHistogram(obs, ladder, 60L)
    assert(collectTier(TierRollup.tierColumns(fused)) ==
      collectTier(TierRollup.fromObs(obs, 60L)))
    val sep = TierRollup.histogramFromObs(obs, ladder, 60L)
    assert(TierRollup.histColumns(fused).columns.sameElements(sep.columns))
    assert(collectHist(TierRollup.histColumns(fused)) == collectHist(sep))
  }

  test("fused 1m stage plan: ONE exchange, hash aggregation, no sort-based fallback") {
    val obs = obsDf(1000)
    // the 1m→1h merge reads a materialized 1m tier, as the cascade does
    val t1m = s"${tempDir("tier")}/tier_1m"
    TierRollup.fromObs(obs, 60L).write.parquet(t1m)
    Seq("fromObsWithHistogram" -> TierRollup.fromObsWithHistogram(obs, Schemas.bucketLadder, 60L),
      "fromObs" -> TierRollup.fromObs(obs, 60L),
      "mergeTier 1m->1h" -> TierRollup.mergeTier(spark.read.parquet(t1m), 3600L)).foreach {
      case (name, df) =>
        df.count() // finalize the adaptive plan
        val plan = df.queryExecution.executedPlan.toString
        assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
          s"$name: expected exactly 1 shuffle:\n$plan")
        assert(plan.contains("HashAggregate"), s"$name: expected HashAggregate:\n$plan")
        assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate")
          && !plan.contains("\n+- Sort ") && !plan.contains(" Sort ["),
          s"$name: agg must stay hash-based and sort-free:\n$plan")
    }
  }

  test("default-shape cascade (fused 1m, histograms, pages): every committed " +
      "table equals the oracle (skewed fixture)") {
    val ladder = Schemas.bucketLadder
    val obs = obsDf(20000, skewed = true)
    val pts = oracleObs(obs)
    val base = tempDir("cascade")
    val tables = TierCascade.run(spark, obs, base, seriesBuckets = 4, salts = 1,
      withHistograms = true, withPages = true)
      .map(tr => tr.name -> tr.table.read().drop("pk")).toMap
    assert(tables.keySet == Set("1m", "1h", "1d", "hist_1m", "hist_1h", "hist_1d", "pages_1h"))

    val o1m = RefRollup.rollup(pts, 60L)
    val o1h = RefRollup.mergeTier(o1m, 3600L)
    Seq("1m" -> o1m, "1h" -> o1h, "1d" -> RefRollup.mergeTier(o1h, 86400L)).foreach {
      case (name, o) =>
        assert(collectTier(tables(name)) == o.map(p => (p.series, p.bucket) -> p).toMap,
          s"tier $name")
    }

    def cell(series: String, ts: Long, bucketSec: Long) =
      (series, math.floorDiv(ts, bucketSec) * bucketSec)
    val oh1m = pts.groupBy(p => cell(p._1, p._2, 60L)).map { case (k, ps) =>
      k -> RefRollup.histogram(ps.sortBy(p => (p._2, p._3)).map(_._4), ladder)
    }
    def mergeHist(finer: Map[(String, Long), (Long, Double, Array[Long])], bucketSec: Long) =
      finer.groupBy { case ((s, b), _) => cell(s, b, bucketSec) }
        .map { case (k, cells) => k -> cells.values.reduce(RefRollup.mergeHistogram) }
    val oh1h = mergeHist(oh1m, 3600L)
    def histList(m: Map[(String, Long), (Long, Double, Array[Long])]) =
      m.map { case (k, (c, s, b)) => k -> ((c, s, b.toList)) }
    Seq("hist_1m" -> oh1m, "hist_1h" -> oh1h, "hist_1d" -> mergeHist(oh1h, 86400L)).foreach {
      case (name, o) => assert(collectHist(tables(name)) == histList(o), s"tier $name")
    }

    val rawByHour = pts.groupBy(p => cell(p._1, p._2, 3600L)).map { case (k, ps) =>
      k -> ps.sortBy(p => (p._2, p._3)).map(p => (p._2, p._4))
    }
    val pages = tables("pages_1h").collect()
    assert(pages.length == rawByHour.size)
    pages.foreach { r =>
      val k = (r.getAs[String]("series"), r.getAs[Long]("bucket"))
      val (ts, vs) = GorillaCodec.decode(r.getAs[Array[Byte]]("page"))
      assert(r.getAs[Boolean]("roundtrip_ok"), s"page $k roundtrip_ok")
      assert(r.getAs[Int]("n_points") == ts.length, s"page $k n_points")
      assert(ts.toSeq.zip(vs) == rawByHour(k), s"page $k points")
    }
  }

  test("histogram_quantile: interpolation, first-rung lower bound 0, overflow fallback, empty null") {
    import spark.implicits._
    val ladder = Array(1.0, 2.0, 5.0, 10.0)
    // (name, h_count, cumulative h_buckets)
    val cells = Seq(
      ("interp", 10L, Seq(2L, 3L, 5L, 10L)), // ranks land inside rungs
      ("overflow", 5L, Seq(1L, 1L, 1L, 1L)), // 4 of 5 obs above the last rung
      ("empty", 0L, Seq(0L, 0L, 0L, 0L))
    ).toDF("name", "h_count", "h_buckets")
    val got = cells.select(col("name"),
        TierRollup.histogramQuantile(ladder, 0.20).as("p20"),
        TierRollup.histogramQuantile(ladder, 0.50).as("p50"),
        TierRollup.histogramQuantile(ladder, 0.90).as("p90"))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    // interp: rank(.2)=2 → first rung [0,1], full: 0+1*(2-0)/(2-0)=1.0;
    // rank(.5)=5 → rung [2,5], prev 3: 2+3*(5-3)/(5-3)=5.0;
    // rank(.9)=9 → rung [5,10], prev 5: 5+5*(9-5)/(10-5)=9.0
    assert(got("interp") == (Some(1.0), Some(5.0), Some(9.0)))
    // overflow: rank(.5)=2.5 and rank(.9)=4.5 exceed c_last=1 → highest
    // finite bound; rank(.2)=1.0 still lands in the first rung: 0+1*1/1=1.0
    assert(got("overflow") == (Some(1.0), Some(10.0), Some(10.0)))
    assert(got("empty") == (None, None, None))
  }

  test("delta/rate matches oracle incl. counter reset; first point is null") {
    import spark.implicits._
    // hand-built cumulative counter with one reset, two series
    val rows = Seq(
      ("a", 0L, 1L, 10.0), ("a", 60L, 2L, 15.0), ("a", 120L, 3L, 3.0), // reset at 120
      ("a", 180L, 4L, 9.0), ("b", 0L, 5L, 1.0), ("b", 60L, 6L, 1.0))
    val tier = TierRollup.fromObs(rows.toDF("series", "ts", "seq", "value"), 60L)
    val got = TierRollup.deltaRate(tier).select("series", "bucket", "delta", "rate")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    val oracleA = RefRollup.deltaRate(Seq((0L, 10.0), (60L, 15.0), (120L, 3.0), (180L, 9.0)))
      .map { case (ts, d, rt) => ("a", ts, d, rt) }
    val oracleB = RefRollup.deltaRate(Seq((0L, 1.0), (60L, 1.0)))
      .map { case (ts, d, rt) => ("b", ts, d, rt) }
    assert(got == (oracleA ++ oracleB).toSet)
  }

  test("gap-fill: spine is complete, gaps marked, LOCF fills from last observation") {
    import spark.implicits._
    val rows = Seq(("s", 0L, 1L, 5.0), ("s", 180L, 2L, 7.0)) // buckets 0 and 180, gap at 60,120
    val tier = TierRollup.fromObs(rows.toDF("series", "ts", "seq", "value"), 60L)
    val filled = TierRollup.gapFill(tier, 60L).orderBy("bucket")
      .select("bucket", "is_gap", "last_v_filled").collect()
    assert(filled.map(_.getLong(0)).sameElements(Array(0L, 60L, 120L, 180L)))
    assert(filled.map(_.getBoolean(1)).sameElements(Array(false, true, true, false)))
    assert(filled.map(_.getDouble(2)).sameElements(Array(5.0, 5.0, 5.0, 7.0)))
  }

  test("gap-fill spine size is proportional to per-series span, not global range") {
    import spark.implicits._
    // sparse series: "early" lives in buckets [0, 120], "late" in [86400, 86460]
    // — a global-bounds spine would be 2 × 1441 rows; per-series is 3 + 2
    val rows = Seq(("early", 0L, 1L, 1.0), ("early", 120L, 2L, 2.0),
      ("late", 86400L, 3L, 3.0), ("late", 86460L, 4L, 4.0))
    val tier = TierRollup.fromObs(rows.toDF("series", "ts", "seq", "value"), 60L)
    val perSeries = TierRollup.gapFill(tier, 60L)
    assert(perSeries.count() == 5)
    // LOCF still correct on the per-series path
    val early = perSeries.filter(col("series") === "early").orderBy("bucket")
      .select("bucket", "last_v_filled").as[(Long, Double)].collect().toSeq
    assert(early == Seq((0L, 1.0), (60L, 1.0), (120L, 2.0)))
  }

  test("fixture gaps are filled: gapped fixture yields complete spine") {
    val obs = TokenFixture.deriveObs(
      TokenFixture.tokenTable(spark, 3000, withGaps = true, withTokens = false))
      .select("series", "ts", "seq", "value")
    val tier = TierRollup.fromObs(obs, 60L)
    val filled = TierRollup.gapFill(tier, 60L)
    val perSeries = filled.groupBy("series").agg(
      count(lit(1)).as("n"),
      ((max(col("bucket")) - min(col("bucket"))) / 60 + 1).as("want"))
    assert(perSeries.filter(col("n") =!= col("want")).count() == 0)
    assert(filled.filter(col("is_gap") && col("last_v_filled").isNull).count() +
      filled.filter(col("is_gap")).count() > 0) // gaps exist and are marked
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  test("gap-fill equals the spine-join reference as a multiset; its plan is one window, no join or aggregate") {
    import spark.implicits._
    val gapped = TierRollup.fromObs(TokenFixture.deriveObs(
      TokenFixture.tokenTable(spark, 3000, withGaps = true, withTokens = false))
      .select("series", "ts", "seq", "value"), 60L)
    // edge cases: a single-bucket series, a cell whose last_v is null (its
    // newest observation is null) inside a gapped run, and non-adjacent gaps
    val edges = TierRollup.fromObs(Seq[(String, Long, Long, Option[Double])](
      ("single", 600L, 1L, Some(4.0)),
      ("nullv", 0L, 2L, Some(5.0)), ("nullv", 60L, 3L, Some(6.0)), ("nullv", 61L, 4L, None),
      ("nullv", 240L, 5L, Some(7.0)),
      ("apart", 0L, 6L, Some(1.0)), ("apart", 120L, 7L, Some(2.0)),
      ("apart", 300L, 8L, Some(3.0)), ("apart", 360L, 9L, Some(4.0)))
      .toDF("series", "ts", "seq", "value"), 60L)
    for ((name, tier) <- Seq("gapped fixture" -> gapped, "edge cases" -> edges)) {
      val got = TierRollup.gapFill(tier, 60L)
      val want = RefRollup.gapFill(tier, 60L)
      assert(got.schema == want.schema, name)
      assert(multiset(got) == multiset(want), name)
    }
    val nullv = TierRollup.gapFill(edges, 60L).filter(col("series") === "nullv")
      .orderBy("bucket").select("bucket", "is_gap", "last_v", "last_v_filled").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.get(2)), r.getDouble(3))).toSeq
    assert(nullv == Seq((0L, false, Some(5.0), 5.0), (60L, false, None, 5.0),
      (120L, true, None, 5.0), (180L, true, None, 5.0), (240L, false, Some(7.0), 7.0)))
    val local = spark.createDataFrame(java.util.Arrays.asList(edges.collect(): _*), edges.schema)
    val plan = TierRollup.gapFill(local, 60L).queryExecution.optimizedPlan
    val nodes = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.nodeName
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a.nodeName
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.nodeName
    }
    assert(nodes == Seq("Window"), s"gap-fill plan has $nodes, want one Window:\n$plan")
  }

  test("token-array equality: derived obs preserve tokens vs the source table") {
    val tok = TokenFixture.tokenTable(spark, 2000)
    val derived = TokenFixture.deriveObs(tok)
    // join back on doc_id and compare token arrays
    val src = tok.select(col("doc_id"), col("tokens").as("src_tokens"))
    val bad = derived.join(src, "doc_id")
      .filter(not(col("tokens") === col("src_tokens"))).count()
    assert(bad == 0)
    assert(derived.count() == 2000)
  }

  test("retention: TTL filter keeps only cells near the high-water mark") {
    import spark.implicits._
    val rows = (0 until 100).map(i => ("s", i * 60L, i.toLong, 1.0))
    val tier = TierRollup.fromObs(rows.toDF("series", "ts", "seq", "value"), 60L)
    val kept = RefRollup.retain(tier, ttlSec = 600L)
    assert(kept.count() == 10) // buckets within (hwm-600, hwm]
    assert(kept.agg(min("bucket")).head().getLong(0) == (99 * 60 - 600 + 60))
  }
}
