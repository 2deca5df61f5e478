package graft.tiers

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tiered continuous aggregates: raw observations → 1m → 1h → 1d rollup cells
  * (north_rule; semantics per SURVEY.md §1.2 / §2.3).
  *
  * Everything here is built-in Catalyst expressions — no UDFs, no custom
  * Aggregator — so the whole rollup stays inside whole-stage codegen and gets
  * map-side partial aggregation for free. "last" (vertex gauge last-write-wins,
  * /root/reference/lib/event/src/metric/mod.rs:50-52) is made deterministic
  * under any partitioning by ordering on (ts, seq) instead of arrival order.
  *
  * The (ts, seq) order is packed into ONE long — (ts − bucket) << 46 | seq —
  * so max_by/max keep primitive mutable buffers and the aggregation runs as
  * HashAggregate. A struct ordering key forces SortAggregate, which measured
  * 9× slower at 64M rows (49s vs 5s at local[32]) because it sorts the whole
  * input per partition. Constraints: bucketSec ≤ 86400 (ts − bucket < 2^17)
  * and seq ∈ [0, 2^46) — 7·10^13, comfortably above the 10^12-sequence scale.
  *
  * Input observation frame: columns (series: string, ts: long epoch-sec,
  * seq: long unique tiebreak, value: double).
  * Tier frame: (series, bucket, sum_v, cnt, min_v, max_v, last_v, last_ts, last_seq).
  */
object TierRollup {

  private val SeqBits = 46
  private val SeqMask = (1L << SeqBits) - 1

  def bucketOf(ts: Column, bucketSec: Long): Column =
    (floor(ts / bucketSec) * bucketSec).cast("long")

  /** Strict total order on (ts, seq) within a bucket, packed into one long. */
  private def packedOrd(ts: Column, seq: Column, bucket: Column): Column =
    shiftleft(ts - bucket, SeqBits) + seq

  private def rollupAggs(ts: Column, seq: Column, bucket: Column, value: Column) = {
    val ord = packedOrd(ts, seq, bucket)
    Seq(
      sum(value).as("sum_v"),
      count(lit(1)).as("cnt"),
      min(value).as("min_v"),
      max(value).as("max_v"),
      max_by(value, ord).as("last_v"),
      max(ord).as("_ord"))
  }

  /** `_ord` → (last_ts, last_seq); columns after the rollup set are kept. */
  private def unpackOrd(df: DataFrame): DataFrame = {
    val extras = df.columns.filterNot(Set("series", "bucket", "sum_v", "cnt",
      "min_v", "max_v", "last_v", "_ord").contains)
    df.select((Seq(col("series"), col("bucket"), col("sum_v"), col("cnt"), col("min_v"),
      col("max_v"), col("last_v"),
      (col("bucket") + shiftright(col("_ord"), SeqBits)).as("last_ts"),
      col("_ord").bitwiseAND(SeqMask).as("last_seq")) ++ extras.map(col)): _*)
  }

  /** Raw observations → one tier. Shuffles once on (series, bucket) with
    * map-side partial agg; all aggregates are algebraic and hash-friendly.
    */
  def fromObs(obs: DataFrame, bucketSec: Long): DataFrame = {
    require(bucketSec <= 86400, s"bucketSec $bucketSec exceeds the packed-ord range")
    val grouped = obs
      .withColumn("bucket", bucketOf(col("ts"), bucketSec))
      .groupBy(col("series"), col("bucket"))
      .agg(rollupAggs(col("ts"), col("seq"), col("bucket"), col("value")).head,
        rollupAggs(col("ts"), col("seq"), col("bucket"), col("value")).tail: _*)
    unpackOrd(grouped)
  }

  /** Finer tier → coarser tier (1m→1h, 1h→1d). `last` merges correctly because
    * each cell carries (last_ts, last_seq), re-packed against the coarser bucket.
    */
  def mergeTier(tier: DataFrame, bucketSec: Long): DataFrame = {
    require(bucketSec <= 86400, s"bucketSec $bucketSec exceeds the packed-ord range")
    val grouped = tier
      .withColumn("_cb", bucketOf(col("bucket"), bucketSec))
      .groupBy(col("series"), col("_cb").as("bucket"))
      .agg(
        sum(col("sum_v")).as("sum_v"),
        sum(col("cnt")).as("cnt"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        max_by(col("last_v"), packedOrd(col("last_ts"), col("last_seq"), col("_cb"))).as("last_v"),
        max(packedOrd(col("last_ts"), col("last_seq"), col("_cb"))).as("_ord"))
    unpackOrd(grouped)
  }

  /** Skew-safe two-phase rollup for hot series (north_rule "salted
    * repartitioning for hot-key skew"; SURVEY.md §7.5.4): phase 1 aggregates
    * (series, bucket, salt) — spreading one hot cell over `salts` reducers —
    * phase 2 merges the salted partials with the exact tier-merge semantics.
    * Deterministic: every aggregate is order-insensitive given the (ts, seq)
    * ordering carried by max_by.
    */
  def fromObsSalted(obs: DataFrame, bucketSec: Long, salts: Int): DataFrame = {
    require(bucketSec <= 86400, s"bucketSec $bucketSec exceeds the packed-ord range")
    val salted = obs
      .withColumn("bucket", bucketOf(col("ts"), bucketSec))
      .withColumn("_salt", pmod(col("seq"), lit(salts.toLong)))
      .groupBy(col("series"), col("bucket"), col("_salt"))
      .agg(rollupAggs(col("ts"), col("seq"), col("bucket"), col("value")).head,
        rollupAggs(col("ts"), col("seq"), col("bucket"), col("value")).tail: _*)
    mergeTier(unpackOrd(salted), bucketSec)
  }

  /** Gap-fill (SURVEY.md §2.9) without a spine: one per-series window
    * ordered by bucket carries the LOCF value (`last(last_v, ignoreNulls)`)
    * and the next cell's bucket, and `posexplode(sequence(...))` expands each
    * cell up to it. Position 0 is the cell itself; the rest are gaps (every
    * tier column null, `last_v_filled` carried), within each series' own span.
    */
  def gapFill(tier: DataFrame, bucketSec: Long): DataFrame = {
    val w = Window.partitionBy(col("series")).orderBy(col("bucket"))
    val step = lit(bucketSec)
    val cells = tier.select(col("*"),
      last(col("last_v"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("_filled"),
      lead(col("bucket"), 1).over(w).as("_next"))
    val tierCols = tier.columns.filterNot(Set("series", "bucket"))
    cells
      .select(col("*"), posexplode(sequence(col("bucket"),
        coalesce(col("_next") - step, col("bucket")), step)).as(Seq("_pos", "_b")))
      .select(Seq(col("series"), col("_b").as("bucket")) ++
        tierCols.map(c => when(col("_pos") === 0, col(c)).as(c)) ++
        Seq((col("_pos") > 0).as("is_gap"), col("_filled").as("last_v_filled")): _*)
  }

  /** Absolute→delta/rate normalization
    * (/root/reference/lib/framework/src/sink/buffer/metrics.rs:99-141): per
    * series ordered by bucket, delta = v - lag(v) with the counter-reset rule
    * (negative delta ⇒ take the raw value), rate = delta / dt. The first point
    * per series yields null ("first returns None").
    */
  def deltaRate(tier: DataFrame, valueCol: String = "last_v"): DataFrame = {
    val w = Window.partitionBy(col("series")).orderBy(col("bucket"))
    val prevV = lag(col(valueCol), 1).over(w)
    val prevB = lag(col("bucket"), 1).over(w)
    val rawD = col(valueCol) - prevV
    tier
      .withColumn("delta", when(prevV.isNull, lit(null))
        .otherwise(when(rawD < 0, col(valueCol)).otherwise(rawD)))
      .withColumn("rate", col("delta") / (col("bucket") - prevB))
  }

  /** Histogram tier from raw observations: cumulative Prometheus-style bucket
    * counts (every bucket with value <= upper incremented;
    * /root/reference/lib/event/src/metric/mod.rs:53-61), plus count and sum.
    * One sum(when(..)) per ladder rung — fully codegen'd, one shuffle.
    */
  def histogramFromObs(obs: DataFrame, ladder: Array[Double], bucketSec: Long): DataFrame = {
    val bucketCounts = ladder.map(b =>
      sum(when(col("value") <= b, 1L).otherwise(0L)))
    obs
      .groupBy(col("series"), bucketOf(col("ts"), bucketSec).as("bucket"))
      .agg(count(lit(1)).as("h_count"), sum(col("value")).as("h_sum"),
        array(bucketCounts: _*).as("h_buckets"))
  }

  /** Fused 1m stage: the sum-rollup aggregates AND the cumulative-bucket
    * histogram counts from ONE scan + ONE shuffle. The two tiers group by the
    * same (series, bucket) key, and the histogram's `h_count`/`h_sum` are
    * exactly the rollup's `cnt`/`sum_v`, so materializing them separately
    * (fromObs + histogramFromObs) costs a second full pass over the raw
    * table for 11 extra rung sums. All aggregates stay algebraic /
    * hash-friendly. Project the result with [[tierColumns]] /
    * [[histColumns]] to recover the exact per-tier schemas.
    */
  def fromObsWithHistogram(obs: DataFrame, ladder: Array[Double], bucketSec: Long): DataFrame = {
    require(bucketSec <= 86400, s"bucketSec $bucketSec exceeds the packed-ord range")
    val rungs = ladder.map(b => sum(when(col("value") <= b, 1L).otherwise(0L)))
    val aggs = rollupAggs(col("ts"), col("seq"), col("bucket"), col("value")) :+
      array(rungs.toIndexedSeq: _*).as("h_buckets")
    unpackOrd(obs
      .withColumn("bucket", bucketOf(col("ts"), bucketSec))
      .groupBy(col("series"), col("bucket"))
      .agg(aggs.head, aggs.tail: _*))
  }

  /** Sum-tier projection of [[fromObsWithHistogram]] — schema-identical to
    * [[fromObs]]. */
  def tierColumns(fused: DataFrame): DataFrame =
    fused.select(col("series"), col("bucket"), col("sum_v"), col("cnt"), col("min_v"),
      col("max_v"), col("last_v"), col("last_ts"), col("last_seq"))

  /** Histogram-tier projection of [[fromObsWithHistogram]] — schema-identical
    * to [[histogramFromObs]] (`h_count`/`h_sum` are the rollup's cnt/sum_v). */
  def histColumns(fused: DataFrame): DataFrame =
    fused.select(col("series"), col("bucket"), col("cnt").as("h_count"),
      col("sum_v").as("h_sum"), col("h_buckets"))

  /** Histogram tier merge: element-wise cumulative-bucket add (equal ladder
    * layout assumed, mirroring the reference's same-layout requirement:
    * /root/reference/src/transforms/metricalize.rs:233-248).
    *
    * One `sum(element_at(...))` per rung instead of
    * `aggregate(collect_list(...), zip_with(+))`: the collect_list form is an
    * ObjectHashAggregate that buffers EVERY input array per group with no
    * map-side reduction (and falls back to sort-based under pressure) — it
    * was the cascade's worst-scaling stage (2→8 cores sped up only 2.17×).
    * Per-rung sums are algebraic, stay in whole-stage codegen, and get
    * map-side partials, so a hot (series, bucket) cell reaches the reducer
    * as at most one partial per map partition. Identical arithmetic: both
    * forms compute the element-wise Long sum per rung.
    */
  def mergeHistogramTier(hist: DataFrame, ladderLen: Int, bucketSec: Long): DataFrame = {
    val rungSums = (0 until ladderLen).map(i =>
      sum(element_at(col("h_buckets"), i + 1)))
    hist
      .groupBy(col("series"), bucketOf(col("bucket"), bucketSec).as("bucket"))
      .agg(sum(col("h_count")).as("h_count"), sum(col("h_sum")).as("h_sum"),
        array(rungSums: _*).as("h_buckets"))
  }

  /** Prometheus `histogram_quantile(phi, ·)` over a cumulative-bucket
    * histogram cell (the read function for the hist_* tiers;
    * /root/reference/lib/event/src/metric/mod.rs:53-61 defines the cumulative
    * bucket layout this reads). Pure Catalyst arithmetic generated from the
    * same Scala `ladder` the tier was built with — one `when` branch per rung,
    * fully codegen'd, no UDF.
    *
    * Semantics (the published PromQL rule): rank = phi·count; the quantile is
    * linearly interpolated inside the first rung whose cumulative count
    * reaches the rank; the first rung's lower bound is 0 (`ladder` must be
    * ascending and positive); a rank above the last rung (observations larger
    * than every rung live only in `count`) returns the highest finite bound.
    * Division is safe: the FIRST branch with c_i >= rank always has
    * c_i > c_{i-1} (else the previous branch matched). Empty cells
    * (count == 0) yield null.
    */
  def histogramQuantile(ladder: Array[Double], phi: Double,
      countCol: Column = col("h_count"), bucketsCol: Column = col("h_buckets")): Column = {
    require(phi > 0.0 && phi <= 1.0, s"phi=$phi must be in (0, 1]")
    require(ladder.nonEmpty && ladder.head > 0 &&
      ladder.sameElements(ladder.sorted), "ladder must be ascending and positive")
    val rank = lit(phi) * countCol.cast("double")
    val branches = ladder.indices.map { i =>
      val c = element_at(bucketsCol, i + 1).cast("double")
      val prevC = if (i == 0) lit(0.0) else element_at(bucketsCol, i).cast("double")
      val lower = if (i == 0) lit(0.0) else lit(ladder(i - 1))
      when(c >= rank, lower + (lit(ladder(i)) - lower) * (rank - prevC) / (c - prevC))
    }
    when(countCol > 0, coalesce(branches :+ lit(ladder.last): _*))
  }

  /** Retention (exporter TTL GC analog,
    * /root/reference/src/sinks/prometheus_exporter.rs:457-482): keep only
    * cells within `ttlSec` of the high-water mark. In the lake layer this
    * becomes a partition-predicate delete (LakeTable.expire); this is the
    * dataframe form used in queries.
    */
  def retain(tier: DataFrame, ttlSec: Long): DataFrame = {
    val hwm = tier.agg(max(col("bucket")).as("_hwm"))
    tier.crossJoin(broadcast(hwm)).filter(col("bucket") > col("_hwm") - ttlSec).drop("_hwm")
  }
}
