package graft.tiers

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tiered continuous aggregates: raw observations → 1m → 1h → 1d rollup cells
  * (north_rule; semantics per SURVEY.md §1.2 / §2.3).
  *
  * ONE rollup definition. vertex merges an incoming metric into a buffered
  * aggregate by the same add rule it uses to combine two aggregates
  * (MetricsBuffer/metricalize, SURVEY.md §1), so here a raw observation is a
  * one-point tier cell — (series, bucket = ts, sum_v = min_v = max_v =
  * last_v = value, cnt = 1, last_ts = ts, last_seq = seq) — and every
  * sum-tier rollup (raw → 1m, salted, fused with histograms, finer → coarser
  * tier, streaming) is the one [[merge]] of cells into coarser buckets.
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
  * `cnt` is a sum of counts; a coalesce to 0 keeps it typed non-null, as
  * every cell has at least one point.
  */
object TierRollup {

  private val SeqBits = 46
  private val SeqMask = (1L << SeqBits) - 1
  private val TierCols =
    Seq("series", "bucket", "sum_v", "cnt", "min_v", "max_v", "last_v", "last_ts", "last_seq")

  def bucketOf(ts: Column, bucketSec: Long): Column =
    (floor(ts / bucketSec) * bucketSec).cast("long")

  /** Raw observations as one-point tier cells; `value` rides along for
    * aggregates over the raw value (the histogram rungs). */
  private[graft] def cells(obs: DataFrame): DataFrame =
    obs.select(col("series"), col("ts").as("bucket"), col("value").as("sum_v"),
      lit(1L).as("cnt"), col("value").as("min_v"), col("value").as("max_v"),
      col("value").as("last_v"), col("ts").as("last_ts"), col("seq").as("last_seq"), col("value"))

  /** THE rollup: tier cells → `bucketSec` cells per (series, bucket, `keys`),
    * plus `aggs`. One shuffle with map-side partials; every aggregate is
    * algebraic and hash-friendly. "last" is the max of (last_ts, last_seq)
    * packed against the coarser bucket. Columns after the tier set are the
    * extra keys, then `aggs`.
    */
  private[graft] def merge(cells: DataFrame, bucketSec: Long, keys: Seq[Column] = Nil,
      aggs: Seq[Column] = Nil): DataFrame = {
    require(bucketSec <= 86400, s"bucketSec $bucketSec exceeds the packed-ord range")
    val ord = shiftleft(col("last_ts") - col("_cb"), SeqBits) + col("last_seq")
    val merged = cells
      .withColumn("_cb", bucketOf(col("bucket"), bucketSec))
      .groupBy(col("series") +: col("_cb").as("bucket") +: keys: _*)
      .agg(sum(col("sum_v")).as("sum_v"), Seq(coalesce(sum(col("cnt")), lit(0L)).as("cnt"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"),
        max_by(col("last_v"), ord).as("last_v"), max(ord).as("_ord")) ++ aggs: _*)
    val extras = merged.columns.filterNot((TierCols :+ "_ord").contains).map(col)
    merged
      .withColumn("last_ts", col("bucket") + shiftright(col("_ord"), SeqBits))
      .withColumn("last_seq", col("_ord").bitwiseAND(SeqMask))
      .select(TierCols.map(col) ++ extras: _*)
  }

  /** Raw observations → one tier. */
  def fromObs(obs: DataFrame, bucketSec: Long): DataFrame = merge(cells(obs), bucketSec)

  /** Finer tier → coarser tier (1m→1h, 1h→1d). */
  def mergeTier(tier: DataFrame, bucketSec: Long): DataFrame = merge(tier, bucketSec)

  /** Skew-safe two-phase rollup for hot series (north_rule "salted
    * repartitioning for hot-key skew"; SURVEY.md §7.5.4): phase 1 merges per
    * (series, bucket, seq mod `salts`) — spreading one hot cell over `salts`
    * reducers — and phase 2 merges the salted partials. Deterministic: every
    * aggregate is order-insensitive given the packed (ts, seq) order.
    */
  def fromObsSalted(obs: DataFrame, bucketSec: Long, salts: Int): DataFrame =
    mergeTier(merge(cells(obs), bucketSec,
      keys = Seq(pmod(col("last_seq"), lit(salts.toLong)).as("_salt"))), bucketSec)

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

  /** Cumulative Prometheus-style bucket counts of `value`: rung `b` counts
    * every value <= b (vertex lib/event/src/metric/mod.rs:53-61).
    * One sum(when(..)) per rung — algebraic and fully codegen'd.
    */
  private def rungs(ladder: Array[Double], value: Column): Column =
    array(ladder.toIndexedSeq.map(b => sum(when(value <= b, 1L).otherwise(0L))): _*)
      .as("h_buckets")

  /** Histogram tier from raw observations: the ladder's [[rungs]] plus count
    * and sum, one shuffle.
    */
  def histogramFromObs(obs: DataFrame, ladder: Array[Double], bucketSec: Long): DataFrame =
    obs
      .groupBy(col("series"), bucketOf(col("ts"), bucketSec).as("bucket"))
      .agg(count(lit(1)).as("h_count"), sum(col("value")).as("h_sum"), rungs(ladder, col("value")))

  /** Fused 1m stage: the sum-rollup aggregates AND the cumulative-bucket
    * histogram counts from ONE scan + ONE shuffle. The two tiers group by the
    * same (series, bucket) key, and the histogram's `h_count`/`h_sum` are
    * exactly the rollup's `cnt`/`sum_v`, so materializing them separately
    * (fromObs + histogramFromObs) costs a second full pass over the raw
    * table for 11 extra rung sums. Project the result with [[tierColumns]] /
    * [[histColumns]] to recover the exact per-tier schemas.
    */
  def fromObsWithHistogram(obs: DataFrame, ladder: Array[Double], bucketSec: Long): DataFrame =
    merge(cells(obs), bucketSec, aggs = Seq(rungs(ladder, col("value"))))

  /** Sum-tier projection of [[fromObsWithHistogram]] — schema-identical to
    * [[fromObs]]. */
  def tierColumns(fused: DataFrame): DataFrame = fused.select(TierCols.map(col): _*)

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
}
