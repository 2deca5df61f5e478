package graft.ref

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The oracle's row (SURVEY.md §1 data model): one rolled-up (series,
  * bucket) tier cell.
  * It carries the vertex merge semantics result (sum/gauge-last) extended
  * with min/max/count/last per the north rule (reference MetricValue has only
  * sum/gauge/histogram/summary: vertex lib/event/src/metric/mod.rs:24-39;
  * min/max/count/last extension per SURVEY.md §2.9). "Last" follows (ts, seq)
  * event order instead of the reference's arrival order (MetricSet upsert
  * replaces, vertex lib/framework/src/sink/buffer/metrics.rs:176-181),
  * so results are deterministic under any partitioning. `lastTs`/`lastSeq`
  * travel with the row so that coarser tiers (1m→1h→1d) can merge "last"
  * correctly.
  */
final case class RollupPoint(
    series: String,
    bucket: Long, // bucket start, epoch seconds
    sum: Double,
    cnt: Long,
    min: Double,
    max: Double,
    last: Double,
    lastTs: Long,
    lastSeq: Long)

/** Single-node reference oracle: a direct Scala transcription of the
  * reference's aggregation semantics, used by ScalaTest to check the Spark
  * plans bit-for-bit (SURVEY.md §5 "Our translation").
  *
  * Semantics transcribed from:
  *  - MetricValue::merge (vertex lib/event/src/metric/mod.rs:42-64):
  *    Sum accumulates; Gauge is last-write-wins; Histogram increments count,
  *    sum, and every cumulative bucket with value <= upper; Summary merge is
  *    a no-op.
  *  - metricalize grouped-merge (vertex src/transforms/metricalize.rs:220-281):
  *    group by series identity, fold observations in order.
  *  - MetricNormalize absolute→delta
  *    (vertex lib/framework/src/sink/buffer/metrics.rs:99-141):
  *    first observation yields None, subsequent yield the diff.
  *
  * Arrival order in the reference is stream order; here the canonical order is
  * (ts, seq) ascending, which the Spark side reproduces via max_by ordering.
  * Pure Scala, except [[gapFill]], which keeps the spine-join plan as the
  * reference for TierRollup's.
  */
object RefRollup {

  /** Roll raw observations into `bucketSec` cells. Values that are integral
    * (the token-count domain) make the f64 sum order-insensitive, so the
    * result is bit-exact under any fold order.
    */
  def rollup(points: Seq[(String, Long, Long, Double)], bucketSec: Long): Seq[RollupPoint] = {
    val acc = mutable.LinkedHashMap.empty[(String, Long), RollupPoint]
    points.sortBy(p => (p._1, p._2, p._3)).foreach { case (series, ts, seq, v) =>
      val bucket = math.floorDiv(ts, bucketSec) * bucketSec
      val key = (series, bucket)
      acc.get(key) match {
        case None =>
          acc(key) = RollupPoint(series, bucket, v, 1L, v, v, v, ts, seq)
        case Some(p) =>
          val isLater = ts > p.lastTs || (ts == p.lastTs && seq > p.lastSeq)
          acc(key) = p.copy(
            sum = p.sum + v, // Sum: s += f (metric/mod.rs:48)
            cnt = p.cnt + 1,
            min = math.min(p.min, v),
            max = math.max(p.max, v),
            // Gauge: last-write-wins (metric/mod.rs:50-52), event-order here
            last = if (isLater) v else p.last,
            lastTs = if (isLater) ts else p.lastTs,
            lastSeq = if (isLater) seq else p.lastSeq)
      }
    }
    acc.values.toSeq
  }

  /** Merge a finer tier into coarser buckets (1m→1h→1d). */
  def mergeTier(finer: Seq[RollupPoint], bucketSec: Long): Seq[RollupPoint] = {
    val acc = mutable.LinkedHashMap.empty[(String, Long), RollupPoint]
    finer.sortBy(p => (p.series, p.bucket)).foreach { p =>
      val bucket = math.floorDiv(p.bucket, bucketSec) * bucketSec
      acc.get((p.series, bucket)) match {
        case None => acc((p.series, bucket)) = p.copy(bucket = bucket)
        case Some(q) =>
          val takeP = p.lastTs > q.lastTs || (p.lastTs == q.lastTs && p.lastSeq > q.lastSeq)
          acc((p.series, bucket)) = q.copy(
            sum = q.sum + p.sum,
            cnt = q.cnt + p.cnt,
            min = math.min(q.min, p.min),
            max = math.max(q.max, p.max),
            last = if (takeP) p.last else q.last,
            lastTs = if (takeP) p.lastTs else q.lastTs,
            lastSeq = if (takeP) p.lastSeq else q.lastSeq)
      }
    }
    acc.values.toSeq
  }

  /** Histogram observe into a cumulative-bucket ladder.
    * metric/mod.rs:53-61: count += 1, sum += f, every bucket with f <= upper += 1.
    * Out-of-ladder values count toward count/sum only (no +Inf bucket unless
    * the ladder carries one), matching the reference comment.
    */
  def histogram(values: Seq[Double], ladder: Array[Double]): (Long, Double, Array[Long]) = {
    val buckets = new Array[Long](ladder.length)
    var count = 0L
    var sum = 0.0
    values.foreach { v =>
      count += 1
      sum += v
      var i = 0
      while (i < ladder.length) {
        if (v <= ladder(i)) buckets(i) += 1
        i += 1
      }
    }
    (count, sum, buckets)
  }

  /** Pairwise histogram merge: element-wise bucket add (same ladder required).
    * The reference resets state on layout mismatch
    * (metricalize.rs:233-248); we mirror by requiring equal layouts.
    */
  def mergeHistogram(a: (Long, Double, Array[Long]), b: (Long, Double, Array[Long]))
      : (Long, Double, Array[Long]) = {
    require(a._3.length == b._3.length, "bucket layout mismatch")
    (a._1 + b._1, a._2 + b._2, a._3.zip(b._3).map { case (x, y) => x + y })
  }

  /** Absolute→delta/rate normalization per series
    * (sink/buffer/metrics.rs:99-141): first observation → None; later →
    * value - prev, with the Prometheus counter-reset rule (negative delta ⇒
    * the raw value is taken as the delta). Rate = delta / dt seconds.
    */
  def deltaRate(points: Seq[(Long, Double)]): Seq[(Long, Option[Double], Option[Double])] = {
    val sorted = points.sortBy(_._1)
    sorted.zipWithIndex.map { case ((ts, v), i) =>
      if (i == 0) (ts, None, None)
      else {
        val (pts, pv) = sorted(i - 1)
        val d = v - pv
        val delta = if (d < 0) v else d
        val dt = (ts - pts).toDouble
        (ts, Some(delta), if (dt > 0) Some(delta / dt) else None)
      }
    }
  }

  /** Gap-fill the plain way (SURVEY.md §2.9): a per-series spine from an
    * aggregate of each series' [min, max] bucket plus sequence()+explode,
    * left-joined with the tier, then LOCF via last(ignoreNulls) over an
    * ordered per-series window. Gaps are the spine rows no cell joined.
    */
  def gapFill(tier: DataFrame, bucketSec: Long): DataFrame = {
    val spine = tier.groupBy(col("series"))
      .agg(min(col("bucket")).as("_lo"), max(col("bucket")).as("_hi"))
      .select(col("series"),
        explode(sequence(col("_lo"), col("_hi"), lit(bucketSec))).as("bucket"))
    val w = Window.partitionBy(col("series")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(tier, Seq("series", "bucket"), "left")
      .withColumn("is_gap", col("cnt").isNull)
      .withColumn("last_v_filled", last(col("last_v"), ignoreNulls = true).over(w))
  }
}
