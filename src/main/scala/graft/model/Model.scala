package graft.model

/** Core data model (SURVEY.md §1): one rolled-up (series, bucket) tier cell.
  * It carries the vertex merge semantics result (sum/gauge-last) extended
  * with min/max/count/last per the north rule (reference MetricValue has only
  * sum/gauge/histogram/summary: /root/reference/lib/event/src/metric/mod.rs:24-39;
  * min/max/count/last extension per SURVEY.md §2.9). "Last" follows (ts, seq)
  * event order instead of the reference's arrival order (MetricSet upsert
  * replaces, /root/reference/lib/framework/src/sink/buffer/metrics.rs:176-181),
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

object Schemas {
  /** Prometheus default histogram bucket ladder ×1000 (token-count domain).
    * Ladder source: /root/reference/src/transforms/metricalize.rs:21-25
    * (0.005..10.0), scaled per FIXTURES.md §1.
    */
  val bucketLadder: Array[Double] =
    Array(5, 10, 25, 50, 100, 250, 500, 1000, 2500, 5000, 10000).map(_.toDouble)
}
