package graft.model

/** Shared schema constants. */
object Schemas {
  /** Prometheus default histogram bucket ladder ×1000 (token-count domain).
    * Ladder source: /root/reference/src/transforms/metricalize.rs:21-25
    * (0.005..10.0), scaled per FIXTURES.md §1.
    */
  val bucketLadder: Array[Double] =
    Array(5, 10, 25, 50, 100, 250, 500, 1000, 2500, 5000, 10000).map(_.toDouble)
}
