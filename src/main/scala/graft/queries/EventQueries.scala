package graft.queries

import graft.tiers.TierRollup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operator queries over the driver's `events` table (event_id, ts, user_id,
  * event_type, value, props) — each is a SURVEY.md §2 operator re-expressed
  * Spark-first, with a DuckDB-equivalent oracle in SparkEntry.oracleSql.
  *
  * Conventions for oracle hash parity:
  *  - time buckets are epoch-second BIGINTs (unix_timestamp(date_trunc(...)))
  *  - f64 sums are round(·, 4) — double association order differs between
  *    engines; min/max/last are exact (they select existing values)
  *  - "last/first" use the total order (ts, event_id) so ties are impossible
  */
object EventQueries {

  def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")

  private def bucketCol(unit: String): Column =
    unix_timestamp(date_trunc(unit, col("ts"))).as("bucket")

  /** Observation frame for TierRollup: series=event_type, seq=event_id. */
  def obs(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      col("event_type").as("series"),
      unix_timestamp(col("ts")).as("ts"),
      col("event_id").as("seq"),
      col("value"))

  /** metricalize-style 1-minute rollup (SURVEY §2.3): sum/count/min/max/last
    * per (minute bucket, event_type). One shuffle, map-side partial agg.
    */
  def rollup1m(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(bucketCol("minute"), col("event_type"))
      .agg(
        round(sum(col("value")), 4).as("sum_v"),
        count(lit(1)).as("cnt"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("last_v"))
      .orderBy(col("bucket"), col("event_type"))

  /** Tiered re-aggregation 1m→1h (north_rule continuous aggregates): the 1h
    * tier is merged from unrounded 1m cells via TierRollup.mergeTier, proving
    * tier-merge semantics equal direct aggregation (the oracle aggregates raw).
    */
  def rollup1h(s: SparkSession, dir: String): DataFrame = {
    val t1m = TierRollup.fromObs(obs(s, dir), 60L)
    TierRollup.mergeTier(t1m, 3600L)
      .select(col("bucket"), col("series").as("event_type"),
        round(col("sum_v"), 4).as("sum_v"), col("cnt"), col("min_v"), col("max_v"), col("last_v"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** 1m→1h→1d full cascade, 1d tier out. */
  def rollup1d(s: SparkSession, dir: String): DataFrame = {
    val t1m = TierRollup.fromObs(obs(s, dir), 60L)
    val t1h = TierRollup.mergeTier(t1m, 3600L)
    TierRollup.mergeTier(t1h, 86400L)
      .select(col("bucket"), col("series").as("event_type"),
        round(col("sum_v"), 4).as("sum_v"), col("cnt"), col("min_v"), col("max_v"), col("last_v"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** Gap-fill over a 1-minute spine for day one (SURVEY §2.9): every
    * missing minute between a series' cells, LOCF fill of last_v.
    */
  def gapfillLocf(s: SparkSession, dir: String): DataFrame = {
    val dayOne = obs(s, dir).filter(col("ts") < lit(1704067200L + 86400L))
    val tier = TierRollup.fromObs(dayOne, 60L)
    TierRollup.gapFill(tier, 60L)
      .select(col("series").as("event_type"), col("bucket"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        col("is_gap"),
        col("last_v_filled"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** MetricNormalize absolute→delta/rate (SURVEY §2.3): hourly event counts
    * per type as the cumulative-ish signal; delta with counter-reset rule,
    * rate per second; first point per series → null.
    */
  def deltaRate(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .groupBy(col("event_type").as("series"), bucketCol("hour"))
      .agg(count(lit(1)).cast("double").as("last_v"))
    TierRollup.deltaRate(hourly)
      .select(col("series").as("event_type"), col("bucket"),
        col("last_v").as("cnt_v"), col("delta"), round(col("rate"), 6).as("rate"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** prometheus_exporter upsert: latest point per (event_type, user_id)
    * (SURVEY §2.1 sinks): deterministic last-write via (ts, event_id) order.
    */
  def latestPerSeries(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("last_v"),
        max(unix_timestamp(col("ts"))).as("last_ts_s"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("user_id"))

  /** Exporter TTL retention (SURVEY §2.9): keep only events within 7 days of
    * the table high-water mark, then latest per series.
    */
  def retentionTtl(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val hwm = e.agg(max(col("ts")).as("_hwm"))
    e.crossJoin(broadcast(hwm))
      .filter(col("ts") > col("_hwm") - expr("INTERVAL 7 DAYS"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_v"))
      .orderBy(col("event_type"))
  }

  /** Prometheus histogram semantics (SURVEY §1.2): cumulative le-buckets —
    * every bucket with value <= upper counts the observation
    * (/root/reference/lib/event/src/metric/mod.rs:53-61).
    */
  def histogramBuckets(s: SparkSession, dir: String): DataFrame = {
    val ladder = Seq(10.0, 50.0, 100.0, 250.0, 500.0)
    val buckets = ladder.map(b =>
      sum(when(col("value") <= b, 1L).otherwise(0L)).as(s"le_${b.toInt}"))
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(buckets.head, buckets.tail :+
        count(lit(1)).as("h_count") :+ round(sum(col("value")), 4).as("h_sum"): _*)
      .orderBy(col("event_type"))
  }

  /** metricalize path-extraction (SURVEY §2.3): pull the numeric `k` out of
    * the props JSON-ish string and aggregate it as a counter per type.
    */
  def metricalize(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("k", regexp_extract(col("props"), "([0-9]+)", 1).cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("k_sum"), count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("users"))
      .orderBy(col("event_type"))

  /** throttle (SURVEY §2.6): deterministic per-key-per-window rate limit —
    * first 5 events by (ts, event_id) per (event_type, day) pass.
    */
  def throttle(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("day", unix_timestamp(date_trunc("day", col("ts"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("kept"), round(sum(col("value")), 4).as("kept_sum"))
      .orderBy(col("event_type"))
  }

  /** q53: throttle with the reference's REAL admission semantics — GCRA
    * token bucket (/root/reference/src/transforms/throttle/mod.rs:84-174;
    * q10 is the per-window row_number analog): per event_type, a burst of 3
    * then one per 8 h steady (threshold=3, window=1 day), replayed over the
    * event_id<2000 slice in exact BIGINT µs so the DuckDB oracle's recursive
    * CTE reproduces the admission sequence bit-for-bit.
    */
  def throttleGcra(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).filter(col("event_id") < 2000)
    val admitted = graft.ops.Throttle.gcraAdmit(e, Seq("event_type"),
      unix_micros(col("ts").cast("timestamp")), col("event_id"),
      threshold = 3, windowMicros = 86400L * 1000000L)
    admitted.groupBy(col("event_type"))
      .agg(
        sum(when(col("admitted"), 1L).otherwise(0L)).as("admitted_cnt"),
        sum(when(!col("admitted"), 1L).otherwise(0L)).as("denied_cnt"),
        round(sum(when(col("admitted"), col("value"))), 4).as("admitted_sum"))
      .orderBy(col("event_type"))
  }

  /** sample (SURVEY §2.6): consistent 1-of-10 keyed passthrough. */
  def sample(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(pmod(col("event_id"), lit(10)) === 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_v"))
      .orderBy(col("event_type"))

  /** q54: sample, COUNTER mode — the reference's round-robin counter
    * (/root/reference/src/transforms/sample.rs:87-100: every Nth event in
    * arrival order passes, independent of any key) replayed deterministically
    * as every Nth rank in (ts, event_id) order. The global rank reuses the
    * remote-write two-level packing (Exporter.assignBatches with a constant
    * tenant and maxEvents=1 makes batch_id the zero-based rank): per-chunk
    * counts → cumulative offsets over a chunks-sized frame + a local
    * row_number — parallelism numChunks, never one global sort task. q11
    * stays the hash (key) mode.
    */
  def sampleCounter(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).withColumn("_all", lit("all"))
    graft.functions.Exporter.assignBatches(e, "_all", "ts", "event_id", maxEvents = 1,
      tsBounds = Some((1704067200000000L, 1706745600000000L))) // known Jan-2024 µs domain
      .filter(pmod(col("batch_id"), lit(20)) === 0) // ranks 1, 21, 41, …
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_v"))
      .orderBy(col("event_type"))
  }

  /** route (SURVEY §2.6): N predicate ports + _unmatched, non-exclusive in the
    * reference; here each event lands in its first matching route (CASE) so
    * the result is a partition — counts per port.
    */
  def route(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("port",
        when(col("event_type") === "error", "errors")
          .when(col("value") > 100, "high_value")
          .when(col("user_id") % 2 === 0, "even_users")
          .otherwise("_unmatched"))
      .groupBy(col("port"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("port"))

  /** route, NON-exclusive (SURVEY §2.5; reference route.rs:83-91 checks
    * every port's predicate independently — an event matching several ports
    * is delivered to ALL of them, unlike [[route]]'s exclusive-CASE
    * monitoring rollup). Runs through the actual Topology.Route component;
    * per-port totals with deliberately OVERLAPPING predicates, so the
    * multi-delivery semantics are what the oracle checks.
    */
  def routeMulti(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Topology
    val out = Topology.build(s, Seq(
      Topology.SourceParquet("ev", s"$dir/events.parquet"),
      Topology.Route("r", Seq("ev"), Seq(
        "errors" -> "event_type = 'error'",
        "high_value" -> "value > 100",
        "even_users" -> "user_id % 2 = 0"))))
    Seq("errors", "high_value", "even_users", "_unmatched").map { p =>
      out(s"r.$p").agg(count(lit(1)).as("cnt"))
        .select(lit(p).as("port"), col("cnt"))
    }.reduce(_ unionByName _).orderBy(col("port"))
  }

  /** q76 oracle: each port is an independent filter (events may count in
    * several); _unmatched = no port predicate holds (null-safe, like the
    * reference's falsy default).
    */
  val routeMultiOracle: String =
    """SELECT 'errors' AS port, count(*) AS cnt FROM events WHERE event_type = 'error'
      |UNION ALL
      |SELECT 'high_value' AS port, count(*) AS cnt FROM events WHERE value > 100
      |UNION ALL
      |SELECT 'even_users' AS port, count(*) AS cnt FROM events WHERE user_id % 2 = 0
      |UNION ALL
      |SELECT '_unmatched' AS port, count(*) AS cnt FROM events
      | WHERE NOT coalesce(event_type = 'error', false)
      |   AND NOT coalesce(value > 100, false)
      |   AND NOT coalesce(user_id % 2 = 0, false)
      |ORDER BY port""".stripMargin

  /** cardinality limiter's monitoring side (SURVEY §2.3): exact distinct tag
    * values per key; the enforcement path is the ScalaTest-covered variant.
    */
  def cardinality(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("distinct_users"),
        count(lit(1)).as("cnt"))
      .orderBy(col("event_type"))

  /** relabel tag-ops (SURVEY §2.2): Lowercase + Rename + HashMod(16). */
  def relabel(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("kind", upper(col("event_type"))) // Rename event_type->kind + Uppercase
      .withColumn("user_shard", pmod(col("user_id"), lit(16))) // HashMod
      .groupBy(col("kind"), col("user_shard"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("kind"), col("user_shard"))

  /** dedup (SURVEY §2.6): first occurrence per (user_id, event_type) passes. */
  def dedupFirst(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min_by(col("value"), struct(col("ts"), col("event_id"))).as("first_v"),
        min(unix_timestamp(col("ts"))).as("first_ts_s"))
      .orderBy(col("user_id"), col("event_type"))
}
