package graft.tiers

import graft.lake.LakeTable
import java.util.concurrent.{Callable, Executors, Future}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The continuous-aggregate cascade: raw observations → 1m → 1h → 1d tier
  * tables, each materialized in the lake layer with per-partition manifests so
  * any rerun resumes from the last committed partition (north_rule;
  * SURVEY.md §7.2/§7.3).
  *
  * Partition key = "seriesBucket-day": bucketed series-hash × time, per the
  * north rule's partitioning clause. Each tier reads only the committed
  * partitions of the previous tier, so a torn write never propagates.
  */
object TierCascade {

  final case class TierResult(name: String, table: LakeTable, newPartitions: Seq[String])

  def partKey(seriesBuckets: Int): org.apache.spark.sql.Column =
    concat(
      pmod(xxhash64(col("series")), lit(seriesBuckets.toLong)).cast("string"),
      lit("-"),
      date_format(to_utc_timestamp(timestamp_seconds(col("bucket")), "UTC"), "yyyyMMdd"))

  /** Run the full cascade. `obs` must provide (series, ts, seq, value).
    * @param salts >1 enables the two-phase salted rollup for hot series.
    * @param withHistograms also materialize cumulative-bucket histogram tiers
    *        (1m from raw, 1h/1d by element-wise bucket merge) — the vertex
    *        Histogram rollup (north_star "histogram/summary rollups").
    * @param withPages also materialize Gorilla delta-of-delta+XOR binary
    *        pages per (series, hour), resumable like every other tier.
    */
  def run(
      spark: SparkSession,
      obs: DataFrame,
      basePath: String,
      seriesBuckets: Int = 8,
      salts: Int = 1,
      withHistograms: Boolean = false,
      withPages: Boolean = false): Seq[TierResult] = {
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[cascade] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val ladder = graft.model.Schemas.bucketLadder

    def step(name: String, table: String, tag: String, frame: DataFrame,
        lineage: String): TierResult = {
      val lake = new LakeTable(spark, basePath, table, "pk")
      TierResult(name, lake, timed(tag)(
        lake.append(frame.withColumn("pk", partKey(seriesBuckets)), lineage)))
    }

    // The three chains — sum tiers (raw→1m→1h→1d), histogram tiers
    // (raw→hist_1m→1h→1d) and Gorilla pages (raw→pages_1h) — have no data
    // dependencies on each other, so they materialize CONCURRENTLY from
    // driver threads (Spark schedules jobs from multiple threads on one
    // session): independent sinks overlap each other's driver-side commit
    // phases and keep executors busy end to end. Order within a chain is
    // preserved (each tier reads only the previous tier's committed
    // partitions).
    //
    // FUSED 1m stage: the sum and histogram 1m tiers group by the SAME
    // (series, bucket-60s) key, so when both are requested (and the
    // unsalted single-phase plan applies) ONE fused aggregate produces both.
    // It is persisted — tier-1m cardinality, MEMORY_AND_DISK — and
    // materialized on the calling thread BEFORE the sum/hist chains launch,
    // so both 1m writes read the cache instead of racing to recompute it,
    // but AFTER the pages chain is launched: pages never reads it, and the
    // fused aggregate is the cascade's one serial stage (BENCH.md round 5
    // measured it at 29–54% of the high-parallelism wall), so the pages
    // scan+shuffle overlaps it. The consuming chains take the fused frame
    // as a parameter, bound once on the calling thread.
    def sumChain(fused1m: Option[DataFrame]): Seq[TierResult] = {
      val raw1m = fused1m.map(TierRollup.tierColumns).getOrElse(
        if (salts > 1) TierRollup.fromObsSalted(obs, 60L, salts) else TierRollup.fromObs(obs, 60L))
      val t1m = step("1m", "tier_1m", "raw->1m", raw1m, "raw->1m rollup bucket=60s")
      val t1h = step("1h", "tier_1h", "1m->1h",
        TierRollup.mergeTier(t1m.table.read().drop("pk"), 3600L), "1m->1h mergeTier bucket=3600s")
      val t1d = step("1d", "tier_1d", "1h->1d",
        TierRollup.mergeTier(t1h.table.read().drop("pk"), 86400L), "1h->1d mergeTier bucket=86400s")
      Seq(t1m, t1h, t1d)
    }

    def histChain(fused1m: Option[DataFrame]): Seq[TierResult] = {
      def merge(finer: TierResult, bucketSec: Long): DataFrame =
        TierRollup.mergeHistogramTier(finer.table.read().drop("pk"), ladder.length, bucketSec)
      val raw1m = fused1m.map(TierRollup.histColumns)
        .getOrElse(TierRollup.histogramFromObs(obs, ladder, 60L))
      val h1m = step("hist_1m", "hist_1m", "raw->hist_1m", raw1m, "raw->hist_1m cumulative ladder")
      val h1h = step("hist_1h", "hist_1h", "hist_1m->1h", merge(h1m, 3600L),
        "hist_1m->hist_1h bucket merge")
      val h1d = step("hist_1d", "hist_1d", "hist_1h->1d", merge(h1h, 86400L),
        "hist_1h->hist_1d bucket merge")
      Seq(h1m, h1h, h1d)
    }

    def pagesChain(): Seq[TierResult] =
      Seq(step("pages_1h", "pages_1h", "raw->pages_1h",
        graft.functions.Pages.pagesFromObs(obs, 3600L), "raw->pages_1h gorilla dod+xor"))

    val pool = Executors.newFixedThreadPool(
      1 + (if (withHistograms) 1 else 0) + (if (withPages) 1 else 0))
    val submitted = mutable.Buffer.empty[Future[Seq[TierResult]]]
    def submit(chain: => Seq[TierResult]): Future[Seq[TierResult]] = {
      val f = pool.submit(new Callable[Seq[TierResult]] { def call(): Seq[TierResult] = chain })
      submitted += f
      f
    }
    var fused: Option[DataFrame] = None
    try {
      val pagesF = if (withPages) Some(submit(pagesChain())) else None
      fused = if (withHistograms && salts == 1)
        Some(TierRollup.fromObsWithHistogram(obs, ladder, 60L).persist())
      else None
      fused.foreach(f => timed("raw->1m/hist_1m fused agg")(f.count()))
      val fused1m = fused
      val sumF = submit(sumChain(fused1m))
      val histF = if (withHistograms) Some(submit(histChain(fused1m))) else None
      (Seq(sumF) ++ histF ++ pagesF).flatMap(_.get())
    } catch {
      // a failure on the calling thread (e.g. the fused materialize) or in
      // one chain must not abandon in-flight sibling futures: cancel what
      // hasn't started, drain what has (their exceptions are secondary —
      // the first failure propagates), so the finally below releases the
      // fused persist only once no chain can still read it.
      case t: Throwable =>
        submitted.foreach(_.cancel(false))
        submitted.foreach(f => try f.get() catch { case _: Throwable => () })
        throw t
    } finally {
      pool.shutdown()
      fused.foreach(_.unpersist(blocking = false))
    }
  }

  /** Retention sweep: per-tier TTLs (seconds of bucket age vs the tier's
    * high-water mark), enforced as partition-level expire (day granularity —
    * a partition is dropped when its whole day is past TTL).
    */
  def retention(results: Seq[TierResult], ttls: Map[String, Long]): Map[String, Seq[String]] = {
    results.flatMap { tr =>
      ttls.get(tr.name).map { ttl =>
        val committed = tr.table.committedPartitions()
        if (committed.isEmpty) tr.name -> Seq.empty[String]
        else {
          def dayOf(p: String): Long = {
            val d = p.substring(p.indexOf('-') + 1)
            java.time.LocalDate.parse(d, java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
              .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
          }
          val hwm = committed.map(dayOf).max
          tr.name -> tr.table.expire(p => dayOf(p) + 86400 <= hwm - ttl)
        }
      }
    }.toMap
  }
}
