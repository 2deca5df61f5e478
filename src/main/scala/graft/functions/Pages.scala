package graft.functions

import graft.compress.GorillaCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Compressed (series, bucket) pages: delta-of-delta + Gorilla XOR bits packed
  * into a BinaryType column (north_rule; SURVEY.md §2.9 / §7.3).
  */
object Pages {

  final case class PageRow(series: String, bucket: Long, n_points: Int,
      page: Array[Byte], roundtrip_ok: Boolean)

  /** obs (series, ts, seq, value) → one compressed page per (series, bucket).
    *
    * Streaming formulation: hash-repartition on (series, bucket), sort within
    * partitions, then a single forward pass groups consecutive keys and
    * encodes each page. Memory is bounded by ONE page per task — the
    * collect_list formulation materialized every group as an array struct
    * (~16M rows at bench scale), which was GC-bound and did not scale with
    * cores (measured 11.1s→9.9s from local[8]→local[32]; this path scales).
    */
  def pagesFromObs(obs: DataFrame, bucketSec: Long): DataFrame = {
    val spark = obs.sparkSession
    import spark.implicits._
    val parted = obs.select(col("series"),
        (floor(col("ts") / bucketSec) * bucketSec).cast("long").as("bucket"),
        col("ts"), col("seq"), col("value"))
      .repartition(col("series"), col("bucket"))
      .sortWithinPartitions("series", "bucket", "ts", "seq")
      .as[(String, Long, Long, Long, Double)]
    parted.mapPartitions { it =>
      new Iterator[PageRow] {
        private var pending: (String, Long, Long, Long, Double) =
          if (it.hasNext) it.next() else null
        def hasNext: Boolean = pending != null
        def next(): PageRow = {
          val series = pending._1
          val bucket = pending._2
          val tsBuf = scala.collection.mutable.ArrayBuilder.make[Long]
          val vsBuf = scala.collection.mutable.ArrayBuilder.make[Double]
          while (pending != null && pending._1 == series && pending._2 == bucket) {
            tsBuf += pending._3
            vsBuf += pending._5
            pending = if (it.hasNext) it.next() else null
          }
          val ts = tsBuf.result()
          val vs = vsBuf.result()
          val page = GorillaCodec.encode(ts, vs)
          val (ts2, vs2) = GorillaCodec.decode(page)
          val ok = ts2.sameElements(ts) && vs2.length == vs.length &&
            vs.indices.forall(i => java.lang.Double.doubleToRawLongBits(vs2(i)) ==
              java.lang.Double.doubleToRawLongBits(vs(i)))
          PageRow(series, bucket, ts.length, page, ok)
        }
      }
    }.toDF()
  }

  final case class PageCensusRow(n_dec: Int, ts_lo: Long, ts_hi: Long, sum_v: Double)

  private val censusUdf = udf { (page: Array[Byte]) =>
    val (ts, vs) = GorillaCodec.decode(page)
    PageCensusRow(ts.length,
      if (ts.isEmpty) 0L else ts.head, if (ts.isEmpty) 0L else ts.last, vs.sum)
  }

  /** Decoded-roundtrip census: every page is DECODED BACK and summarized as
    * (n_points, ts span, rounded value sum) per (series, bucket) — numbers an
    * engine with no Gorilla codec can recompute from the raw observations, so
    * the compression path gets a hard cross-engine oracle (the encoder's own
    * `roundtrip_ok` flag additionally cross-checks point counts).
    */
  def pageCensus(pages: DataFrame): DataFrame =
    pages.select(col("series"), col("bucket"),
      censusUdf(col("page")).as("_c"), col("n_points"), col("roundtrip_ok"))
      .select(col("series"), col("bucket"),
        col("_c.n_dec").cast("long").as("n_points"),
        col("_c.ts_lo").as("ts_lo"), col("_c.ts_hi").as("ts_hi"),
        round(col("_c.sum_v"), 4).as("sum_v"),
        (col("roundtrip_ok") && col("_c.n_dec") === col("n_points")).as("roundtrip_ok"))
}
