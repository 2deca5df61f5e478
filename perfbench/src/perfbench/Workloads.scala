package perfbench

import graft.compress.GorillaCodec
import graft.functions.Pages
import graft.lake.LakeTable
import graft.model.Schemas
import graft.tiers.{TierCascade, TierRollup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A workload: seeded inputs, a warm-up, then closed-loop iterations (one
  * client) until the measured seconds are used up.
  */
abstract class Workload(val b: Bench) {
  /** Sequences handed to one `TierCascade.run`. */
  def batchSeqs: Long
  /** Generate and write the seeded inputs (timed as `sources.gen_s`). */
  def generate(): Unit
  /** Compute what the outputs must be; not part of any timing. It runs after
    * `warmUp`, so that its Spark jobs do not run on cold code.
    */
  def prepare(): Unit
  /** Every observation the loop commits. */
  protected def allObs: DataFrame
  /** Iterations the loop runs even when the seconds are used up. */
  def minIterations: Int
  /** One iteration of the closed loop: one batch and its dashboard refreshes. */
  def iteration(i: Int): Unit
  /** Output checks that need Spark jobs, run once after the loop. */
  def finish(): Unit = ()
  /** Lake and observations the decomposition pass runs on. */
  def decompositionInput: (String, DataFrame)
  /** One batch as the baseline session should see it. */
  def baselineObs(spark: org.apache.spark.sql.SparkSession): DataFrame

  protected val warmLake = s"${b.runDir}/warmup-lake"
  private lazy val quarter = allObs.filter(pmod(xxhash64(col("seq")), lit(4L)) === 0)

  /** The engine alone: the cascade of a quarter of the observations into a
    * scratch lake. The first run of each Spark job is slow on cold code
    * whatever its size.
    */
  def warmUp(): Unit = b.cascade(quarter, warmLake)

  /** One refresh of the scratch lake, checked against the quarter's own
    * expectations; the lake is then deleted.
    */
  def warmUpReads(): Unit = {
    val (perDay, w) = Expect.perDay(quarter, b.seed, b.SeriesBuckets)
    refresh(new Dashboard(b, warmLake, w), 0, perDay(0), perDay.values.map(_.presentSeries.size).sum)
    Lake.delete(warmLake)
  }

  protected def refresh(dash: Dashboard, day: Int, e: DayExpect, history: Int): Unit =
    b.operation(s"read day $day") {
      val (problems, wall) = b.clock(dash.refresh(day, e, history))
      if (problems.isEmpty) b.sample("read_ms", wall * 1e3)
      problems
    }

  /** Each kernel of the cascade on its own, into the noop sink: the fused 1m
    * rollup and the pages over `obs`, the two merges over `lake`'s tiers.
    */
  protected def kernels(lake: String, obs: DataFrame): Seq[(String, () => Unit)] = {
    val ladder = Schemas.bucketLadder
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def read(t: String) = b.table(lake, t).read().drop("pk")
    Seq(
      "tiers.fused_1m_s" -> (() => noop(TierRollup.fromObsWithHistogram(obs, ladder, 60L))),
      "tiers.merge_1h_s" -> { () =>
        noop(TierRollup.mergeTier(read("tier_1m"), 3600L))
        noop(TierRollup.mergeHistogramTier(read("hist_1m"), ladder.length, 3600L))
      },
      "tiers.merge_1d_s" -> { () =>
        noop(TierRollup.mergeTier(read("tier_1h"), 86400L))
        noop(TierRollup.mergeHistogramTier(read("hist_1h"), ladder.length, 86400L))
      },
      "functions.pages_s" -> (() => noop(Pages.pagesFromObs(obs, 3600L))))
  }

  /** Traced only: each engine function of the cascade called on its own. */
  def decompose(): Unit = {
    val (lake, obs) = decompositionInput
    val spark = b.spark
    val census = Lake.snapshot(lake)
    b.layer("lake.partitions") = census.values.map(_.size).sum.toDouble
    b.layer("lake.files") = census.values.flatMap(_.values).map(_.files).sum.toDouble
    Lake.Tables.foreach(t => b.layer(s"lake.bytes.$t") = census(t).values.map(_.bytes).sum.toDouble)
    b.span("decomposition") {
      kernels(lake, obs).foreach { case (name, run) => b.layer(name) = b.clock(b.span(name)(run()))._2 }
      val scratch = s"${b.runDir}/decomposition-lake"
      b.span("lake.append")(new LakeTable(spark, scratch, "tier_1m", "pk").append(
        TierRollup.fromObs(obs, 60L).withColumn("pk", TierCascade.partKey(b.SeriesBuckets)),
        lineage = "benchmark decomposition"))
      Lake.delete(scratch)
    }
    codec(lake)
  }

  /** GorillaCodec on the workload's own pages, on the driver. */
  private def codec(lake: String): Unit = {
    val pages = b.table(lake, "pages_1h").read().select("page").collect().map(_.getAs[Array[Byte]](0))
    val decoded = pages.map(GorillaCodec.decode)
    val points = decoded.map(_._1.length.toLong).sum
    def nsPerPoint(body: => Unit): Double = {
      body // first pass warms the JIT
      var reps = 0
      val t0 = System.nanoTime()
      while (reps < 3 || System.nanoTime() - t0 < 200000000L) { body; reps += 1 }
      (System.nanoTime() - t0).toDouble / reps / points
    }
    var sink = 0L
    b.layer("compress.encode_ns_per_point") =
      nsPerPoint(decoded.foreach { case (ts, vs) => sink += GorillaCodec.encode(ts, vs).length })
    b.layer("compress.decode_ns_per_point") =
      nsPerPoint(pages.foreach(p => sink += GorillaCodec.decode(p)._1.length))
    b.layer("compress.bytes_per_point") = pages.map(_.length.toLong).sum.toDouble / points
    b.info("codec_sink") = sink
  }
}

/** `cascade`: one large day through one `TierCascade.run` into a fresh lake per
  * iteration, then one dashboard refresh. The tier contents of the last lake
  * of the loop are checked after the loop.
  */
final class CascadeWorkload(b: Bench, seqs: Long) extends Workload(b) {
  private val inputDir = s"${b.runDir}/input/tokens"
  private def obsOf(spark: org.apache.spark.sql.SparkSession) =
    Inputs.dayObs(spark.read.parquet(inputDir), b.seed, 0)
  private lazy val obs = obsOf(b.spark)
  protected def allObs: DataFrame = obs
  private var expect: DayExpect = _
  private var watched: Seq[String] = Nil
  private var oracle1d = ""
  private var lastLake = ""

  def batchSeqs: Long = expect.seqs
  def generate(): Unit =
    Inputs.tokenTable(b.spark, b.seed, seqs, seqs).write.mode("overwrite").parquet(inputDir)

  def prepare(): Unit = {
    val (perDay, w) = Expect.perDay(obs, b.seed, b.SeriesBuckets)
    expect = perDay(0)
    watched = w
    oracle1d = Expect.tier1dOracle(obs)
    b.info("seqs_per_batch") = expect.seqs
  }

  /** Σcnt agrees across the sum tiers and hist_1d and equals the sequence
    * count; the pages hold every point and all round-trip; the 1d tier
    * matches the digest computed from the observations.
    */
  private def check(lake: String): Seq[String] = {
    val cnt = Seq("tier_1m", "tier_1h", "tier_1d").map(t =>
      t -> b.table(lake, t).read().agg(sum("cnt")).head.getLong(0)) :+
      ("hist_1d" -> b.table(lake, "hist_1d").read().agg(sum("h_count")).head.getLong(0))
    val pages = b.table(lake, "pages_1h").read()
      .agg(sum("n_points"), min(col("roundtrip_ok").cast("int"))).head
    val digest = Lake.digest(b.table(lake, "tier_1d").read())
    b.info("tier_1d_digest") = digest
    cnt.collect { case (t, n) if n != expect.seqs => s"$t: sum(cnt) $n != ${expect.seqs}" } ++
      (if (pages.getLong(0) != expect.seqs || pages.getInt(1) != 1)
        Seq(s"pages_1h: ${pages.get(0)} points, roundtrip ${pages.get(1)}") else Nil) ++
      (if (digest != oracle1d) Seq(s"tier_1d digest $digest != oracle $oracle1d") else Nil)
  }

  /** Then each kernel on its own over the whole batch: batch walls level off
    * only once C2 has compiled the hot loops of about two batches, and the
    * kernels give it one without paying the per-commit floor again.
    */
  override def warmUp(): Unit = {
    super.warmUp()
    kernels(warmLake, obs).foreach(_._2())
  }

  /** Two, so that every run measures the same batches: one batch takes about
    * as long as `run_seconds`, and a time limit alone would measure one batch
    * in some runs and two in others.
    */
  def minIterations: Int = 2

  def iteration(i: Int): Unit = {
    lastLake = s"${b.runDir}/lake-$i"
    b.beginBatch()
    b.operation("cascade")(b.commit(lastLake, obs, 0, expect))
    refresh(new Dashboard(b, lastLake, watched), 0, expect, expect.presentSeries.size)
  }

  override def finish(): Unit = b.operation("cascade output check")(check(lastLake))

  def decompositionInput: (String, DataFrame) = (lastLake, obs)
  def baselineObs(spark: org.apache.spark.sql.SparkSession): DataFrame = obsOf(spark)
}

/** `incremental`: days appended one by one into one lake, each followed by
  * the retention sweep and two dashboard refreshes. After `days` days the lake
  * is set aside and the next day starts a new lake, so the loop sees the same
  * sequence of lake sizes over and over.
  */
final class IncrementalWorkload(b: Bench, perDay: Long, days: Int) extends Workload(b) {
  private val inputDir = s"${b.runDir}/input/tokens"
  private lazy val tokens = b.spark.read.parquet(inputDir)
  private lazy val allDays = (0 until days).map(Inputs.dayObs(tokens, b.seed, _)).reduce(_ union _)
  protected def allObs: DataFrame = allDays
  private var expect: Map[Int, DayExpect] = Map.empty
  private var watched: Seq[String] = Nil
  private var lake = ""
  private var fullLake = "" // the last lake that received all `days` days
  private var history = 0

  def batchSeqs: Long = expect(0).seqs
  def generate(): Unit =
    Inputs.tokenTable(b.spark, b.seed, perDay * days, perDay)
      .write.mode("overwrite").partitionBy("day").parquet(inputDir)

  def prepare(): Unit = {
    val (perDay, w) = Expect.perDay(allDays, b.seed, b.SeriesBuckets)
    expect = perDay
    watched = w
    b.info("seqs_per_batch") = expect.values.map(_.seqs).sum / days
  }

  private def day(lakeDir: String, d: Int): Unit = {
    val e = expect(d)
    if (d == 0) history = 0
    b.beginBatch()
    b.operation(s"commit day $d")(b.commit(lakeDir, Inputs.dayObs(tokens, b.seed, d), d, e))
    history += e.presentSeries.size
    val dash = new Dashboard(b, lakeDir, watched)
    for (_ <- 0 until 2) refresh(dash, d, e, history)
  }

  def minIterations: Int = days

  def iteration(i: Int): Unit = {
    val d = i % days
    if (d == 0) lake = s"${b.runDir}/lake-${i / days}"
    day(lake, d)
    if (d == days - 1) fullLake = lake
  }

  def decompositionInput: (String, DataFrame) =
    (fullLake, Inputs.dayObs(tokens, b.seed, days - 1))
  def baselineObs(spark: org.apache.spark.sql.SparkSession): DataFrame =
    Inputs.dayObs(spark.read.parquet(inputDir), b.seed, 0)
}
