package perfbench

import graft.sources.TokenFixture
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. The benchmark generates them; the engine only receives the
  * frames. The token table has the input_hint shape (doc_id, tokens, n_tok,
  * source) with skewed sources (80% of rows on 2 of 8 sources), a long-tailed
  * n_tok in [16, 4096) and gaps (about 1 id in 17 is missing). The `tokens`
  * column is kept empty: the rollup path reads only doc_id, n_tok and source.
  */
object Inputs {
  val DaySec = 86400L
  val Sources = 8

  /** Token table for ids [0, n); `day` = id / perDay. */
  def tokenTable(spark: SparkSession, seed: Long, n: Long, perDay: Long): DataFrame = {
    def h(salt: Long) = xxhash64(col("id"), lit(seed * 1000003L + salt))
    val u = pmod(h(1), lit(1L << 30)).cast("double") / (1L << 30).toDouble
    spark.range(n)
      .filter(pmod(h(4), lit(17L)) =!= 0)
      .select(
        format_string("doc-%012d", col("id")).as("doc_id"),
        array().cast("array<int>").as("tokens"),
        (lit(15.0) + floor(pow(lit(4080.0), u))).cast("int").as("n_tok"),
        concat(lit("src"), when(pmod(h(2), lit(10L)) < 8, pmod(h(3), lit(2L)))
          .otherwise(pmod(h(3), lit(Sources.toLong)))).as("source"),
        (col("id") / perDay).cast("int").as("day"))
  }

  /** Observations of one day: `TokenFixture.deriveObs` over that day's
    * tokens, with event time spread over the day by a seeded hash.
    */
  def dayObs(tokens: DataFrame, seed: Long, day: Int): DataFrame =
    TokenFixture.deriveObs(tokens.filter(col("day") === day).drop("day"))
      .select(col("series"),
        (lit(TokenFixture.BaseTs + day * DaySec) +
          pmod(xxhash64(col("seq"), lit(seed + 5)), lit(DaySec))).as("ts"),
        col("seq"), col("value"))

  def dayStr(day: Int): String =
    java.time.LocalDate.ofEpochDay((TokenFixture.BaseTs + day * DaySec) / DaySec)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
}

/** What a correct lake must show for one day: computed from the generated
  * observations with plain Spark aggregates, not with the engine.
  */
final case class DayExpect(seqs: Long, cells1h: Long, spine: Long, parts: Set[String],
    presentSeries: Set[String])

object Expect {
  /** Expectations per day and the three series the dashboard watches
    * (picked by a seeded hash), from one aggregate over the observations.
    */
  def perDay(obs: DataFrame, seed: Long, buckets: Int): (Map[Int, DayExpect], Seq[String]) = {
    val rows = obs
      .withColumn("day", (floor(col("ts") / Inputs.DaySec) -
        TokenFixture.BaseTs / Inputs.DaySec).cast("int"))
      .groupBy("day", "series")
      .agg(count(lit(1)), count_distinct(floor(col("ts") / 3600)),
        (max(floor(col("ts") / 60)) - min(floor(col("ts") / 60)) + 1).cast("long"))
      .select(col("*"), pmod(xxhash64(col("series")), lit(buckets.toLong)),
        xxhash64(col("series"), lit(seed)))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    val watched = rows.map(r => r._7 -> r._2).distinct.sorted.take(3).map(_._2).toSeq.sorted
    val expect = rows.groupBy(_._1).map { case (d, rs) =>
      val mine = rs.filter(r => watched.contains(r._2))
      d -> DayExpect(rs.map(_._3).sum, rs.map(_._4).sum, mine.map(_._5).sum,
        rs.map(r => s"${r._6}-${Inputs.dayStr(d)}").toSet, mine.map(_._2).toSet)
    }
    (expect, watched)
  }

  /** Digest of the 1d tier computed straight from the observations. */
  def tier1dOracle(obs: DataFrame): String = Lake.digest(
    obs.groupBy(col("series"), (floor(col("ts") / Inputs.DaySec) * Inputs.DaySec).cast("long").as("bucket"))
      .agg(sum("value").as("sum_v"), count(lit(1)).as("cnt"), min("value").as("min_v"),
        max("value").as("max_v"), max_by(col("value"), struct(col("ts"), col("seq"))).as("last_v")))
}
