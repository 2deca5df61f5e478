package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic token-sequence table (FIXTURES.md §1; BASELINE.json
  * input_hint shape). Seed=42, generated entirely with Catalyst expressions
  * (spark.range + xxhash64 + sequence/transform) so generation is distributed,
  * codegen'd, and reproducible across runs and parallelism levels — the
  * static_metrics / generate source analog
  * (/root/reference/src/sources/static_metrics.rs:30-60,
  *  /root/reference/src/sources/generate.rs).
  */
object TokenFixture {

  val Seed = 42L
  val BaseTs = 1704067200L // 2024-01-01T00:00:00Z

  /** @param n       row count
    * @param sources number of distinct `source` values
    * @param skewed  Zipf-ish source skew: ~80% of rows land on 2 sources
    *                (exercises salted rollup, FIXTURES.md §1)
    * @param maxExtraTok n_tok ∈ [16, 16+maxExtraTok)
    * @param withGaps drop i where hash(i)%17==0 (exercises gap-fill)
    * @param withTokens materialize the tokens array (skip for rollup-only
    *                   benches; schema keeps the column with empty arrays off)
    * @param fastTokens generate token arrays with a splitmix64 JVM loop (UDF)
    *                   instead of the xxhash64 Catalyst expression — ~40×
    *                   faster at bench scale because higher-order functions
    *                   are interpreted; still fully deterministic (seed=42)
    */
  def tokenTable(
      spark: SparkSession,
      n: Long,
      sources: Int = 8,
      skewed: Boolean = false,
      maxExtraTok: Int = 4080,
      vocab: Int = 50257,
      withGaps: Boolean = false,
      withTokens: Boolean = true,
      fastTokens: Boolean = false): DataFrame = {
    val base = spark.range(n)
      .withColumn("_h", xxhash64(col("id"), lit(Seed)))
      .withColumn("doc_id", format_string("doc-%012d", col("id")))
      .withColumn("n_tok",
        (lit(16) + pmod(xxhash64(col("id"), lit(Seed + 1)), lit(maxExtraTok.toLong))).cast("int"))
    val withSource =
      if (skewed)
        base.withColumn("source",
          when(pmod(col("_h"), lit(10L)) < 8,
            concat(lit("src"), pmod(xxhash64(col("id"), lit(Seed + 2)), lit(2L))))
            .otherwise(concat(lit("src"),
              pmod(xxhash64(col("id"), lit(Seed + 2)), lit(sources.toLong)))))
      else
        base.withColumn("source",
          concat(lit("src"), pmod(xxhash64(col("id"), lit(Seed + 2)), lit(sources.toLong))))
    val withTok =
      if (withTokens && fastTokens) {
        val gen = udf { (id: Long, n: Int) =>
          var x = id * -7046029254386353131L + Seed // splitmix64 stream per row
          Array.fill(n) {
            x += -7046029254386353131L
            var z = x
            z = (z ^ (z >>> 30)) * -4658895280553007687L
            z = (z ^ (z >>> 27)) * -7723592293110705685L
            z ^= z >>> 31
            java.lang.Math.floorMod(z, vocab.toLong).toInt
          }
        }
        withSource.withColumn("tokens", gen(col("id"), col("n_tok")))
      } else if (withTokens)
        withSource.withColumn("tokens",
          transform(sequence(lit(1), col("n_tok")),
            j => pmod(xxhash64(col("id"), j, lit(Seed + 3)), lit(vocab.toLong)).cast("int")))
      else withSource.withColumn("tokens", array().cast("array<int>"))
    val gapped =
      if (withGaps) withTok.filter(pmod(xxhash64(col("id"), lit(Seed + 4)), lit(17L)) =!= 0)
      else withTok
    gapped.select(col("doc_id"), col("tokens"), col("n_tok"), col("source"), col("id").as("_i"))
  }

  /** Derive metric observations from a token table (FIXTURES.md §1 derived
    * columns): series = source # hash-bucket(doc_id)%256 (the
    * MetricSeries{name,tags} analog, /root/reference/lib/event/src/metric/mod.rs:67-71),
    * event time = BaseTs + (i % 86400) s, value = n_tok, seq = the numeric
    * doc index (unique, deterministic tiebreak).
    */
  def deriveObs(tokenTable: DataFrame, seriesBuckets: Int = 256): DataFrame = {
    val idx = substring(col("doc_id"), 5, 12).cast("long")
    tokenTable
      .withColumn("seq", idx)
      .withColumn("series",
        concat(col("source"), lit("#"), pmod(xxhash64(col("doc_id")), lit(seriesBuckets.toLong))))
      .withColumn("ts", lit(BaseTs) + pmod(col("seq"), lit(86400L)))
      .withColumn("value", col("n_tok").cast("double"))
      .select(col("series"), col("ts"), col("seq"), col("value"),
        col("doc_id"), col("tokens"), col("n_tok"), col("source"))
  }
}
