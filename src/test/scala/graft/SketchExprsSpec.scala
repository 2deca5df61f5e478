package graft

import graft.expressions.{SketchExprs, VectorExprs}
import graft.ops.Dedup
import graft.ref.RefExprs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity pins for the native codegen'd sketch expressions
  * (graft_minhash_sig, graft_simhash) against the JVM-UDF reference forms
  * they replaced (RefExprs.minhashSignatureUdf / RefExprs.simhashVotesUdf). The
  * swap under the q27/q28 jaccard oracles and the q29 hamming pairs is
  * licensed ONLY by these tests: signatures must match element-for-element
  * in both codegen and interpreted evaluation modes — the 64-bit wrapping
  * multiply-add and the ±1 vote fold leave no tolerance.
  */
class SketchExprsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def withFactoryMode[A](mode: String)(f: => A): A = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, mode)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Deterministic hash arrays: varied lengths (incl. empty), full 64-bit
    * range including Long.MinValue/MaxValue — the adversarial shapes for
    * wrapping multiply-add order.
    */
  private def hashFrames(n: Int): DataFrame = {
    val rnd = new scala.util.Random(13L)
    val rows = (0L until n.toLong).map { i =>
      val len = (i % 17).toInt
      val hs = Array.fill(len)(rnd.nextLong())
      if (i % 13 == 0 && len > 1) { hs(0) = Long.MaxValue; hs(1) = Long.MinValue }
      (i, hs.toSeq)
    }
    rows.toDF("id", "hs")
  }

  test("graft_minhash_sig matches the UDF loop element-for-element (codegen and interpreted)") {
    val df = hashFrames(300)
    for (numPerm <- Seq(16, 64); mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
      withFactoryMode(mode) {
        val rows = df.select(
          Dedup.minhashSignatureFromHashes(col("hs"), numPerm).as("native"),
          RefExprs.minhashSignatureUdf(col("hs"), numPerm).as("udf")).collect()
        assert(rows.length == 300)
        rows.foreach { r =>
          assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"[$mode perms=$numPerm] $r")
        }
      }
  }

  test("graft_minhash_sig: empty array gives the all-MaxValue init; null input gives null") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1, array(cast(7 as bigint))),
        |  (2, cast(array() as array<bigint>)),
        |  (3, cast(null as array<bigint>))
        |  AS t(id, hs)""".stripMargin)
    val rows = df.select(col("id"),
      Dedup.minhashSignatureFromHashes(col("hs"), 8).as("sig")).orderBy("id").collect()
    assert(rows(1).getSeq[Long](1) == Seq.fill(8)(Long.MaxValue))
    assert(rows(2).isNullAt(1))
    // a null ELEMENT returns null instead of the UDF's mid-task NPE —
    // the documented defensive upgrade
    val withNullElem = spark.sql(
      "SELECT array(cast(1 as bigint), cast(null as bigint)) AS hs")
    assert(withNullElem.select(
      Dedup.minhashSignatureFromHashes(col("hs"), 8)).head().isNullAt(0))
  }

  test("graft_simhash matches the UDF vote loop (codegen and interpreted)") {
    val df = hashFrames(300)
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) withFactoryMode(mode) {
      val rows = df.select(
        RefExprs.simhashVotesUdf(col("hs")).as("udf"),
        org.apache.spark.sql.GraftColumnBridge.column(
          SketchExprs.SimHashVotes(
            org.apache.spark.sql.GraftColumnBridge.expression(col("hs"))))
          .as("native")).collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"[$mode] $r"))
    }
  }

  test("graft_simhash: empty array is 0L (ties vote negative); null input is null") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1, cast(array() as array<bigint>)),
        |  (2, cast(null as array<bigint>)),
        |  (3, array(cast(-1 as bigint)))
        |  AS t(id, hs)""".stripMargin)
    val rows = df.select(col("id"),
      org.apache.spark.sql.GraftColumnBridge.column(
        SketchExprs.SimHashVotes(
          org.apache.spark.sql.GraftColumnBridge.expression(col("hs"))))
        .as("sim")).orderBy("id").collect()
    assert(rows(0).getLong(1) == 0L)
    assert(rows(1).isNullAt(1))
    assert(rows(2).getLong(1) == -1L) // all 64 bits voted +1
  }

  test("simhash64 end-to-end matches the pre-swap text pipeline") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different text with other words entirely"),
      (4L, "a"),
      (5L, "")
    ).toDF("doc_id", "text")
    val rows = corpus.select(col("doc_id"),
      Dedup.simhash64(col("text")).as("native"),
      RefExprs.simhashVotesUdf(transform(split(col("text"), " "), w => xxhash64(w)))
        .as("udf")).collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), r.toString))
  }

  test("SQL surface: graft_minhash_sig and graft_simhash resolve by name") {
    VectorExprs.ensure(spark)
    val r = spark.sql(
      """SELECT graft_minhash_sig(array(5L), array(3L, -7L), array(10L, 20L)) AS sig,
        |       graft_simhash(array(0L)) AS sim""".stripMargin).head()
    assert(r.getSeq[Long](0) == Seq(3L * 5L + 10L, -7L * 5L + 20L))
    assert(r.getLong(1) == 0L)
  }

  test("builders reject bad arity and non-foldable constants") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val mhBuilder = SketchExprs.entries.head._3
    intercept[IllegalArgumentException] { mhBuilder(Seq(Literal(1))) }
    val shBuilder = SketchExprs.entries(1)._3
    intercept[IllegalArgumentException] { shBuilder(Seq(Literal(1), Literal(2))) }
  }

  test("whole-stage codegen keeps the sketch expressions inside the generated stage") {
    val df = spark.range(50)
      .select(transform(sequence(lit(1), lit(5)),
        j => (col("id") * j).cast("long")).as("hs"))
      .select(Dedup.minhashSignatureFromHashes(col("hs"), 16).as("sig"),
        org.apache.spark.sql.GraftColumnBridge.column(
          SketchExprs.SimHashVotes(
            org.apache.spark.sql.GraftColumnBridge.expression(col("hs"))))
          .as("sim"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_minhash_sig") && l.trim.startsWith("*")), plan)
    withFactoryMode("CODEGEN_ONLY") { assert(df.count() == 50) }
  }

  /** Adversarial token shapes for the shingle scan: consecutive / leading /
    * trailing spaces (empty tokens), short docs (< k words), repeated
    * k-grams (the distinct cut), empty and multibyte text.
    */
  private val shingleCorpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a b c a b c a b c a b c"), // heavy k-gram repetition
    (3L, "one two"), // < k words
    (4L, "solo"),
    (5L, ""),
    (6L, " leading and  double  spaces trailing "),
    (7L, "häßlich übermütig ärgerlich κλασικό 中文 分词 测试 行"),
    (8L, "x " * 200 + "x") // long doc
  )

  test("graft_shingles matches the HOF chain (codegen and interpreted, k=2,3,20)") {
    val df = shingleCorpus.toDF("doc_id", "text")
    for (k <- Seq(2, 3, 20); mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
      withFactoryMode(mode) {
        val rows = df.select(
          Dedup.shingles(col("text"), k).as("native"),
          RefExprs.shinglesHof(col("text"), k).as("hof")).collect()
        rows.foreach { r =>
          assert(r.getSeq[String](0) == r.getSeq[String](1), s"[$mode k=$k] $r")
        }
      }
  }

  test("graft_shingle_hashes matches transform(shingles, xxhash64) bit-for-bit") {
    val df = shingleCorpus.toDF("doc_id", "text")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) withFactoryMode(mode) {
      val rows = df.select(
        Dedup.shingleHashes(col("text")).as("native"),
        RefExprs.shingleHashesHof(col("text")).as("hof")).collect()
      rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"[$mode] $r"))
    }
  }

  test("graft_split_hashes matches transform(split, xxhash64) bit-for-bit") {
    val df = shingleCorpus.toDF("doc_id", "text")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) withFactoryMode(mode) {
      val rows = df.select(
        org.apache.spark.sql.GraftColumnBridge.column(
          SketchExprs.SplitHashes(
            org.apache.spark.sql.GraftColumnBridge.expression(col("text"))))
          .as("native"),
        RefExprs.splitHashesHof(col("text")).as("hof")).collect()
      rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"[$mode] $r"))
    }
  }

  test("shingle scans: null text parity with the HOF fall-through") {
    val df = spark.sql("SELECT cast(null as string) AS text")
    val r = df.select(
      Dedup.shingles(col("text")).as("ns"),
      RefExprs.shinglesHof(col("text")).as("hs"),
      Dedup.shingleHashes(col("text")).as("nh"),
      RefExprs.shingleHashesHof(col("text")).as("hh"),
      org.apache.spark.sql.GraftColumnBridge.column(
        SketchExprs.SplitHashes(
          org.apache.spark.sql.GraftColumnBridge.expression(col("text")))).as("nsp"),
      RefExprs.splitHashesHof(col("text")).as("hsp")).head()
    assert(r.getSeq[String](0) == Seq("")) // HOF: otherwise-branch concat_ws -> ""
    assert(r.getSeq[String](0) == r.getSeq[String](1))
    assert(r.getSeq[Long](2) == r.getSeq[Long](3))
    assert(r.isNullAt(4) && r.isNullAt(5)) // transform(null) is null in both
  }

  test("minhash banding end-to-end is unchanged by the swap (planted near-dups)") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq(
      (1L, base),
      (2L, base), // identical -> all bands collide, jaccard 1.0
      (3L, base.replace("gamma", "lambda")),
      (4L, "utterly unrelated content goes here with distinct words only")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getDouble(3) == 1.0))
    assert(!pairs.exists(r => r.getLong(1) == 4L || r.getLong(0) == 4L))
  }
}
