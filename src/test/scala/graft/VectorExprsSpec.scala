package graft

import graft.expressions.{GraftExtensions, VectorExprs}
import graft.ops.Similarity
import graft.ref.RefExprs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity pins for the native codegen'd vector expressions (graft_dot,
  * graft_sign_sig) against their interpreted higher-order-function reference
  * forms. The swap under the rounded-cosine oracles (q22/q51/q56) and the
  * LSH signature paths (q30/q46/q52/q62) is licensed ONLY by these tests:
  * results must match BIT-FOR-BIT (Double.doubleToLongBits, not ≈), in both
  * the codegen and the interpreted evaluation modes.
  */
class VectorExprsSpec extends AnyFunSuite with SparkSuite {
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

  /** Deterministic float vectors incl. denormals-adjacent magnitudes, exact
    * negatives, and zero vectors — the adversarial shapes for add-order
    * sensitivity.
    */
  private def vectors(dim: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(7L)
    val rows = (0L until n.toLong).map { i =>
      val v = Array.fill(dim)((rnd.nextFloat() - 0.5f) * (1 << (i % 7).toInt))
      if (i % 11 == 0) java.util.Arrays.fill(v, 0.0f)
      (i, v.toSeq)
    }
    rows.toDF("id", "vec")
  }

  private def bits(d: Any): Any = d match {
    case x: Double => java.lang.Double.doubleToLongBits(x)
    case other => other
  }

  test("graft_dot matches the HOF fold bit-for-bit (codegen and interpreted)") {
    VectorExprs.ensure(spark)
    val a = vectors(64, 200)
    val b = vectors(64, 200).withColumnRenamed("vec", "vec2")
    val joined = a.join(b, "id")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) withFactoryMode(mode) {
      val rows = joined.select(
        Similarity.dot(col("vec"), col("vec2")).as("native"),
        RefExprs.dotHof(col("vec"), col("vec2")).as("hof")).collect()
      assert(rows.length == 200)
      rows.foreach { r =>
        assert(bits(r.get(0)) == bits(r.get(1)), s"[$mode] $r")
      }
    }
  }

  test("graft_dot edge cases match the HOF form") {
    VectorExprs.ensure(spark)
    val df = Seq(
      (1L, Seq.empty[Float], Seq.empty[Float]), // empty -> 0.0
      (2L, Seq(1.0f, 2.0f), Seq(3.0f)), // length mismatch -> null
      (3L, Seq(1.5f, -2.5f), Seq(4.0f, 0.25f))
    ).toDF("id", "a", "b")
    val rows = df.select(col("id"),
      Similarity.dot(col("a"), col("b")).as("native"),
      RefExprs.dotHof(col("a"), col("b")).as("hof"))
      .orderBy("id").collect()
    rows.foreach(r => assert(bits(r.get(1)) == bits(r.get(2)), r.toString))
    assert(rows(0).getDouble(1) == 0.0)
    assert(rows(1).isNullAt(1))

    // null column and null ELEMENT both poison to null in both forms
    val withNulls = spark.sql(
      """SELECT * FROM VALUES
        |  (1, array(cast(1.0 as float), cast(null as float)), array(cast(2.0 as float), cast(3.0 as float))),
        |  (2, cast(null as array<float>), array(cast(2.0 as float)))
        |  AS t(id, a, b)""".stripMargin)
    val nr = withNulls.select(col("id"),
      Similarity.dot(col("a"), col("b")).as("native"),
      RefExprs.dotHof(col("a"), col("b")).as("hof")).orderBy("id").collect()
    nr.foreach { r =>
      assert(r.isNullAt(1) && r.isNullAt(2), s"null poisoning diverged: $r")
    }
  }

  test("graft_dot mixes float and double element types") {
    VectorExprs.ensure(spark)
    val planes = Seq(Seq(0.5, -0.25, 2.0))
    val df = Seq((1L, Seq(2.0f, 4.0f, 1.0f))).toDF("id", "vec")
    val r = df.select(
      Similarity.dot(col("vec"), typedlit(planes.head)).as("native"),
      RefExprs.dotHof(col("vec"), typedlit(planes.head)).as("hof")).head()
    assert(bits(r.get(0)) == bits(r.get(1)))
    assert(r.getDouble(0) == 2.0 * 0.5 + 4.0 * -0.25 + 1.0 * 2.0)
  }

  test("graft_sign_sig matches the per-plane HOF composition (codegen and interpreted)") {
    VectorExprs.ensure(spark)
    for ((nBits, dim) <- Seq((8, 64), (16, 64), (32, 16), (63, 4))) {
      val planes = Similarity.hyperplanes(nBits, dim)
      val df = vectors(dim, 120)
      for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) withFactoryMode(mode) {
        val rows = df.select(
          Similarity.lshBucket(col("vec"), planes).as("native"),
          RefExprs.lshBucketHof(col("vec"), planes).as("hof")).collect()
        rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
          s"[$mode nBits=$nBits dim=$dim] $r"))
      }
    }
  }

  test("graft_sign_sig: null vector and dim mismatch collapse to bucket 0 in both forms") {
    VectorExprs.ensure(spark)
    val planes = Similarity.hyperplanes(8, 4)
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1, cast(null as array<float>)),
        |  (2, array(cast(1.0 as float), cast(2.0 as float))),
        |  (3, array(cast(1.0 as float), cast(null as float), cast(2.0 as float), cast(3.0 as float)))
        |  AS t(id, vec)""".stripMargin)
    val rows = df.select(col("id"),
      Similarity.lshBucket(col("vec"), planes).as("native"),
      RefExprs.lshBucketHof(col("vec"), planes).as("hof"))
      .orderBy("id").collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"parity: $r")
      assert(r.getLong(1) == 0L, s"degenerate input must bucket to 0: $r")
    }
  }

  test("SQL surface: registered functions resolve by name") {
    VectorExprs.ensure(spark)
    val r = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       graft_sign_sig(array(1.0D), array(array(1.0D), array(-1.0D))) AS s
        |""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) == 1L) // plane 0 positive, plane 1 negative
  }

  test("GraftExtensions injects the same entries; builders reject bad arity/planes") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw
    assert(VectorExprs.entries.size == 2)
    val dotBuilder = VectorExprs.entries.head._3
    intercept[IllegalArgumentException] {
      dotBuilder(Seq(org.apache.spark.sql.catalyst.expressions.Literal(1)))
    }
    val sigBuilder = VectorExprs.entries(1)._3
    intercept[IllegalArgumentException] {
      // non-foldable / wrong-typed planes argument must fail loudly
      sigBuilder(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal(1),
        org.apache.spark.sql.catalyst.expressions.Literal(2)))
    }
  }

  test("whole-stage codegen keeps the expressions inside the generated stage") {
    VectorExprs.ensure(spark)
    val planes = Similarity.hyperplanes(8, 8)
    // a Range source (not a local relation, which ConvertToLocalRelation
    // folds into a pre-evaluated LocalTableScan) so the projection runs
    // inside a real generated stage
    val df = spark.range(10)
      .select(transform(sequence(lit(1), lit(8)),
        j => (pmod(col("id") * j, lit(7)) - lit(3)).cast("float")).as("vec"))
      .select(Similarity.dot(col("vec"), col("vec")).as("d"),
        Similarity.lshBucket(col("vec"), planes).as("s"))
    val plan = df.queryExecution.executedPlan.toString()
    // the `*(n)` prefix marks an operator inside a WholeStageCodegen stage —
    // the Project carrying graft_dot/graft_sign_sig must have it
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_dot") && l.trim.startsWith("*")), plan)
    // and the job actually runs under codegen-only factory mode
    withFactoryMode("CODEGEN_ONLY") { assert(df.count() == 10) }
  }
}
