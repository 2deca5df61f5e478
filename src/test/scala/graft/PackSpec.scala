package graft

import graft.ops.Pack
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Two-phase distributed grouped prefix sum vs the single-task window oracle,
  * plus concat-and-chunk packing-census invariants.
  */
class PackSpec extends AnyFunSuite with SparkSuite {

  /** Deterministic multi-group fixture: ids NOT contiguous per group (groups
    * interleave in order space) and values vary so misaligned offsets show.
    */
  private def fixture(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val g = s"g${i % 3}"
      (g, i.toLong * 7 % (n * 7), (i % 13 + 1).toLong)
    }.toDF("grp", "ord", "v")
  }

  private def oracle(df: DataFrame): Map[(String, Long), Long] = {
    val w = Window.partitionBy("grp").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("ex_cum", coalesce(sum(col("v")).over(w), lit(0L)))
      .collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("ord")) -> r.getAs[Long]("ex_cum"))
      .toMap
  }

  private def got(df: DataFrame): Map[(String, Long), Long] =
    df.collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("ord")) -> r.getAs[Long]("ex_cum"))
      .toMap

  test("groupedPrefixSum matches the window oracle at several partition counts") {
    val df = fixture(5000)
    val want = oracle(df)
    for (parts <- Seq(1, 3, 8)) {
      val g = got(Pack.groupedPrefixSum(df, "grp", "ord", "v", numParts = parts))
      assert(g.size == want.size, s"parts=$parts row count")
      assert(g == want, s"parts=$parts values")
    }
  }

  test("10^5 groups via the distributed-join carry-in (driverCarryLimit exceeded)") {
    import spark.implicits._
    // 100k groups × 3 rows each, groups interleaved in order space; a tiny
    // driverCarryLimit forces the join path, the default forces the
    // broadcast path — both must match the window oracle exactly
    val nG = 100000
    val df = (0 until nG * 3).map { i =>
      (s"g${i % nG}", i.toLong, (i % 7 + 1).toLong)
    }.toDF("grp", "ord", "v")
    val w = Window.partitionBy("grp").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("want", coalesce(sum(col("v")).over(w), lit(0L)))
    // neither delivery may leave a persisted RDD behind (only additions
    // count: Spark's ContextCleaner may drop an earlier suite's meanwhile)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val joined = Pack.groupedPrefixSum(df, "grp", "ord", "v", numParts = 8,
        driverCarryLimit = 1000)
      .join(want.select(col("grp"), col("ord"), col("want")), Seq("grp", "ord"))
    assert(joined.count() == nG * 3L)
    assert(joined.filter(col("ex_cum") =!= col("want")).count() == 0,
      "join-path carry-in must match the window oracle")
    val bcast = Pack.groupedPrefixSum(df, "grp", "ord", "v", numParts = 8)
      .join(want.select(col("grp"), col("ord"), col("want")), Seq("grp", "ord"))
    assert(bcast.filter(col("ex_cum") =!= col("want")).count() == 0,
      "broadcast-path carry-in must match the window oracle")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persisted
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("caller orderBounds (superset) gives identical results") {
    val df = fixture(2000)
    val want = oracle(df)
    val g = got(Pack.groupedPrefixSum(df, "grp", "ord", "v", numParts = 4,
      orderBounds = Some((0L, 20000L))))
    assert(g == want)
  }

  test("re-execution of the returned frame is stable (deterministic layout)") {
    val df = fixture(1500)
    val out = Pack.groupedPrefixSum(df, "grp", "ord", "v", numParts = 5)
    val a = got(out)
    val b = got(out) // second job over the same lazy plan re-runs both phases
    assert(a == b)
  }

  test("packCensus invariants: conservation, full interior sequences, carries") {
    val df = fixture(3000)
    val budget = 97L
    val census = Pack.packCensus(df, "grp", "ord", "v", budget, numParts = 4)
      .collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("seq_id"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tok"), r.getAs[Long]("n_carried")))

    val totals = df.groupBy("grp").agg(sum("v").as("t")).collect()
      .map(r => r.getAs[String]("grp") -> r.getAs[Long]("t")).toMap

    for ((g, t) <- totals) {
      val rows = census.filter(_._1 == g).sortBy(_._2)
      // seq ids are 0..last contiguous
      assert(rows.map(_._2).toSeq == (0L until rows.length.toLong))
      // conservation: every token lands in exactly one sequence
      assert(rows.map(_._4).sum == t)
      // every sequence but the last holds exactly `budget` tokens
      assert(rows.dropRight(1).forall(_._4 == budget))
      assert(rows.last._4 == (if (t % budget == 0) budget else t % budget))
      // first sequence never starts mid-document
      assert(rows.head._5 == 0L)
      // a sequence carries at most one straddling document
      assert(rows.forall(_._5 <= 1L))
    }

    // total doc touches = docs + number of boundary straddles
    val straddles = census.map(_._5).sum
    assert(census.map(_._3).sum == df.count() + straddles)
  }

  test("tieCol fixes the order among colliding order values") {
    import spark.implicits._
    // every ord collides (ord = i % 5) — only the tie column orders rows
    val df = (0 until 200).map(i => (s"g${i % 2}", (i % 5).toLong, i.toLong, (i % 7 + 1).toLong))
      .toDF("grp", "ord", "id", "v")
    val w = Window.partitionBy("grp").orderBy("ord", "id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("ex_cum", coalesce(sum(col("v")).over(w), lit(0L)))
      .collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("id")) -> r.getAs[Long]("ex_cum"))
      .toMap
    val g = Pack.groupedPrefixSum(df, "grp", "ord", "v", numParts = 4,
        tieCol = Some("id"))
      .collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("id")) -> r.getAs[Long]("ex_cum"))
      .toMap
    assert(g == want)
  }

  test("packSequences: exact token-stream equality and sequence shapes") {
    import spark.implicits._
    val docs = (0 until 400).map { i =>
      val g = s"g${i % 3}"
      (g, i.toLong, (0 until (i % 17 + 1)).map(j => s"t${i}_$j"))
    }.toDF("grp", "ord", "toks")
    val budget = 64L
    val seqs = Pack.packSequences(docs, "grp", "ord", "toks", budget, numParts = 4)
      .collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("seq_id"),
        r.getSeq[String](r.fieldIndex("tokens"))))

    val wantStreams = docs.collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("ord"), r.getSeq[String](2)))
      .groupBy(_._1)
      .map { case (g, rows) => g -> rows.sortBy(_._2).flatMap(_._3).toSeq }

    for ((g, want) <- wantStreams) {
      val rows = seqs.filter(_._1 == g).sortBy(_._2)
      // contiguous ids, exact-budget interior sequences, short tail allowed
      assert(rows.map(_._2).toSeq == (0L until rows.length.toLong))
      assert(rows.dropRight(1).forall(_._3.length == budget))
      assert(rows.last._3.length <= budget && rows.last._3.nonEmpty)
      // the packed stream IS the concatenated doc stream — token-array
      // equality across the re-cut (north-rule per-row invariant)
      assert(rows.flatMap(_._3).toSeq == want)
    }
  }

  test("BinaryType group keys use value equality (carry-in offsets still land)") {
    import spark.implicits._
    val df = (0 until 600).map { i =>
      (s"g${i % 3}", i.toLong, (i % 5 + 1).toLong)
    }.toDF("grps", "ord", "v")
      .withColumn("grp", expr("unhex(md5(grps))")) // binary group key
    val w = Window.partitionBy("grps").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("ex_cum", coalesce(sum(col("v")).over(w), lit(0L)))
      .collect()
      .map(r => (r.getAs[String]("grps"), r.getAs[Long]("ord")) -> r.getAs[Long]("ex_cum"))
      .toMap
    // grps rides along for readable comparison; grouping is on the binary col
    val got = Pack.groupedPrefixSum(df, "grp", "ord", "v", numParts = 5)
      .collect()
      .map(r => (r.getAs[String]("grps"), r.getAs[Long]("ord")) -> r.getAs[Long]("ex_cum"))
      .toMap
    assert(got == want)
  }

  test("packed-sequence lake commit is resumable and read-back exact") {
    import spark.implicits._
    val docs = (0 until 300).map { i =>
      (f"doc-$i%06d", s"src${i % 4}", (0 until (i % 9 + 1)).map(j => i * 100 + j))
    }.toDF("doc_id", "source", "tokens")
      .withColumn("_ord", Pack.md5Rank60(col("doc_id")))
    val packed = Pack.packSequences(docs, "source", "_ord", "tokens", 32L,
        tieCol = Some("doc_id"))
      .withColumn("pk", concat(col("source"), lit("_"), expr("seq_id div 4")))

    val base = tempDir("pack_lake")
    val lake = new graft.lake.LakeTable(spark, base, "packed_32", "pk")
    val n1 = lake.append(packed, "pack run 1")
    assert(n1.nonEmpty)
    // identical re-submit: every partition already committed, zero new
    val n2 = lake.append(packed, "pack rerun")
    assert(n2.isEmpty)

    def census(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Int] =
      df.select(col("source"), col("seq_id"), col("tokens")).collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("seq_id")) ->
          r.getSeq[Int](r.fieldIndex("tokens")).hashCode())
        .toMap
    assert(census(lake.read()) == census(packed))
  }

  test("one-group corpus: correct and partition-spread (the claimed scale win)") {
    import spark.implicits._
    val df = (0 until 100000).map(i => ("all", i.toLong, (i % 3 + 1).toLong))
      .toDF("grp", "ord", "v")
    val out = Pack.groupedPrefixSum(df, "grp", "ord", "v", numParts = 8)
    // exact closed form: v cycles 1,2,3 so ex_cum(i) = sum of first i terms
    val got = out.collect()
      .map(r => r.getAs[Long]("ord") -> r.getAs[Long]("ex_cum")).toMap
    def cf(i: Long): Long = (i / 3) * 6 + (if (i % 3 >= 1) 1 else 0) + (if (i % 3 >= 2) 2 else 0)
    assert(got.size == 100000)
    assert((0L until 100000L).forall(i => got(i) == cf(i)))
    // the single group spreads over >1 task (a window would pin it to one)
    import org.apache.spark.sql.functions.spark_partition_id
    val tasksUsed = out.select(spark_partition_id()).distinct().count()
    assert(tasksUsed > 1, s"one group should spread across tasks, used $tasksUsed")
  }

  test("budget larger than a group's total yields one short sequence") {
    import spark.implicits._
    val docs = Seq(("g", 1L, Seq("a", "b")), ("g", 2L, Seq("c")))
      .toDF("grp", "ord", "toks")
    val seqs = Pack.packSequences(docs, "grp", "ord", "toks", budget = 100L)
      .collect()
    assert(seqs.length == 1)
    assert(seqs.head.getAs[Long]("seq_id") == 0L)
    assert(seqs.head.getSeq[String](2) == Seq("a", "b", "c"))
  }

  test("empty input yields empty output") {
    val df = fixture(10).filter(col("v") > 100)
    assert(Pack.groupedPrefixSum(df, "grp", "ord", "v").count() == 0)
    assert(Pack.packCensus(df, "grp", "ord", "v", 10L).count() == 0)
  }
}
