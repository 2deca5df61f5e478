package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scala oracles for the hash-based near-dup / similarity operators (these
  * have no DuckDB oracle — hash functions differ across engines — so the
  * driver records rows-only checks and correctness is proven here).
  */
class DedupSimilaritySpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  /** Deterministic corpus with planted near-duplicates. */
  private def corpus: DataFrame = {
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val rows = Seq(
      (0L, base),
      (1L, base), // exact dup of 0
      (2L, base.replace("lazy", "sleepy")), // near dup of 0
      (3L, "completely different content about spark query engines and shuffles"),
      (4L, "completely different content about spark query engines and shuffle plans"), // near dup of 3
      (5L, "short doc"),
      (6L, "yet another unrelated document discussing gorilla compression of time series data"))
    rows.toDF("doc_id", "text")
  }

  test("minhash LSH finds planted near-dups and skips unrelated docs") {
    val got = Dedup.minhashDedup(corpus, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 1L)), s"exact dup pair missing: $got")
    assert(got.contains((0L, 2L)) && got.contains((1L, 2L)), s"near dup pair missing: $got")
    assert(got.contains((3L, 4L)), s"near dup pair missing: $got")
    // no cross-pairs between the two families or with 5/6
    got.foreach { case (a, b) =>
      assert(Set(Set(0L, 1L), Set(0L, 2L), Set(1L, 2L), Set(3L, 4L)).contains(Set(a, b)),
        s"false positive pair ($a,$b)")
    }
  }

  test("minhash jaccard estimates match exact jaccard within banding tolerance") {
    // exact dup must report jaccard 1.0
    val j = Dedup.minhashDedup(corpus, "doc_id", "text", threshold = 0.5)
      .filter($"doc_a" === 0 && $"doc_b" === 1).select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("jaccard column equals a hand-computed value") {
    val df = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val sh = df.select($"doc_id", Dedup.shingles($"text").as("sh"))
    val a = sh.filter($"doc_id" === 1).select($"sh".as("sh_a"))
    val b = sh.filter($"doc_id" === 2).select($"sh".as("sh_b"))
    val got = a.crossJoin(b).select(Dedup.jaccard($"sh_a", $"sh_b")).as[Double].head()
    // shingles: {a b c, b c d} vs {a b c, b c e}: |∩|=1, |∪|=3
    assert(math.abs(got - 1.0 / 3.0) < 1e-12)
  }

  test("simhash: identical docs have hamming 0, near dups small, unrelated large") {
    val sigs = corpus.select($"doc_id", Dedup.simhash64($"text").as("sim"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(1L))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(0L, 2L) <= 16, s"near dup hamming ${ham(0L, 2L)}")
    assert(ham(0L, 3L) > 16, s"unrelated hamming ${ham(0L, 3L)}")
  }

  test("simhashPairs at maxHamming<=bands-1 has FULL recall vs brute force") {
    val sigs = corpus.select($"doc_id", Dedup.simhash64($"text").as("sim"))
      .as[(Long, Long)].collect().sortBy(_._1)
    for (maxHam <- Seq(0, 3)) {
      val expected = (for {
        (a, sa) <- sigs; (b, sb) <- sigs if a < b
        if java.lang.Long.bitCount(sa ^ sb) <= maxHam
      } yield (a, b)).toSet
      val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = maxHam)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got == expected, s"maxHamming=$maxHam")
    }
  }

  test("simhashPairs rejects a maxHamming beyond the banding recall guarantee") {
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 16)
    }
    assert(e.getMessage.contains("recall"))
    // explicit opt-in to partial recall still runs
    val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 16,
      allowPartialRecall = true)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 1L)))
    // and 8 bands widen the guarantee to hamming <= 7
    val eightBands = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 7, bands = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(eightBands.contains((0L, 1L)))
  }

  test("LSH skew guard is audited: degenerate bucket is counted, not silent") {
    // 100 docs sharing one exact text -> every band bucket holds all 100
    val degenerate = (0L until 100L).map(i => (i, "the same boilerplate header text repeated"))
      .toDF("doc_id", "text")
    val buckets = Dedup.minhashBuckets(degenerate, "doc_id", "text")
    val dropped = Dedup.droppedBuckets(buckets, maxBucket = 64)
    assert(dropped.count() == 16) // all 16 bands degenerate
    assert(dropped.select(max($"bucket_size")).as[Int].head() == 100)
    // pair generation excludes them -> no candidates survive the guard
    assert(Dedup.candidatesFromBuckets(buckets, maxBucket = 64).count() == 0)
    // end-to-end: audit path logs and still returns (no pairs here)
    assert(Dedup.minhashDedup(degenerate, "doc_id", "text").count() == 0)
  }

  test("minhashDedup audit tri-state: off/observed/eager agree on results; bad mode rejected") {
    val expected = Dedup.minhashDedup(corpus, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    for (mode <- Seq("off", "observed", "eager")) {
      val got = Dedup.minhashDedup(corpus, "doc_id", "text", threshold = 0.5,
          audit = mode)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got == expected, s"audit=$mode must not change dedup results")
    }
    // eager mode runs its census action even when the guard will drop
    // everything (the guaranteed pre-action census path)
    val degenerate = (0L until 100L).map(i => (i, "the same boilerplate text"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashDedup(degenerate, "doc_id", "text", audit = "eager").count() == 0)
    intercept[IllegalArgumentException] {
      Dedup.minhashDedup(corpus, "doc_id", "text", audit = "loud")
    }
  }

  test("dot/cosine/lshBucket columns resolve on a session that never called ensure") {
    // ADVICE round-4 regression guard: the Column surface must work on ANY
    // session (bridge-built expressions), not only after VectorExprs.ensure
    val fresh = spark.newSession() // fresh function registry, no graft entries
    val df = fresh.createDataFrame(Seq(
      (1L, Seq(1.0, 0.0, 2.0), Seq(3.0, 4.0, 0.5))))
      .toDF("id", "a", "b")
    val r = df.select(
      Similarity.dot(col("a"), col("b")).as("d"),
      round(Similarity.cosine(col("a"), col("a")), 6).as("c"),
      Similarity.lshBucket(col("a"),
        Similarity.hyperplanes(nBits = 4, dim = 3)).as("bkt")).head()
    assert(r.getDouble(0) == 4.0) // 1*3 + 0*4 + 2*0.5
    assert(r.getDouble(1) == 1.0)
    assert(!r.isNullAt(2))
  }

  test("simhash64 matches a single-node Scala oracle (xxhash64 parity via Spark)") {
    // oracle: recompute from Spark's own xxhash64 of each token (seed 42)
    val tokens = corpus.select($"doc_id", explode(split($"text", " ")).as("w"))
      .select($"doc_id", $"w", xxhash64($"w").as("h"))
      .as[(Long, String, Long)].collect()
    val expected = tokens.groupBy(_._1).map { case (id, ws) =>
      var sim = 0L
      (0 until 64).foreach { i =>
        val vote = ws.map(t => if (((t._3 >> i) & 1L) == 1L) 1L else -1L).sum
        if (vote > 0) sim |= (1L << i)
      }
      id -> sim
    }
    val got = corpus.select($"doc_id", Dedup.simhash64($"text")).as[(Long, Long)].collect().toMap
    expected.foreach { case (id, e) => assert(got(id) == e, s"doc $id") }
  }

  private def embeddings: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("brute-force cosine top-k matches a driver-side oracle") {
    val rows = embeddings.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val q = rows.find(_._1 == 0L).get._2.map(_.toDouble).toArray
    def cos(v: Seq[Float]): Double = {
      val a = v.map(_.toDouble).toArray
      val dot = a.zip(q).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(q.map(x => x * x).sum))
    }
    val expected = rows.map { case (id, v) => (id, math.rint(cos(v) * 1e5) / 1e5) }
      .sortBy { case (id, c) => (-c, id) }.take(10).toSeq
    val got = Similarity.bruteForceTopK(embeddings, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(got == expected)
  }

  test("LSH top-k: query's own vector is rank 1; results subset of brute-force ordering") {
    val got = Similarity.lshTopK(embeddings, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect()
    assert(got.head._1 == 0L && got.head._2 == 1.0)
    // every LSH result's cosine must equal the brute-force cosine for that id
    val bf = Similarity.bruteForceTopK(embeddings, "vec_id", "embedding", 0L, 2000)
      .as[(Long, Double)].collect().toMap
    got.foreach { case (id, c) => assert(bf(id) == c, s"id $id") }
  }

  test("multi-probe LSH recall >= single-probe; probeHamming=0 equals single-probe") {
    val bf = Similarity.bruteForceTopK(embeddings, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.as[(Long, Double)].collect().map(_._1).toSet
      (bf intersect got).size.toDouble / bf.size
    }
    val single = recall(Similarity.lshTopK(embeddings, "vec_id", "embedding", 0L, 10))
    val p0 = recall(Similarity.lshTopKMultiProbe(embeddings, "vec_id", "embedding", 0L, 10,
      probeHamming = 0))
    val p1 = recall(Similarity.lshTopKMultiProbe(embeddings, "vec_id", "embedding", 0L, 10,
      probeHamming = 1))
    val p2 = recall(Similarity.lshTopKMultiProbe(embeddings, "vec_id", "embedding", 0L, 10,
      probeHamming = 2))
    assert(p0 == single) // hamming-0 probe IS the single-probe bucket
    assert(p1 >= single && p2 >= p1, s"recall not monotone: $single / $p1 / $p2")
    assert(p2 >= 0.5, s"2-probe recall too low: $p2 (single $single)")
  }

  test("dedup field modes: Match keys on listed fields, Ignore on their complement") {
    import graft.ops.DedupFields
    val df = Seq(
      ("a", "x", 1L, 1L, 10.0), ("a", "y", 2L, 2L, 20.0), // same k1, diff k2
      ("a", "x", 3L, 3L, 30.0), // dup of row 1 under both modes
      ("b", "x", 4L, 4L, 10.0)) // same v as row1 but k1 differs
      .toDF("k1", "k2", "ts", "seq", "v")
    val matched = DedupFields.dedupMatch(df, Seq("k1"), "ts", "seq")
      .select("k1", "ts").as[(String, Long)].collect().toSet
    assert(matched == Set(("a", 1L), ("b", 4L))) // first per k1
    val ignored = DedupFields.dedupIgnore(df, Seq("v"), "ts", "seq")
      .select("k1", "k2", "ts").as[(String, String, Long)].collect().toSet
    // key = (k1, k2): row 3 is the only duplicate
    assert(ignored == Set(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 4L)))
    val e = intercept[IllegalArgumentException] {
      DedupFields.dedupIgnore(df, Seq("k1", "k2", "v"), "ts", "seq")
    }
    assert(e.getMessage.contains("key"))
  }

  test("cosine near-dup pairs: exact precision, pigeonhole recall vs brute force") {
    val emb = embeddings // 500 vectors, dim 64
    val tau = 0.2
    val got = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", tau)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty, "threshold 0.2 should yield pairs on this corpus")
    val rows = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    def cos(a: Long, b: Long): Double = {
      val x = rows(a).map(_.toDouble); val y = rows(b).map(_.toDouble)
      val dot = x.zip(y).map(p => p._1 * p._2).sum
      math.rint(dot / (math.sqrt(x.map(v => v * v).sum) *
        math.sqrt(y.map(v => v * v).sum)) * 1e5) / 1e5
    }
    // precision: every returned pair really clears the threshold
    got.foreach { case (a, b, c) =>
      assert(math.abs(cos(a, b) - c) < 2e-5 && c >= tau, s"pair ($a,$b) cos $c")
    }
    // pigeonhole recall: every pair with sign-signature hamming <= bands-1
    // (= 3 at the default 16 bits / 4 bands) and cosine >= tau MUST be found
    val planes = Similarity.hyperplanes(16, 64)
    def sig(v: Seq[Float]): Long = planes.zipWithIndex.map { case (p, i) =>
      val d = v.map(_.toDouble).zip(p).map(t => t._1 * t._2).sum
      if (d > 0) 1L << i else 0L
    }.foldLeft(0L)(_ | _)
    val sigs = rows.map { case (id, v) => id -> sig(v) }
    val ids = rows.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 3
      if cos(a, b) >= tau
    } yield (a, b)).toSet
    val gotPairs = got.map(g => (g._1, g._2)).toSet
    assert(expected.subsetOf(gotPairs),
      s"recall gap: ${(expected -- gotPairs).take(5)} (of ${expected.size})")
  }

  test("multimodal decode pipeline: real BMP/WAV parses, malformed counted not thrown") {
    val out = graft.ops.Multimodal.pipeline(spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.getString(0)).toSet == Set("image", "audio"))
    assert(out.map(_.getAs[Long]("n_media")).sum > 0)
    // every-7th payloads are garbage: they must be counted, and dims must
    // come only from the well-formed ones
    assert(out.map(_.getAs[Long]("n_malformed")).sum > 0)
    val img = out.find(_.getString(0) == "image").get
    val aud = out.find(_.getString(0) == "audio").get
    assert(img.getAs[Long]("sum_width") > 0 && img.getAs[Long]("sum_rate") == 0)
    assert(aud.getAs[Long]("sum_rate") > 0 && aud.getAs[Long]("sum_width") == 0)
  }

  test("BMP/WAV header codecs roundtrip; malformed payloads decode to None") {
    import graft.ops.Multimodal._
    assert(decodeBmp(encodeBmp(640, 480, 24)) == Some((640, 480, 24)))
    assert(decodeBmp(encodeBmp(1, 1, 1)) == Some((1, 1, 1)))
    // WAV: 44100 Hz stereo 16-bit, 1 s of data = 176400 bytes -> 1000 ms
    assert(decodeWav(encodeWav(44100, 2, 176400)) == Some((44100, 2, 1000L)))
    assert(decodeWav(encodeWav(8000, 1, 4000)) == Some((8000, 1, 250L)))
    assert(decodeBmp("XXnotabmp".getBytes) == None)
    assert(decodeBmp(encodeBmp(640, 480, 24).take(20)) == None) // truncated
    assert(decodeWav("RIFFxxxxNOPE".getBytes) == None)
    assert(decodeWav(null) == None && decodeBmp(null) == None)
    // cross-format confusion: a WAV fed to the BMP parser and vice versa
    assert(decodeBmp(encodeWav(8000, 1, 100)) == None)
    assert(decodeWav(encodeBmp(10, 10, 24)) == None)
  }

  test("winnowing fingerprints: brute-force parity, edges, substring-match guarantee") {
    import graft.ops.Winnow
    // brute-force oracle in plain Scala over random strings
    val rnd = new scala.util.Random(5)
    def brute(t: String, k: Int, w: Int): (Long, Seq[Long]) = {
      val cps = t.codePoints().toArray
      if (cps.length < k) return (0L, Nil)
      val hs = (0 to cps.length - k).map { i =>
        cps.slice(i, i + k).foldLeft(0L)((h, c) => (h * 257 + c) % 1000000007L)
      }
      val nw = math.max(1, hs.length - w + 1)
      (hs.length.toLong, (0 until nw).map(i => hs.slice(i, math.min(i + w, hs.length)).min)
        .distinct.sorted)
    }
    for (_ <- 1 to 20) {
      val t = (0 until rnd.nextInt(120)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      val (nk, fps) = brute(t, 8, 16)
      val got = Winnow.stats(t, 8, 16)
      assert(got.n_kgrams == nk && got.n_fps == fps.size &&
        got.min_fp == fps.headOption && got.fp_sum == (if (fps.isEmpty) None else Some(fps.sum)),
        s"text=$t")
      assert(Winnow.fingerprints(t, 8, 16).toSeq == fps)
    }
    // edges: null, empty, shorter than k, exactly k
    assert(Winnow.stats(null, 8, 16) == Winnow.WinnowStats(0, 0, None, None))
    assert(Winnow.stats("1234567", 8, 16) == Winnow.WinnowStats(0, 0, None, None))
    assert(Winnow.stats("12345678", 8, 16).n_kgrams == 1L)
    // SIGMOD'03 guarantee: a shared substring of length >= w + k - 1 (= 23)
    // yields at least one shared fingerprint, however different the rest is
    val shared = "the quick brown fox jumps!" // 26 chars
    val a = "A" * 40 + shared + "B" * 40
    val b = "x9" * 25 + shared + "qq" * 30
    val fa = Winnow.fingerprints(a, 8, 16).toSet
    val fb = Winnow.fingerprints(b, 8, 16).toSet
    assert(fa.intersect(fb).nonEmpty, "w+k-1 substring match must share a fingerprint")
    // and two disjoint-alphabet docs share nothing
    val fc = Winnow.fingerprints("z" * 100, 8, 16).toSet
    assert(fa.intersect(fc).isEmpty)
  }

  test("cardinality DropTag: rejected values lose the tag, events keep flowing") {
    import graft.ops.CardinalityLimit
    // arrival order (ord): users u1, u2 accepted (limit 2); u3 rejected
    val rows = Seq(
      (1L, Map("type" -> "a", "user" -> "u1")),
      (2L, Map("type" -> "a", "user" -> "u2")),
      (3L, Map("type" -> "b", "user" -> "u3")),
      (4L, Map("type" -> "b", "user" -> "u1")),
      (5L, Map("type" -> "a"))) // no user tag: untouched
      .toDF("ord", "tags")
    val out = CardinalityLimit.dropTag(rows, "tags", "user", col("ord"), limit = 2)
      .orderBy("ord").as[(Long, Map[String, String])].collect().toSeq
    assert(out.map(_._2) == Seq(
      Map("type" -> "a", "user" -> "u1"),
      Map("type" -> "a", "user" -> "u2"),
      Map("type" -> "b"), // u3 over limit: tag stripped, event kept
      Map("type" -> "b", "user" -> "u1"),
      Map("type" -> "a")))
    // Drop-event mode on the same input: the u3 event disappears instead
    val dropped = CardinalityLimit.dropEvent(rows, "tags", "user", col("ord"), limit = 2)
      .orderBy("ord").as[(Long, Map[String, String])].collect().toSeq
    assert(dropped.map(_._1) == Seq(1L, 2L, 4L, 5L))
  }

  test("cardinality enforcement at limit=100k: no limit-sized literal in the plan") {
    import graft.ops.CardinalityLimit
    // 120k distinct users, limit 100k: the accepted set must travel as a
    // broadcast, not as a 100k-element literal array the planner carries
    val n = 120000
    val rows = spark.range(n.toLong)
      .selectExpr("id AS ord", "map('user', concat('u', id)) AS tags")
    val out = CardinalityLimit.dropEvent(rows, "tags", "user", col("ord"), limit = 100000)
    val planLen = out.queryExecution.executedPlan.toString.length
    assert(planLen < 20000, s"plan string is $planLen chars — literal accepted set leaked in")
    assert(out.count() == 100000L)
    // boundary is by first-seen ord: exactly ids 0..99999 survive
    val maxKept = out.selectExpr("max(ord)").as[Long].head()
    assert(maxKept == 99999L)
  }

  test("cardinality enforcement: first-ord ties break deterministically by value; empty set") {
    import graft.ops.CardinalityLimit
    // two values share first_ord=1 at the limit boundary: lexicographically
    // smaller value wins, every run
    val rows = Seq((1L, Map("u" -> "zz")), (1L, Map("u" -> "aa")), (2L, Map("u" -> "mm")))
      .toDF("ord", "tags")
    for (_ <- 1 to 3) {
      val kept = CardinalityLimit.dropEvent(rows, "tags", "u", col("ord"), limit = 1)
        .select(element_at(col("tags"), "u")).as[String].collect().toSeq
      assert(kept == Seq("aa"))
    }
    // no event carries the key: accepted set is empty; DropTag strips
    // nothing (no key present), Drop keeps keyless events flowing
    val keyless = Seq((1L, Map("x" -> "1")), (2L, Map("y" -> "2"))).toDF("ord", "tags")
    assert(CardinalityLimit.dropEvent(keyless, "tags", "u", col("ord"), 5).count() == 2)
    assert(CardinalityLimit.dropTag(keyless, "tags", "u", col("ord"), 5)
      .select(size(col("tags"))).as[Int].collect().toSeq == Seq(1, 1))
    // events DO carry the key but input slice is empty: everything keyed drops
    val empty = keyless.filter(col("ord") > 100)
    assert(CardinalityLimit.dropEvent(empty, "tags", "u", col("ord"), 5).count() == 0)
  }

  test("geoip range lookup: binary search hits boundaries, gaps miss") {
    import graft.ops.GeoIp
    val ranges = Seq((100L, 199L, "a"), (300L, 399L, "b"), (1000L, 1000L, "c"))
    val df = Seq(99L, 100L, 150L, 199L, 200L, 299L, 300L, 399L, 500L, 1000L, 1001L)
      .toDF("ip")
    val got = df.select(col("ip"), GeoIp.lookupRange(col("ip"), ranges).as("geo"))
      .as[(Long, Option[String])].collect().toMap
    assert(got == Map(
      99L -> None, 100L -> Some("a"), 150L -> Some("a"), 199L -> Some("a"),
      200L -> None, 299L -> None, 300L -> Some("b"), 399L -> Some("b"),
      500L -> None, 1000L -> Some("c"), 1001L -> None))
    // overlapping ranges are rejected up front
    assertThrows[IllegalArgumentException] {
      GeoIp.lookupRange(col("ip"), Seq((0L, 10L, "x"), (10L, 20L, "y")))
    }
  }

  // —— multimodal resize / frame-sample (byte-level, real DIB/RIFF layout) ——

  test("BMP resize: nearest-neighbor picks source (2x,2y); padding and bottom-up rows honored") {
    import graft.ops.Multimodal
    // 3×3 raster with distinct values; w=3 → rowSize 12 (9 data + 3 pad)
    def pix(x: Int, y: Int): Int = 10 * y + x
    val src = Multimodal.encodeBmpPixels(3, 3, pix)
    assert(src.length == 54 + 12 * 3)
    val out = Multimodal.resizeBmp(src, 2).get
    // ceil(3/2)=2 → 2×2 with sources (0,0),(2,0),(0,2),(2,2)
    assert(Multimodal.decodeBmp(out).contains((2, 2, 24)))
    val (w2, h2, sum) = Multimodal.bmpPixelCensus(out).get
    assert((w2, h2) == ((2, 2)))
    assert(sum == pix(0, 0) + pix(2, 0) + pix(0, 2) + pix(2, 2))
    // the resized payload is itself a valid BMP: resize-of-resize decodes
    val out2 = Multimodal.resizeBmp(out, 2).get
    assert(Multimodal.bmpPixelCensus(out2).get == ((1, 1, pix(0, 0).toLong)))
    // census of the SOURCE proves the bottom-up row mapping roundtrips
    assert(Multimodal.bmpPixelCensus(src).get._3 ==
      (for { y <- 0 until 3; x <- 0 until 3 } yield pix(x, y)).sum)
  }

  test("WAV frame-sample: every nth frame kept, header rebuilt, signed samples roundtrip") {
    import graft.ops.Multimodal
    // 5 stereo frames; channel-0 samples include negatives
    def s(f: Int, c: Int): Int = (f * 1000 - 2000) + c * 7
    val src = Multimodal.encodeWavPcm(8000, 2, 5, s)
    val out = Multimodal.frameSampleWav(src, 2).get
    // frames 0, 2, 4 survive; format preserved
    val Some((rate, ch, _)) = Multimodal.decodeWav(out)
    assert((rate, ch) == ((8000, 2)))
    assert(Multimodal.wavPcmCensus(out).get ==
      ((3, (s(0, 0) + s(2, 0) + s(4, 0)).toLong)))
    // stride past the end: a single frame remains
    assert(Multimodal.frameSampleWav(src, 5).flatMap(Multimodal.wavPcmCensus)
      .contains((1, s(0, 0).toLong)))
  }

  test("resize/frame-sample degrade malformed payloads to None, never throw") {
    import graft.ops.Multimodal
    assert(Multimodal.resizeBmp("XXgarbage".getBytes, 2).isEmpty)
    assert(Multimodal.frameSampleWav("RIFFnope".getBytes, 2).isEmpty)
    // truncated pixel data (header claims more than the payload carries)
    val ok = Multimodal.encodeBmpPixels(4, 4, (_, _) => 1)
    assert(Multimodal.resizeBmp(ok.take(60), 2).isEmpty)
    // header-only BMPs (the q32 table) have no raster to resize
    assert(Multimodal.resizeBmp(Multimodal.encodeBmp(8, 8, 24), 2).isEmpty)
    // forged width where w*3 overflows Int: the Long-domain raster guard
    // must reject it instead of letting a negative rowSize pass the
    // truncation check into a thrown index
    val forged = Multimodal.encodeBmp(715827883, 4, 24)
    assert(Multimodal.resizeBmp(forged, 2).isEmpty)
    assert(Multimodal.bmpPixelCensus(forged).isEmpty)
  }

  // —— IVF ANN (inverted-file coarse quantizer + nProbe search) ——

  /** Independent Scala oracle for the IVF arithmetic: sequential double
    * cosine, HALF_UP rounding, sort-based argmax/top-k (vs the operator's
    * strict-> loop and window rank).
    */
  private def ivfOracle = new {
    val rows: Array[(Long, Array[Double])] =
      embeddings.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
        .collect().map { case (id, v) => (id, v.map(_.toDouble).toArray) }
        .sortBy(_._1)
    def rnd(x: Double, dp: Int): Double =
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents: Array[Array[Double]] = rows.take(16).map(_._2)
    def assign(v: Array[Double]): Int =
      cents.zipWithIndex.map { case (c, i) => (rnd(cos(v, c), 6), i) }
        .sortBy { case (s, i) => (-s, i) }.head._2
    def topK(qid: Long, nProbe: Int, k: Int): Seq[(Long, Long)] = {
      val q = rows.find(_._1 == qid).get._2
      val probed = cents.zipWithIndex.map { case (c, i) => (rnd(cos(q, c), 6), i) }
        .sortBy { case (s, i) => (-s, i) }.take(nProbe).map(_._2).toSet
      rows.filter { case (_, v) => probed.contains(assign(v)) }
        .map { case (id, v) => (id, rnd(cos(q, v), 5)) }
        .sortBy { case (id, s) => (-s, id) }.take(k)
        .zipWithIndex.map { case ((id, _), r) => ((r + 1).toLong, id) }.toSeq
    }
  }

  test("IVF with nProbe = nCentroids equals brute force exactly") {
    val o = ivfOracle
    val got = Similarity.ivfTopK(embeddings, "vec_id", "embedding",
      Seq(0L, 7L, 123L), k = 5, nCentroids = 16, nProbe = 16)
      .select($"query_id", $"rank".cast("long"), $"vec_id")
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    for (qid <- Seq(0L, 7L, 123L)) {
      val expected = o.topK(qid, 16, 5)
      val actual = got(qid).sortBy(_._2).map(t => (t._2, t._3)).toSeq
      assert(actual == expected, s"query $qid: $actual vs $expected")
    }
  }

  test("IVF assignment matches the sort-based argmax oracle for every vector") {
    val o = ivfOracle
    val cents = Similarity.ivfSeedCentroids(embeddings, "vec_id", "embedding", 16)
    val got = embeddings
      .select($"vec_id", Similarity.ivfAssignUdf(cents)($"embedding").as("cid"))
      .as[(Long, Int)].collect().toMap
    o.rows.foreach { case (id, v) =>
      assert(got(id) == o.assign(v), s"vec $id")
    }
  }

  test("IVF recall is monotone in nProbe and hits 1.0 at full probe") {
    val o = ivfOracle
    val exact = o.topK(0L, 16, 5).map(_._2).toSet
    def recall(nProbe: Int): Double = {
      val got = Similarity.ivfTopK(embeddings, "vec_id", "embedding",
        Seq(0L), k = 5, nCentroids = 16, nProbe = nProbe)
        .select($"vec_id").as[Long].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val r1 = recall(1); val r4 = recall(4); val r16 = recall(16)
    assert(r1 <= r4 && r4 <= r16, s"recall not monotone: $r1 / $r4 / $r16")
    assert(r16 == 1.0)
    // the query's own list is always probed, so rank 1 is the query itself
    val top = Similarity.ivfTopK(embeddings, "vec_id", "embedding",
      Seq(0L), k = 1, nCentroids = 16, nProbe = 1)
      .select($"vec_id", $"cosine").as[(Long, Double)].head()
    assert(top == ((0L, 1.0)))
  }

  test("IVF candidate restriction is a broadcast equi-join, never a cross product") {
    val plan = Similarity.ivfTopK(embeddings, "vec_id", "embedding",
      Seq(0L, 1L), k = 5, nCentroids = 16, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cross product in IVF plan:\n$plan")
  }

  test("q78 in-plan Bloom prefilter: q69's rows, no UDF, no persist") {
    // q78 prefilters training grams with Spark's BloomFilterAggregate /
    // BloomFilterMightContain pair before its exact join. A driver-built
    // filter would show up as a ScalaUDF, an extra persisted RDD, or a
    // candidate stream wider than the 151 grams a data-sized sbbf passes
    // at sf0.001 (the in-plan filter passes the 97 true members).
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalaUDF}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val q78 = graft.queries.DocQueries.decontaminateBloom(spark, dir)
    val got = q78.collect().toSeq
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    assert(got == graft.queries.DocQueries.decontaminate(spark, dir).collect().toSeq)
    assert(got.nonEmpty)
    val plan = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(q78.queryExecution.executedPlan) { case n => n }
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))))
    // Catalyst also infers the predicate onto the bench side of the join;
    // the training side is the one that carries doc_id
    val trainingFilters = plan.collect {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) &&
          f.output.exists(_.name == "doc_id") => f
    }
    assert(trainingFilters.size == 1, q78.queryExecution.executedPlan.toString)
    val passed = trainingFilters.head.metrics("numOutputRows").value
    assert(passed > 0 && passed <= 151, s"Bloom prefilter passed $passed grams")
  }

  test("spherical k-means refine does not degrade the cosine objective") {
    val seed = Similarity.ivfSeedCentroids(embeddings, "vec_id", "embedding", 16)
    val refined = Similarity.ivfRefine(embeddings, "vec_id", "embedding", seed)
    assert(refined.length == 16 && refined.forall(_.length == 64))
    val o = ivfOracle
    def objective(cents: Array[Array[Double]]): Double =
      o.rows.map { case (_, v) =>
        cents.map(c => o.cos(v, c)).max
      }.sum
    val before = objective(seed)
    val after = objective(refined)
    // refine-then-reassign is monotone for spherical k-means; 1e-6 slack
    // covers the 6dp-rounded assignment inside the update step
    assert(after >= before - 1e-6, s"objective degraded: $before -> $after")
  }
}
