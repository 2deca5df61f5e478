package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for training-data pipelines (builder-prompt
  * first-class ops): MinHash+LSH, SimHash, and n-gram Jaccard — all as pure
  * Catalyst expressions (xxhash64 / transform / aggregate), no UDFs, so the
  * whole signature computation stays codegen'd and distributes with no
  * driver-side loops.
  *
  * Scale design: signatures are per-row narrow maps; the only shuffle is the
  * band-bucket groupBy, whose bucket sizes are bounded by `maxBucket`
  * (oversize buckets are excluded from pair generation — at 100 TB a single
  * degenerate bucket must not produce O(n²) pairs). The exclusion is
  * AUDITED: droppedBuckets exposes the cut buckets and minhashDedup counts
  * and logs them before proceeding.
  */
object Dedup {

  /** k-word shingles (default 3) as a string array column — the native
    * codegen'd scan (expressions.SketchExprs.WordShingles; round 6): the
    * interpreted HOF chain it replaced paid per-element lambda dispatch +
    * slice/concat allocations (the measured bulk of q27/q28's map stages).
    * Bit-parity with that chain pinned by SketchExprsSpec.
    */
  def shingles(text: Column, k: Int = 3): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.SketchExprs.WordShingles(
        org.apache.spark.sql.GraftColumnBridge.expression(text), k))

  /** 64-bit hashes of the shingles — the fused native scan+hash
    * (SketchExprs.WordShingleHashes; same XXH64/seed as `xxhash64`, so
    * every band key is unchanged); pinned to its HOF form by SketchExprsSpec.
    */
  def shingleHashes(text: Column, k: Int = 3): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.SketchExprs.WordShingleHashes(
        org.apache.spark.sql.GraftColumnBridge.expression(text), k))

  /** Deterministic multiply-add permutation constants (odd multipliers are
    * bijections on Z/2^64; universal-hashing MinHash, seed=42).
    */
  private[graft] def permConstants(numPerm: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(42)
    (Array.fill(numPerm)(rnd.nextLong() | 1L), Array.fill(numPerm)(rnd.nextLong()))
  }

  /** MinHash signature over a precomputed shingle-hash array column:
    * sig[j] = min over shingles of (a_j * h + b_j).
    *
    * The shingle hashing itself (split/slice/xxhash64) is codegen'd Catalyst;
    * the inner numPerm×|shingles| min-loop is the native codegen'd
    * [[graft.expressions.SketchExprs.MinHashSig]] expression (round 4 — it
    * replaced the round-2 JVM UDF, which SketchExprsSpec pins it against:
    * same loop, but the UDF paid a boxed Seq[Long] conversion per row that
    * the expression's in-place ArrayData reads eliminate; interpreted
    * Catalyst HOFs remain ~40× slower than either).
    */
  def minhashSignatureFromHashes(sh: Column, numPerm: Int = 64): Column = {
    val (as, bs) = permConstants(numPerm)
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.SketchExprs.MinHashSig(
        org.apache.spark.sql.GraftColumnBridge.expression(sh),
        as.toSeq, bs.toSeq))
  }

  /** LSH band keys: split the signature into `bands` bands of rows and hash
    * each band — docs sharing any band key are candidates (classic
    * banding: Leskovec et al., "Mining of Massive Datasets" ch.3).
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"), bandKey(sig, lit(b), rowsPerBand).as("key"))): _*)

  /** One band's key: xxhash64 over the band's signature slice — the single
    * definition both [[bandKeys]] and [[minhashBuckets]] hash with, so the
    * API form and the production bucket path cannot drift.
    */
  def bandKey(sig: Column, band: Column, rowsPerBand: Int): Column =
    xxhash64(slice(sig, band * rowsPerBand + 1, lit(rowsPerBand)))

  /** LSH band-bucket frame: one row per (band, key) with the sorted member
    * docs and the bucket size. Shared by the pair generator and the skew
    * audit so both see the same buckets.
    */
  def minhashBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numPerm: Int = 64,
      bands: Int = 16): DataFrame = {
    val rowsPerBand = numPerm / bands
    // band indices are exploded BEFORE the per-band key is computed, so the
    // signature sits in a projection BELOW the Generate and is provably
    // evaluated once per document: building the 16-struct band array from the
    // sig expression inline put 16 textual copies of the 64-perm min-loop in
    // one Project (an explicit alias doesn't help — CollapseProject treats
    // the expression as inlineable), leaving dedup to codegen CSE. A
    // Project/Generate boundary can't be collapsed. Band keys are unchanged:
    // xxhash64 over the band's signature slice, as [[bandKeys]] computes.
    df.select(col(idCol).as("doc"), shingleHashes(col(textCol)).as("_sh"))
      .select(col("doc"), minhashSignatureFromHashes(col("_sh"), numPerm).as("_sig"))
      .select(col("doc"), col("_sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc"), col("band"),
        bandKey(col("_sig"), col("band"), rowsPerBand).as("key"))
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("doc"))).as("docs"))
      .withColumn("bucket_size", size(col("docs")))
  }

  /** Buckets the `maxBucket` skew guard will drop — (band, key, bucket_size).
    * NO SILENT CAPS: a degenerate bucket (boilerplate shingle shared by 10⁶
    * docs) holds exactly the dup-densest documents; dropping it must be
    * visible. Callers either log this frame's stats (minhashDedup does) or
    * route the oversize buckets to an exact-dedup side channel.
    */
  def droppedBuckets(buckets: DataFrame, maxBucket: Int = 64): DataFrame =
    buckets.filter(col("bucket_size") > maxBucket)
      .select(col("band"), col("key"), col("bucket_size"))

  /** Candidate near-dup pairs from a bucket frame: for i<j emit
    * (docs[i], docs[j]) within each bucket of size in [2, maxBucket] —
    * expression-only, pair explosion bounded per bucket.
    */
  def candidatesFromBuckets(buckets: DataFrame, maxBucket: Int = 64): DataFrame =
    buckets
      .filter(col("bucket_size").between(2, maxBucket))
      .select(explode(flatten(transform(col("docs"),
        (x, i) => transform(slice(col("docs"), i + 2, size(col("docs"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))

  /** Exact n-gram Jaccard for pairs: |A∩B| / |A∪B| over distinct k-shingles. */
  def jaccard(shA: Column, shB: Column): Column =
    size(array_intersect(shA, shB)).cast("double") /
      size(array_union(shA, shB)).cast("double")

  /** MinHash LSH dedup end-to-end: candidates verified with exact shingle
    * Jaccard >= threshold. The verify step joins the candidate pairs back to
    * the raw texts and shingles AFTER the join — only candidate documents
    * are ever re-shingled, instead of shingling the whole corpus twice to
    * feed the joins (at 100 TB the corpus-side shingle arrays would also
    * have been the join's shuffle payload; texts of matched candidates are
    * the only rows that pay).
    *
    * The skew guard is audited, not silent. `audit` is tri-state:
    *  - `"observed"` (default): the dropped-bucket census rides the main
    *    query as a CollectMetrics observation ([[Dataset.observe]]) and is
    *    logged by a once-per-session listener when the consuming action
    *    completes — ZERO extra passes, but best-effort delivery (async
    *    listener bus; a driver that exits without `SparkSession.stop()` can
    *    drop the line, and a failed action logs partial counts);
    *  - `"eager"`: a GUARANTEED pre-action census — one dedicated action
    *    over the bucket frame BEFORE pair generation (the round-3 shape,
    *    ~1/3 of the operator's wall at 100 TB scale), logged synchronously;
    *    callers that must refuse-on-skew can equivalently run
    *    [[minhashBuckets]] + [[droppedBuckets]] themselves and branch;
    *  - `"off"`: no census.
    */
  def minhashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      maxBucket: Int = 64,
      audit: String = "observed"): DataFrame = {
    val buckets0 = minhashBuckets(df, idCol, textCol)
    val buckets = audit match {
      case "off" => buckets0
      case "eager" =>
        val census = droppedBuckets(buckets0, maxBucket)
          .agg(count(lit(1)), sum(col("bucket_size"))).head()
        if (census.getLong(0) > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"minhash eager audit: skew guard will drop ${census.getLong(0)} " +
              s"buckets > $maxBucket docs (${census.getLong(1)} doc slots)")
        buckets0
      case "observed" =>
        SkewAudit.observed(buckets0, "minhash", col("bucket_size"), maxBucket)
      case other =>
        throw new IllegalArgumentException(
          s"audit must be off|observed|eager, got '$other'")
    }
    val cands = candidatesFromBuckets(buckets, maxBucket)
    val docs = df.select(col(idCol).as("_vid"), col(textCol).as("_vtxt"))
    cands
      .join(docs.select(col("_vid").as("doc_a"), col("_vtxt").as("_txt_a")), "doc_a")
      .join(docs.select(col("_vid").as("doc_b"), col("_vtxt").as("_txt_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
        shingles(col("_txt_a")).as("sh_a"), shingles(col("_txt_b")).as("sh_b"))
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"), col("jaccard"))
  }

  /** 64-bit SimHash over whitespace tokens: bit i is the sign of the sum of
    * ±1 votes from each token hash's bit i (Charikar, STOC'02).
    */
  def simhash64(text: Column): Column = {
    // token hashing is the native SplitHashes scan (round 6 — the
    // `transform(split(text, " "), w -> xxhash64(w))` HOF it replaced was
    // interpreted per element); the 64-bit vote loop is the native
    // SketchExprs.SimHashVotes expression (round 4). SketchExprsSpec pins
    // both against the forms they replaced
    val hashes = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.SketchExprs.SplitHashes(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.SketchExprs.SimHashVotes(
        org.apache.spark.sql.GraftColumnBridge.expression(hashes)))
  }

  /** SimHash near-dup pairs: band the 64-bit fingerprint into `bands` keys of
    * 64/bands bits (any shared band ⇒ candidate), then verify hamming ≤
    * maxHamming via bit_count(xor).
    *
    * RECALL CONTRACT: by pigeonhole, banding is complete only for pairs with
    * hamming ≤ bands−1 — asking for a larger maxHamming silently returns a
    * recall subset (the round-1 defect), so it is REJECTED unless the caller
    * opts into `allowPartialRecall` explicitly. More bands buy more recall at
    * the cost of wider buckets (64/bands-bit keys collide exponentially more).
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 64,
      bands: Int = 4,
      allowPartialRecall: Boolean = false): DataFrame = {
    require(bands > 0 && 64 % bands == 0, s"bands=$bands must divide 64")
    require(allowPartialRecall || maxHamming <= bands - 1,
      s"$bands bands guarantee recall only for hamming <= ${bands - 1} " +
        s"(asked maxHamming=$maxHamming): raise bands or set allowPartialRecall=true")
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val sigs = df.select(col(idCol).as("doc"), simhash64(col(textCol)).as("sim"))
    val banded = sigs.select(col("doc"), col("sim"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sim"), b * bits).bitwiseAND(mask).as("key"))): _*)).as("b"))
    val buckets = banded
      .groupBy(col("b.band"), col("b.key"))
      .agg(sort_array(collect_set(struct(col("doc"), col("sim")))).as("ds"))
      .filter(size(col("ds")).between(2, maxBucket))
    buckets
      .select(explode(flatten(transform(col("ds"),
        (x, i) => transform(slice(col("ds"), i + 2, size(col("ds"))),
          y => struct(x("doc").as("doc_a"), y("doc").as("doc_b"),
            bit_count(x("sim").bitwiseXOR(y("sim"))).as("hamming")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"), col("p.hamming").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
