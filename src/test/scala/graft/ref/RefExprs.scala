package graft.ref

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The interpreted forms the native Catalyst kernels replaced — Catalyst
  * higher-order-function chains and JVM UDFs — kept as executable semantics
  * REFERENCES: the parity specs pin each native expression bit-for-bit
  * against its form here (same arithmetic, same loop order, same null and
  * edge-case behavior), which is what licenses the swap under the oracles.
  * No production path calls them.
  */
object RefExprs {

  /** Σ aᵢbᵢ in double precision, folded left to right — the reference for
    * `Similarity.dot` (VectorExprs.DotF; same IEEE add order, same
    * null/length behavior), pinned under the rounded-cosine oracles
    * (q22/q51/q56).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Per-plane composition of `Similarity.lshBucket` (VectorExprs.SignSig):
    * null vectors and dim mismatches collapse to bucket 0 in both forms.
    */
  def lshBucketHof(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotHof(emb, typedlit(p.toSeq)) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** k-word shingles — the reference for `Dedup.shingles`
    * (SketchExprs.WordShingles).
    */
  def shinglesHof(text: Column, k: Int = 3): Column = {
    val words = split(text, " ")
    when(size(words) >= k,
      array_distinct(transform(sequence(lit(0), size(words) - k),
        i => concat_ws(" ", slice(words, i + 1, lit(k))))))
      .otherwise(array(concat_ws(" ", words))) // short docs: one shingle
  }

  /** Shingle hashes — the reference for `Dedup.shingleHashes`
    * (SketchExprs.WordShingleHashes).
    */
  def shingleHashesHof(text: Column, k: Int = 3): Column =
    transform(shinglesHof(text, k), s => xxhash64(s))

  /** Whitespace-token hashes — the reference for SketchExprs.SplitHashes. */
  def splitHashesHof(text: Column): Column =
    transform(split(text, " "), w => xxhash64(w))

  /** The MinHash UDF — the reference for `Dedup.minhashSignatureFromHashes`
    * (SketchExprs.MinHashSig), over the same permutation constants.
    */
  def minhashSignatureUdf(sh: Column, numPerm: Int = 64): Column = {
    val (as, bs) = graft.ops.Dedup.permConstants(numPerm)
    val sigUdf = udf { (hashes: Seq[Long]) =>
      val sig = Array.fill(numPerm)(Long.MaxValue)
      hashes.foreach { h =>
        var j = 0
        while (j < numPerm) {
          val v = as(j) * h + bs(j)
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      sig
    }
    sigUdf(sh)
  }

  /** The SimHash vote-loop UDF — the reference for `Dedup.simhash64`'s
    * SketchExprs.SimHashVotes.
    */
  def simhashVotesUdf(hashes: Column): Column = {
    val voteUdf = udf { (hs: Seq[Long]) =>
      val votes = new Array[Int](64)
      hs.foreach { h =>
        var i = 0
        while (i < 64) { votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
      }
      var sim = 0L
      var i = 0
      while (i < 64) { if (votes(i) > 0) sim |= (1L << i); i += 1 }
      sim
    }
    voteUdf(hashes)
  }

  /** Canonical sorted "k=v,k=v" tags with '\', '=' and ',' backslash-escaped
    * — the reference for `TagOps.canonicalTags` (TagExprs.CanonicalTags).
    */
  def canonicalTagsHof(tags: Column): Column = {
    def esc(c: Column): Column = regexp_replace(c, "([\\\\=,])", "\\\\$1")
    array_join(
      transform(array_sort(map_entries(tags)),
        e => concat(esc(e("key")), lit("="), esc(e("value")))),
      ",")
  }
}
