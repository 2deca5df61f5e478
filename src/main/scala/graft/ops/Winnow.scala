package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Rolling-hash document fingerprinting by winnowing (Schleimer, Wilkerson,
  * Aiken — "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD'03; the builder-prompt "document fingerprinting (rolling hash)"
  * op): hash every k-codepoint gram with an exact polynomial rolling hash
  * (base 257 mod 1e9+7 — integer math identical in any engine), slide a
  * w-gram window, keep each window's MINIMUM hash; the distinct minima are
  * the document's fingerprint set.
  *
  * Guarantee (the paper's): any substring match of length ≥ w + k − 1
  * codepoints between two documents shares at least one fingerprint — so
  * fingerprint-set overlap is a substring-plagiarism detector with bounded
  * density (~2/(w+1) of all grams selected).
  *
  * Scale shape: one narrow codegen'd projection + a per-row JVM loop
  * (O(len·k) hashing + O(len·w) minima — bounded by document length), no
  * shuffle; downstream joins on fingerprints are ordinary hash joins. The
  * arithmetic is exact BIGINT, so a DuckDB list-lambda replay is an exact
  * oracle (q55).
  */
object Winnow {

  final case class WinnowStats(n_kgrams: Long, n_fps: Long,
      min_fp: Option[Long], fp_sum: Option[Long])

  val B = 257L
  val M = 1000000007L

  /** k-gram polynomial hashes over CODEPOINTS (matching character-addressed
    * SQL string functions; UTF-16 chars would diverge on non-BMP input).
    */
  def kgramHashes(text: String, k: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val cps = text.codePoints().toArray
    val n = cps.length
    if (n < k) return Array.emptyLongArray
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * B + cps(i + j)) % M; j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  /** Distinct window-of-w minima of the k-gram hashes (sorted ascending). */
  def fingerprints(text: String, k: Int, w: Int): Array[Long] = {
    val hs = kgramHashes(text, k)
    if (hs.isEmpty) return Array.emptyLongArray
    val nw = math.max(1, hs.length - w + 1)
    val set = new java.util.TreeSet[java.lang.Long]()
    var x = 0
    while (x < nw) {
      var mn = Long.MaxValue
      var j = x
      val end = math.min(x + w, hs.length)
      while (j < end) { if (hs(j) < mn) mn = hs(j); j += 1 }
      set.add(mn)
      x += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  def stats(text: String, k: Int, w: Int): WinnowStats = {
    val hs = kgramHashes(text, k)
    val fps = fingerprints(text, k, w)
    if (fps.isEmpty) WinnowStats(hs.length.toLong, 0L, None, None)
    else WinnowStats(hs.length.toLong, fps.length.toLong,
      Some(fps.head), Some(fps.sum))
  }

  /** Column form: struct(n_kgrams, n_fps, min_fp, fp_sum). */
  def statsCol(text: Column, k: Int = 8, w: Int = 16): Column = {
    val u = udf { (t: String) => stats(t, k, w) }
    u(text)
  }
}
