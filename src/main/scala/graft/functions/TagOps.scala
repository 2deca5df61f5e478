package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** First-class tag-map metric model + the full relabel op library
  * (SURVEY.md §2.2; reference /root/reference/src/transforms/relabel.rs:15-134).
  *
  * The reference's metric identity is `{name, tags}` where tags is an ordered
  * string map (/root/reference/lib/event/src/metric/mod.rs:67-71). Here tags
  * are a MapType(String, String) column and every relabel operation is a pure
  * Catalyst composition over it (map_filter / map_concat / transform_values),
  * so a chain of ops stays a single projection — no shuffle, no UDF.
  *
  * Semantics mirror relabel.rs Operation::apply one-to-one, including the
  * details the table-driven tests at relabel.rs:190-384 pin down:
  *  - Add is insert-if-absent; Set always overwrites
  *  - Rename only fires when the source key exists, and overwrites the target
  *  - Lowercase/Uppercase touch only the target key's value
  *  - HashMod hashes the VALUE's bytes (md5[8..16] as big-endian u64 mod m,
  *    relabel.rs:84-128) and writes to `target` (or back to `source`)
  *  - Drop/Keep retain by UNANCHORED regex match on the KEY (Rust
  *    Regex::is_match = find; Spark rlike has the same find semantics)
  */
object TagOps {

  /** Serializable per-thread MD5 holder for executor-side closures (a bare
    * anonymous ThreadLocal subclass is not serializable).
    */
  private object Md5 extends Serializable {
    @transient private lazy val tl =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))
    def local(): java.security.MessageDigest = tl.get()
  }

  /** One relabel operation; apply a config list with [[applyOps]]. */
  sealed trait TagOp
  final case class SetTag(key: String, value: Column) extends TagOp
  final case class AddTag(key: String, value: Column) extends TagOp
  final case class DeleteTag(key: String) extends TagOp
  final case class RenameTag(key: String, newKey: String) extends TagOp
  final case class LowercaseTag(target: String) extends TagOp
  final case class UppercaseTag(target: String) extends TagOp
  final case class HashModTag(source: String, target: Option[String], modules: Int) extends TagOp
  final case class DropTags(keyRegex: String) extends TagOp
  final case class KeepTags(keyRegex: String) extends TagOp

  def set(tags: Column, key: String, value: Column): Column =
    map_concat(map_filter(tags, (k, _) => k =!= key), map(lit(key), value.cast("string")))

  def add(tags: Column, key: String, value: Column): Column =
    when(map_contains_key(tags, lit(key)), tags)
      .otherwise(map_concat(tags, map(lit(key), value.cast("string"))))

  def delete(tags: Column, key: String): Column =
    map_filter(tags, (k, _) => k =!= key)

  def rename(tags: Column, key: String, newKey: String): Column =
    when(map_contains_key(tags, lit(key)),
      set(delete(tags, key), newKey, element_at(tags, key)))
      .otherwise(tags)

  def lowercaseTag(tags: Column, target: String): Column =
    transform_values(tags, (k, v) => when(k === target, lower(v)).otherwise(v))

  def uppercaseTag(tags: Column, target: String): Column =
    transform_values(tags, (k, v) => when(k === target, upper(v)).otherwise(v))

  /** HashMod: md5(value bytes)[8..16] as unsigned u64 mod m, written to
    * `target` (default: back onto `source`); no-op when `source` is absent.
    * Shares the md5 arithmetic with [[Vtl.hashMod]] (ScalaTest-verified
    * against a MessageDigest oracle + the reference's own golden case).
    */
  def hashModTag(tags: Column, source: String, target: Option[String], modules: Int): Column =
    when(map_contains_key(tags, lit(source)),
      set(tags, target.getOrElse(source),
        Vtl.hashMod(element_at(tags, source), modules).cast("string")))
      .otherwise(tags)

  def dropTags(tags: Column, keyRegex: String): Column =
    map_filter(tags, (k, _) => !k.rlike(keyRegex))

  def keepTags(tags: Column, keyRegex: String): Column =
    map_filter(tags, (k, _) => k.rlike(keyRegex))

  /** Apply a relabel config (ordered op list) to a tags column. */
  def applyOps(tags: Column, ops: Seq[TagOp]): Column =
    ops.foldLeft(tags) {
      case (t, SetTag(k, v)) => set(t, k, v)
      case (t, AddTag(k, v)) => add(t, k, v)
      case (t, DeleteTag(k)) => delete(t, k)
      case (t, RenameTag(k, n)) => rename(t, k, n)
      case (t, LowercaseTag(k)) => lowercaseTag(t, k)
      case (t, UppercaseTag(k)) => uppercaseTag(t, k)
      case (t, HashModTag(s, tgt, m)) => hashModTag(t, s, tgt, m)
      case (t, DropTags(re)) => dropTags(t, re)
      case (t, KeepTags(re)) => keepTags(t, re)
    }

  /** Fused op chain: ONE JVM pass over the map per row instead of a stack of
    * interpreted Catalyst map HOFs. Catalyst's map_filter / map_concat /
    * transform_values are interpreted (not codegen'd), and each op in
    * [[applyOps]] materializes an intermediate map — measured 6.95 s of
    * q38's 7.56 s at sf0.1 for a 9-op chain; this fused form does the same
    * chain in one pass (~10×). Dynamic Set/Add values ride along as a string
    * array argument. Semantics are identical to [[applyOps]] — the TagOpsSpec
    * matrix runs against BOTH implementations.
    *
    * Use [[applyOps]] for 1-2 ops mixed into larger expressions (stays in the
    * Catalyst graph, no serialization boundary); use this for real relabel
    * configs (3+ ops) on hot paths.
    */
  def applyOpsFused(tags: Column, ops: Seq[TagOp]): Column = {
    val argCols = Seq.newBuilder[Column]
    var nextArg = -1
    def arg(v: Column): Int = { argCols += v.cast("string"); nextArg += 1; nextArg }
    val appliers: Seq[(Map[String, String], Seq[String]) => Map[String, String]] = ops.map {
      case SetTag(k, v) =>
        val j = arg(v); (m, a) => m.updated(k, a(j))
      case AddTag(k, v) =>
        val j = arg(v); (m, a) => if (m.contains(k)) m else m.updated(k, a(j))
      case DeleteTag(k) => (m, _) => m - k
      case RenameTag(k, n) =>
        (m, _) => m.get(k).map(v => (m - k).updated(n, v)).getOrElse(m)
      case LowercaseTag(t) =>
        (m, _) => m.get(t).map(v => m.updated(t, v.toLowerCase(java.util.Locale.ROOT))).getOrElse(m)
      case UppercaseTag(t) =>
        (m, _) => m.get(t).map(v => m.updated(t, v.toUpperCase(java.util.Locale.ROOT))).getOrElse(m)
      case HashModTag(src, tgt, modules) =>
        (m, _) => m.get(src).map { v =>
          val d = Md5.local()
          d.reset()
          val h = d.digest(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val u = new java.math.BigInteger(1, java.util.Arrays.copyOfRange(h, 8, 16))
          m.updated(tgt.getOrElse(src),
            u.mod(java.math.BigInteger.valueOf(modules.toLong)).toString)
        }.getOrElse(m)
      case DropTags(re) =>
        val p = java.util.regex.Pattern.compile(re)
        (m, _) => m.filter { case (k, _) => !p.matcher(k).find() }
      case KeepTags(re) =>
        val p = java.util.regex.Pattern.compile(re)
        (m, _) => m.filter { case (k, _) => p.matcher(k).find() }
    }
    val fused = udf { (m: Map[String, String], args: Seq[String]) =>
      if (m == null) null
      else appliers.foldLeft(m)((acc, g) => g(acc, args))
    }
    val argsArr = {
      val cs = argCols.result()
      if (cs.isEmpty) array().cast("array<string>") else array(cs: _*)
    }
    fused(tags, argsArr)
  }

  /** Canonical sorted "k=v,k=v" form — the tags half of a series identity
    * (BTreeMap iteration order in the reference; prometheus.rs:155-165 sorts
    * labels the same way before encoding). Sort order is on the RAW keys;
    * keys/values are escaped ('\' '=' ',' → backslash-prefixed) so the string
    * is injective and safe as an exact grouping key — a value containing
    * "1,b=2" cannot collide with a second tag (tag values with commas are
    * reachable: PromText parses quoted label values). Tags without those
    * metacharacters render exactly as before.
    *
    * Native one-pass kernel (round 6 — expressions.TagExprs.CanonicalTags):
    * the HOF composition it replaced was four interpreted higher-order
    * functions per row — the per-row cost of every tag-model groupBy key.
    * Bit-parity with that composition pinned by TagOpsSpec.
    */
  def canonicalTags(tags: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.TagExprs.CanonicalTags(
        org.apache.spark.sql.GraftColumnBridge.expression(tags)))

  /** 64-bit series identity over (name, sorted tags) — the shuffle/join key
    * for every tag-model rollup. Collision-safe enough for partitioning; the
    * full (name, canonicalTags) pair stays available for exact grouping.
    */
  def seriesKey(name: Column, tags: Column): Column =
    xxhash64(name, canonicalTags(tags))
}
