package graft.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the dedup-sketch hot loops (same extension
  * ladder rung as [[VectorExprs]]: a codegen'd `Expression` beats the Scala
  * UDF it replaces).
  *
  * Both loops were JVM UDFs since round 2 — the right call versus interpreted
  * Catalyst higher-order functions (measured ~40×), but a UDF still pays the
  * `CatalystTypeConverters` toll on every row: each `array<bigint>` input is
  * copied into a boxed `Seq[Long]` before the loop runs, and the result is
  * converted back. At q28's shape (~60k docs × ~90 shingle hashes × 64 perms)
  * the conversion allocates ~5.4M boxed longs per pass. These expressions
  * read `ArrayData` primitives in place, generate the fused loop into
  * whole-stage codegen, and write the signature back as an
  * `UnsafeArrayData` — zero boxing end-to-end.
  *
  * Parity contract (pinned bit-for-bit by SketchExprsSpec against the UDF
  * forms these replaced, now kept with the specs):
  * identical 64-bit wrapping arithmetic and loop order, so no oracled value
  * (q27/q28 jaccard, q29 hamming, band keys) can move. Null semantics are
  * STRICTER than the UDFs — a NULL input array or a NULL element returns
  * NULL instead of throwing `NullPointerException` mid-task (the UDF unboxes
  * `Seq[Long]` elements); no pipeline input produces either case (xxhash64
  * over non-null text), so this is a defensive upgrade, not a behavior
  * change on reachable data.
  */
object SketchExprs {

  /** MinHash signature over a 64-bit shingle-hash array:
    * `sig[j] = min over h of (as(j)*h + bs(j))` (universal multiply-add
    * permutations; reference semantics in Dedup.minhashSignatureFromHashes,
    * citing Leskovec et al. MMDS ch.3). Empty array → all-Long.MaxValue
    * signature (the fold init), matching the UDF.
    */
  case class MinHashSig(child: Expression, as: Seq[Long], bs: Seq[Long])
      extends UnaryExpression {
    require(as.nonEmpty && as.size == bs.size,
      s"minhash needs matching permutation constants, got ${as.size}/${bs.size}")

    private val numPerm = as.size
    @transient private lazy val aArr: Array[Long] = as.toArray
    @transient private lazy val bArr: Array[Long] = bs.toArray

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_minhash_sig"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> shingle hashes, got ${other.catalogString}")
    }

    override def nullSafeEval(input: Any): Any = {
      val h = input.asInstanceOf[ArrayData]
      val n = h.numElements()
      val sig = Array.fill(numPerm)(Long.MaxValue)
      var i = 0
      while (i < n) {
        if (h.isNullAt(i)) return null
        val x = h.getLong(i)
        var j = 0
        while (j < numPerm) {
          val v = aArr(j) * x + bArr(j)
          if (v < sig(j)) sig(j) = v
          j += 1
        }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(sig)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, h => {
        val a = ctx.addReferenceObj("graftMhA", aArr, "long[]")
        val b = ctx.addReferenceObj("graftMhB", bArr, "long[]")
        val n = ctx.freshName("n")
        val sig = ctx.freshName("sig")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val x = ctx.freshName("x")
        val v = ctx.freshName("v")
        s"""
           |final int $n = $h.numElements();
           |final long[] $sig = new long[$numPerm];
           |java.util.Arrays.fill($sig, Long.MAX_VALUE);
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($h.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  final long $x = $h.getLong($i);
           |  for (int $j = 0; $j < $numPerm; $j++) {
           |    final long $v = $a[$j] * $x + $b[$j];
           |    if ($v < $sig[$j]) $sig[$j] = $v;
           |  }
           |}
           |if (!${ev.isNull}) {
           |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
           |    .fromPrimitiveArray($sig);
           |}
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): MinHashSig =
      copy(child = newChild)
  }

  /** 64-bit SimHash from a token-hash array: bit i of the result is set iff
    * the sum over hashes of ±1 votes from hash bit i is positive (Charikar
    * STOC'02). Empty array → 0L (all votes zero), matching the UDF.
    */
  case class SimHashVotes(child: Expression) extends UnaryExpression {

    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_simhash"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> token hashes, got ${other.catalogString}")
    }

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData]
      val n = hs.numElements()
      val votes = new Array[Int](64)
      var k = 0
      while (k < n) {
        if (hs.isNullAt(k)) return null
        val h = hs.getLong(k)
        var i = 0
        while (i < 64) {
          votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
          i += 1
        }
        k += 1
      }
      var sim = 0L
      var i = 0
      while (i < 64) { if (votes(i) > 0) sim |= 1L << i; i += 1 }
      sim
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, hs => {
        val n = ctx.freshName("n")
        val votes = ctx.freshName("votes")
        val k = ctx.freshName("k")
        val h = ctx.freshName("h")
        val i = ctx.freshName("i")
        s"""
           |${ev.value} = 0L; // nullSafeCodeGen's default for long is -1L; the |= fold needs 0
           |final int $n = $hs.numElements();
           |final int[] $votes = new int[64];
           |for (int $k = 0; $k < $n; $k++) {
           |  if ($hs.isNullAt($k)) { ${ev.isNull} = true; break; }
           |  final long $h = $hs.getLong($k);
           |  for (int $i = 0; $i < 64; $i++) {
           |    $votes[$i] += ((($h >>> $i) & 1L) == 1L) ? 1 : -1;
           |  }
           |}
           |if (!${ev.isNull}) {
           |  for (int $i = 0; $i < 64; $i++) {
           |    if ($votes[$i] > 0) ${ev.value} |= (1L << $i);
           |  }
           |}
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): SimHashVotes =
      copy(child = newChild)
  }

  /** Shared byte-level k-gram scanner for [[WordShingles]] /
    * [[WordShingleHashes]] / [[SplitHashes]] (round 6 — guide §1.2 "per-task
    * work": the interpreted HOF chain
    * `array_distinct(transform(sequence(...), i -> concat_ws(slice(...))))`
    * was the measured bulk of q27/q28's map stages, ~50µs per shingle of
    * per-element lambda dispatch + slice/concat allocations). `split(text,
    * " ")` splits on the literal single-space pattern keeping ALL empty
    * tokens, and `concat_ws(" ", slice(words, i+1, k))` re-joins with the
    * same separator — so every k-gram is exactly the byte span of the
    * original string from word i's start to word i+k−1's end (a space byte,
    * 0x20, never occurs inside a UTF-8 multibyte sequence). One pass finds
    * the space offsets; shingles are byte spans; hashing is the same XXH64
    * call `xxhash64(shingle)` lowers to. Parity with the HOF forms (kept
    * with the specs as the semantics reference) is pinned bit-for-bit by
    * SketchExprsSpec, including the null-text case ([""] —
    * the `when` in the HOF form falls through to the otherwise branch) and
    * empty/consecutive/trailing-space token edge cases.
    */
  private object ShingleScan {
    val Seed = 42L // xxhash64's default seed (XxHash64 expression)

    /** Offsets of word starts within `b` plus a sentinel end: word i spans
      * [starts(i), starts(i+1)-1) — the -1 skips the separating space; the
      * last word ends at b.length.
      */
    def wordStarts(b: Array[Byte]): Array[Int] = {
      var spaces = 0
      var i = 0
      while (i < b.length) { if (b(i) == 0x20) spaces += 1; i += 1 }
      val starts = new Array[Int](spaces + 2)
      var w = 1
      i = 0
      while (i < b.length) {
        if (b(i) == 0x20) { starts(w) = i + 1; w += 1 }
        i += 1
      }
      starts(w) = b.length + 1 // sentinel: end(last) = starts(last+1)-1
      starts
    }

    /** Distinct k-gram spans in first-occurrence order as (from, to) byte
      * ranges; numWords < k collapses to the whole string (the HOF form's
      * `otherwise` branch — rejoining all words is the identity).
      */
    def kgramSpans(b: Array[Byte], starts: Array[Int], k: Int): Array[Long] = {
      val numWords = starts.length - 1
      if (numWords < k) return Array(pack(0, b.length))
      val seen = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
      val out = new Array[Long](numWords - k + 1)
      var n = 0
      var i = 0
      while (i <= numWords - k) {
        val from = starts(i)
        val to = starts(i + k) - 1
        val s = org.apache.spark.unsafe.types.UTF8String.fromAddress(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from, to - from)
        if (seen.add(s)) { out(n) = pack(from, to); n += 1 }
        i += 1
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }

    private def pack(from: Int, to: Int): Long = (from.toLong << 32) | to.toLong
    def from(span: Long): Int = (span >>> 32).toInt
    def to(span: Long): Int = span.toInt
  }

  /** Distinct k-word shingles as an array<string> — the codegen'd form of
    * `Dedup.shingles`' original HOF chain (see [[ShingleScan]]). Null text
    * yields [""] for bit-parity with the HOF form's fall-through.
    */
  case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
    require(k >= 1, s"shingle k=$k must be >= 1")
    import org.apache.spark.unsafe.types.UTF8String

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "graft_shingles"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${other.catalogString}")
    }

    @transient private lazy val nullResult: ArrayData =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](UTF8String.EMPTY_UTF8))

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) nullResult else kernel(v.asInstanceOf[UTF8String])
    }

    def kernel(s: UTF8String): ArrayData = {
      val b = s.getBytes
      val starts = ShingleScan.wordStarts(b)
      val spans = ShingleScan.kgramSpans(b, starts, k)
      val out = new Array[Any](spans.length)
      var i = 0
      while (i < spans.length) {
        val from = ShingleScan.from(spans(i))
        out(i) = UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(b, from, ShingleScan.to(spans(i))))
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val ref = ctx.addReferenceObj("graftShingles", this, classOf[WordShingles].getName)
      val c = child.genCode(ctx)
      ev.copy(code =
        code"""
          |${c.code}
          |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          |  ${c.isNull} ? $ref.nullArray() : $ref.kernel(${c.value});
          """.stripMargin, isNull = FalseLiteral)
    }

    def nullArray(): ArrayData = nullResult

    override protected def withNewChildInternal(newChild: Expression): WordShingles =
      copy(child = newChild)
  }

  /** xxhash64 over each distinct k-word shingle — the codegen'd fusion of
    * `transform(shingles(text, k), s -> xxhash64(s))` (see [[ShingleScan]];
    * hashing uses the same XXH64/seed-42 call the XxHash64 expression
    * lowers string inputs to, so every band key and bucket id is unchanged).
    * Null text yields [xxhash64("")] for parity with the HOF fall-through.
    */
  case class WordShingleHashes(child: Expression, k: Int) extends UnaryExpression {
    require(k >= 1, s"shingle k=$k must be >= 1")
    import org.apache.spark.unsafe.types.UTF8String

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "graft_shingle_hashes"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${other.catalogString}")
    }

    @transient private lazy val nullResult: ArrayData =
      UnsafeArrayData.fromPrimitiveArray(Array(
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          Array.emptyByteArray, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          0, ShingleScan.Seed)))

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) nullResult else kernel(v.asInstanceOf[UTF8String])
    }

    def kernel(s: UTF8String): ArrayData = {
      val b = s.getBytes
      val starts = ShingleScan.wordStarts(b)
      val spans = ShingleScan.kgramSpans(b, starts, k)
      val out = new Array[Long](spans.length)
      var i = 0
      while (i < spans.length) {
        val from = ShingleScan.from(spans(i))
        out(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
          ShingleScan.to(spans(i)) - from, ShingleScan.Seed)
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val ref = ctx.addReferenceObj("graftShingleHashes", this,
        classOf[WordShingleHashes].getName)
      val c = child.genCode(ctx)
      ev.copy(code =
        code"""
          |${c.code}
          |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          |  ${c.isNull} ? $ref.nullArray() : $ref.kernel(${c.value});
          """.stripMargin, isNull = FalseLiteral)
    }

    def nullArray(): ArrayData = nullResult

    override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
      copy(child = newChild)
  }

  /** xxhash64 per whitespace token, ALL tokens, no distinct — the codegen'd
    * fusion of `transform(split(text, " "), w -> xxhash64(w))` feeding
    * [[SimHashVotes]]. Null-safe like the HOF form (null text → null).
    */
  case class SplitHashes(child: Expression) extends UnaryExpression {
    import org.apache.spark.unsafe.types.UTF8String

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_split_hashes"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${other.catalogString}")
    }

    override def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[UTF8String])

    def kernel(s: UTF8String): ArrayData = {
      val b = s.getBytes
      val starts = ShingleScan.wordStarts(b)
      val numWords = starts.length - 1
      val out = new Array[Long](numWords)
      var i = 0
      while (i < numWords) {
        val from = starts(i)
        val len = starts(i + 1) - 1 - from
        out(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from, len,
          ShingleScan.Seed)
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftSplitHashes", this, classOf[SplitHashes].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): SplitHashes =
      copy(child = newChild)
  }

  /** Extract the long[] from a foldable array<bigint> literal (the SQL
    * surface's permutation-constant arguments).
    */
  private def longsFromExpr(e: Expression, what: String): Seq[Long] = {
    val ok = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    require(e.foldable && ok,
      s"graft_minhash_sig $what must be a foldable array<bigint> literal, " +
        s"got ${e.dataType.catalogString}")
    e.eval().asInstanceOf[ArrayData].toLongArray().toSeq
  }

  /** SQL-surface registrations, injected alongside [[VectorExprs.entries]]
    * by both `VectorExprs.ensure` and `GraftExtensions`:
    * `graft_minhash_sig(hashes, as, bs)` and `graft_simhash(hashes)`.
    */
  val entries: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      {
        case Seq(h, a, b) =>
          MinHashSig(h, longsFromExpr(a, "argument 2 (multipliers)"),
            longsFromExpr(b, "argument 3 (offsets)"))
        case other => throw new IllegalArgumentException(
          s"graft_minhash_sig takes 3 arguments, got ${other.size}")
      }),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashVotes].getName, "graft_simhash"),
      {
        case Seq(h) => SimHashVotes(h)
        case other => throw new IllegalArgumentException(
          s"graft_simhash takes 1 argument, got ${other.size}")
      }))
}
