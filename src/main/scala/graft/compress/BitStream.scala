package graft.compress

/** Append-only bit writer over a growable Long array.
  *
  * Pure JVM, no Spark deps — used by the Gorilla/delta-of-delta page codec
  * (SURVEY.md §2.9). The reference (f1shl3gs/vertex) has no columnar
  * compression (snappy/gzip only, src/sinks/prometheus_remote_write.rs:203-207);
  * this derives from the Gorilla paper (Pelkonen et al., VLDB'15).
  */
final class BitWriter(initialWords: Int = 16) {
  private var words = new Array[Long](math.max(initialWords, 2))
  private var bitLen: Long = 0L

  @inline private def ensure(nBits: Int): Unit = {
    val needWords = ((bitLen + nBits + 63) >>> 6).toInt
    if (needWords > words.length) {
      var cap = words.length
      while (cap < needWords) cap <<= 1
      words = java.util.Arrays.copyOf(words, cap)
    }
  }

  /** Write the low `n` bits of `v` (MSB-first within the field). 0 <= n <= 64. */
  def writeBits(v: Long, n: Int): Unit = {
    if (n == 0) return
    ensure(n)
    val value = if (n == 64) v else v & ((1L << n) - 1)
    var remaining = n
    var idx = (bitLen >>> 6).toInt
    var bitPos = (bitLen & 63).toInt // bits already used in current word
    while (remaining > 0) {
      val space = 64 - bitPos
      val take = math.min(space, remaining)
      // bits of `value` from (remaining-1) down to (remaining-take)
      val chunk = (value >>> (remaining - take)) & (if (take == 64) -1L else (1L << take) - 1)
      words(idx) |= chunk << (space - take)
      remaining -= take
      bitPos += take
      if (bitPos == 64) { bitPos = 0; idx += 1 }
    }
    bitLen += n
  }

  def writeBit(b: Boolean): Unit = writeBits(if (b) 1L else 0L, 1)

  /** Snapshot to a byte array: [4-byte big-endian bit length][packed words].
    * The header is 32-bit, so pages are capped at 2^32-1 bits (~512 MB) —
    * fail loudly rather than silently truncating the length and decoding
    * garbage (a degenerate hot (series,bucket) group could otherwise hit it).
    */
  def toByteArray: Array[Byte] = {
    require(bitLen <= 0xFFFFFFFFL,
      s"page overflows the 32-bit length header: $bitLen bits — split the (series,bucket) group")
    val nBytes = ((bitLen + 7) >>> 3).toInt
    val out = new Array[Byte](4 + nBytes)
    out(0) = (bitLen >>> 24).toByte
    out(1) = (bitLen >>> 16).toByte
    out(2) = (bitLen >>> 8).toByte
    out(3) = bitLen.toByte
    var i = 0
    while (i < nBytes) {
      val w = words(i >>> 3)
      out(4 + i) = (w >>> (56 - ((i & 7) << 3))).toByte
      i += 1
    }
    out
  }
}

/** MSB-first bit reader over the BitWriter wire format. */
final class BitReader(bytes: Array[Byte]) {
  private val bitLen: Long =
    ((bytes(0) & 0xffL) << 24) | ((bytes(1) & 0xffL) << 16) |
      ((bytes(2) & 0xffL) << 8) | (bytes(3) & 0xffL)
  private var pos: Long = 0L

  def remaining: Long = bitLen - pos

  /** Read `n` bits MSB-first, returned in the low bits of the result. */
  def readBits(n: Int): Long = {
    if (n == 0) return 0L
    require(pos + n <= bitLen, s"bitstream underflow: pos=$pos n=$n len=$bitLen")
    var result = 0L
    var remainingBits = n
    while (remainingBits > 0) {
      val byteIdx = 4 + (pos >>> 3).toInt
      val bitInByte = (pos & 7).toInt
      val avail = 8 - bitInByte
      val take = math.min(avail, remainingBits)
      val b = bytes(byteIdx) & 0xff
      val chunk = (b >>> (avail - take)) & ((1 << take) - 1)
      result = (result << take) | chunk
      pos += take
      remainingBits -= take
    }
    result
  }

  def readBit(): Boolean = readBits(1) == 1L
}
