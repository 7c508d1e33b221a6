package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The engine's token rule, defined once: a token is a maximal run of
  * ASCII `[A-Za-z0-9]` bytes; every other byte (`_`, punctuation,
  * whitespace and every byte >= 0x80) is a separator; case-sensitive;
  * no normalization (the reference's `src/main.c:187-189` byte class
  * and `217-266` scan). Every operator that tokenizes — TokenCounts, the
  * chunked text source's boundary rule, SnmBase and the generators —
  * reads it from here; [[Text]] is the same rule as composable Columns
  * for the DuckDB-mirrored formulations.
  *
  * Byte-level classification is correct for UTF-8 input because every
  * byte >= 0x80 is a separator by the token contract (SURVEY §1.4) and
  * ASCII bytes never occur inside multi-byte sequences.
  */
object Tokens {

  /** The reference's word-byte class, indexed by unsigned byte value:
    * one load per byte in place of three range tests. */
  private val WordByte: Array[Boolean] = Array.tabulate(256) { i =>
    (i >= 'a' && i <= 'z') || (i >= 'A' && i <= 'Z') || (i >= '0' && i <= '9')
  }

  /** The reference's word-byte class. */
  @inline def isWordByte(b: Byte): Boolean = WordByte(b & 0xFF)

  /** The first token of `bytes[from, len)` as `(start << 32) | end`
    * (end exclusive), or -1 when there is none. Allocation-free: a scan
    * is `next` from 0, then from each token's [[end]].
    */
  @inline def next(bytes: Array[Byte], from: Int, len: Int): Long = {
    var i = from
    while (i < len && !isWordByte(bytes(i))) i += 1
    if (i >= len) -1L
    else {
      val s = i
      i += 1
      while (i < len && isWordByte(bytes(i))) i += 1
      (s.toLong << 32) | i
    }
  }

  @inline def start(t: Long): Int = (t >>> 32).toInt
  @inline def end(t: Long): Int = t.toInt

  /** Token `k` spans `[starts(k), ends(k))`, for `k < size`. */
  final class Spans(starts: Array[Int], ends: Array[Int], val size: Int) {
    @inline def start(k: Int): Int = starts(k)
    @inline def end(k: Int): Int = ends(k)
    @inline def len(k: Int): Int = ends(k) - starts(k)
  }

  /** Every token span of `bytes`, in order, in primitive arrays. */
  def spans(bytes: Array[Byte]): Spans = {
    val len = bytes.length
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var n = 0
    var t = next(bytes, 0, len)
    while (t >= 0) {
      if (n == starts.length) {
        starts = java.util.Arrays.copyOf(starts, n * 2)
        ends = java.util.Arrays.copyOf(ends, n * 2)
      }
      starts(n) = start(t)
      ends(n) = end(t)
      n += 1
      t = next(bytes, end(t), len)
    }
    new Spans(starts, ends, n)
  }

  /** Tokens `[from, until)` of `sp` joined by single spaces, one copy. */
  def joined(bytes: Array[Byte], sp: Spans, from: Int, until: Int): UTF8String = {
    var size = until - from - 1 // the joining spaces
    var j = from
    while (j < until) { size += sp.len(j); j += 1 }
    val out = new Array[Byte](size)
    var pos = 0
    j = from
    while (j < until) {
      if (j > from) { out(pos) = ' '; pos += 1 }
      System.arraycopy(bytes, sp.start(j), out, pos, sp.len(j))
      pos += sp.len(j)
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  /** The tokens of `bytes` as zero-copy slices, scanned lazily. */
  def strings(bytes: Array[Byte]): Iterator[UTF8String] = {
    val len = bytes.length
    new Iterator[UTF8String] {
      private var t = Tokens.next(bytes, 0, len)
      override def hasNext: Boolean = t >= 0
      override def next(): UTF8String = {
        val tok = UTF8String.fromBytes(bytes, start(t), end(t) - start(t))
        t = Tokens.next(bytes, end(t), len)
        tok
      }
    }
  }
}
