package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused L-token window fingerprint Generator for exact-substring
  * dedup (Lee et al., "Deduplicating Training Data Makes Language
  * Models Better"): one output row per token position, carrying the
  * position and a 128-bit ROLLING content fingerprint of the L-token
  * window starting there.
  *
  * The fingerprint is two independent polynomial streams over mod-2^64
  * arithmetic (native Long overflow — no reduction cost), fed by
  * avalanche-mixed per-token hashes. Order-sensitive, O(1) per window
  * after O(L) init: each token is byte-hashed once, then every window
  * hash is one subtract-multiply-add roll from its predecessor — so a
  * doc costs O(tokens), not O(tokens * L), and the corpus-wide
  * duplicate scan shuffles O(positions) fixed 24-byte rows instead of
  * O(positions * L) window text.
  *
  * Collision contract: two DIFFERENT window contents collide only if
  * both 64-bit streams (distinct odd multipliers, distinct token-hash
  * seeds) collide simultaneously — ~2^-128 per pair, the engine's
  * digest-key discipline (mm_dedup keys binary payloads on md5 the
  * same way). A two-tier variant that re-verified candidates against
  * sliced window text was measured 10x slower end-to-end (interpreted
  * HOF slices + per-row string allocation caused a GC storm) for a
  * guarantee no stronger than this one.
  *
  * Token contract: the engine-wide rule in `functions/Tokens.scala`.
  * Docs with fewer than L tokens emit nothing.
  */
case class WindowHashExplode(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(
    StructField("pos", LongType, nullable = false) ::
    StructField("h1", LongType, nullable = false) ::
    StructField("h2", LongType, nullable = false) :: Nil)

  override def prettyName: String = "graft_window_hashes"

  // distinct odd multipliers (golden-ratio and a SplitMix64-style
  // constant) for the two mod-2^64 polynomial streams
  private val M1 = 0x9E3779B97F4A7C15L
  private val M2 = 0xBF58476D1CE4E5B9L

  /** SplitMix64 finalizer: decorrelates the raw FNV token hash so the
    * polynomial streams see full-width, well-mixed coefficients. */
  @inline private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val sp = Tokens.spans(bytes)
    val nTok = sp.size
    if (nTok < n) return Iterator.empty

    // per-token hashes (each token byte-scanned exactly once): TWO
    // INDEPENDENT byte-level accumulations — distinct bases and
    // multipliers (FNV-1a and an xxhash-prime xor-mul) — then avalanche
    // mixes. Deriving both streams from one 64-bit value would cap the
    // pair's entropy at 64 bits: any two tokens colliding in that one
    // hash would collide in BOTH streams, and at corpus scale (billions
    // of distinct tokens) a 64-bit birthday collision is expected.
    val th1 = new Array[Long](nTok)
    val th2 = new Array[Long](nTok)
    var t = 0
    while (t < nTok) {
      var ha = 0xcbf29ce484222325L
      var hb = 0x27D4EB2F165667C5L
      var j = sp.start(t)
      val e = sp.end(t)
      while (j < e) {
        val b = bytes(j) & 0xffL
        ha = (ha ^ b) * 0x100000001b3L
        hb = (hb ^ b) * 0xC2B2AE3D27D4EB4FL
        j += 1
      }
      th1(t) = mix(ha)
      th2(t) = mix(hb)
      t += 1
    }

    // M^(L-1) for the roll-off term (mod 2^64: plain overflow)
    var bl1 = 1L
    var bl2 = 1L
    var k = 1
    while (k < n) { bl1 *= M1; bl2 *= M2; k += 1 }

    val nWin = nTok - n + 1
    val h1s = new Array[Long](nWin)
    val h2s = new Array[Long](nWin)
    var acc1 = 0L
    var acc2 = 0L
    var w = 0
    while (w < n) {
      acc1 = acc1 * M1 + th1(w)
      acc2 = acc2 * M2 + th2(w)
      w += 1
    }
    h1s(0) = acc1
    h2s(0) = acc2
    var p = 1
    while (p < nWin) {
      // roll: drop token p-1, append token p+n-1
      acc1 = (acc1 - th1(p - 1) * bl1) * M1 + th1(p + n - 1)
      acc2 = (acc2 - th2(p - 1) * bl2) * M2 + th2(p + n - 1)
      h1s(p) = acc1
      h2s(p) = acc2
      p += 1
    }
    Iterator.tabulate(nWin) { q =>
      new GenericInternalRow(
        Array[Any](q.toLong, h1s(q), h2s(q))): InternalRow
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WindowHashExplode {

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_window_hashes",
      exprs => WindowHashExplode(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()),
      "scala_udf")

  /** Generator Column: one (pos, h1, h2) row per L-token window of `c`. */
  def windowHashes(spark: SparkSession, c: Column, n: Int): Column = {
    register(spark)
    call_function("graft_window_hashes", c, lit(n))
  }
}
