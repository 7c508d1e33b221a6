package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Every generator is a pure function of the
  * seed (and of a group or component index, so Spark tasks can build
  * their share independently): the same seed gives byte-identical
  * inputs on any partitioning.
  */
object Gen {

  /** splitmix64 finalizer: decorrelates (seed, stream, index) keys. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, key: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ mix(stream)) + key))

  private val Alnum = "abcdefghijklmnopqrstuvwxyz0123456789"

  /** `n` distinct words over [a-z0-9] starting with a letter, lengths
    * uniform in [lo, hi]. */
  def vocabulary(r: SplittableRandom, n: Int, lo: Int, hi: Int): Array[String] = {
    val seen = new java.util.HashSet[String](n * 2)
    val out = new Array[String](n)
    var i = 0
    val sb = new java.lang.StringBuilder(hi)
    while (i < n) {
      sb.setLength(0)
      val len = lo + r.nextInt(hi - lo + 1)
      sb.append(Alnum.charAt(r.nextInt(26)))
      var k = 1
      while (k < len) { sb.append(Alnum.charAt(r.nextInt(36))); k += 1 }
      val w = sb.toString
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  /** Zipf-like rank in [0, n): log-uniform, P(rank) ~ 1 / (rank + 1). */
  @inline def zipfRank(r: SplittableRandom, n: Int): Int = {
    val x = math.exp(r.nextDouble() * math.log(n + 1.0)) - 1.0
    math.min(x.toInt, n - 1)
  }

  // ---- wc_ref: a corpus shaped like BASELINE.md workload A ----

  val WcTokens = 12000000
  val WcVocab = 100000
  /** Every WcEvery-th token is the next vocabulary word in order, so all
    * WcVocab words occur; the rest are Zipf draws. */
  private val WcEvery = WcTokens / WcVocab
  /** A newline ends every WcLineTokens-th token (a separator like the
    * space), so line-oriented readers split the file too. */
  private val WcLineTokens = 64

  def wcCorpus(seed: Long): Array[Byte] = {
    val r = rng(seed, 1, 0)
    val vocab = vocabulary(r, WcVocab, 3, 9).map(_.getBytes("US-ASCII"))
    var buf = new Array[Byte](WcTokens * 8)
    var pos = 0
    var i = 0
    while (i < WcTokens) {
      val w = if (i % WcEvery == 0) vocab(i / WcEvery) else vocab(zipfRank(r, WcVocab))
      if (pos + w.length + 1 > buf.length)
        buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      System.arraycopy(w, 0, buf, pos, w.length)
      pos += w.length
      buf(pos) = if ((i + 1) % WcLineTokens == 0) '\n' else ' '
      pos += 1
      i += 1
    }
    java.util.Arrays.copyOf(buf, pos)
  }

  // ---- minhash_pairs: documents with planted duplicate families ----

  val MhVocab = 30000
  /** doc_id = group << MemberBits | member. Members 0..3 are exact
    * copies of the group's text (0 is the original); members 4..7 are
    * copies with one token replaced. */
  val MemberBits = 3
  val EditMember = 4

  private val mhVocabCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[String]]()

  def mhVocabulary(seed: Long): Array[String] =
    mhVocabCache.computeIfAbsent(seed, s => vocabulary(rng(s, 2, 0), MhVocab, 3, 10))

  /** The documents of group `g`: 70% singletons, 15% exact-copy
    * families of 2..4, 15% families of an original plus 1..3 one-token
    * edits (and at most one exact copy). */
  def mhGroup(seed: Long, g: Long): Array[(Long, String)] = {
    val vocab = mhVocabulary(seed)
    val r = rng(seed, 3, g)
    val len = 20 + r.nextInt(41)
    val toks = Array.fill(len)(vocab(zipfRank(r, MhVocab)))
    val kind = r.nextInt(100)
    val exactCopies = if (kind < 70) 0 else if (kind < 85) 1 + r.nextInt(3) else r.nextInt(2)
    val edits = if (kind < 85) 0 else 1 + r.nextInt(3)
    val base = g << MemberBits
    val text = toks.mkString(" ")
    val exact = (0 to exactCopies).map(m => (base | m, text))
    val edited = (0 until edits).map { e =>
      val t = toks.clone()
      val at = r.nextInt(len)
      var w = t(at)
      while (w == t(at)) w = vocab(r.nextInt(MhVocab))
      t(at) = w
      (base | (EditMember + e), t.mkString(" "))
    }
    (exact ++ edited).toArray
  }

  /** Number of planted exact-copy pairs among groups [0, groups). */
  def mhExactPairs(seed: Long, groups: Long): Long = {
    var total = 0L
    var g = 0L
    while (g < groups) {
      val n = mhGroup(seed, g).count(_._1 % (1 << MemberBits) < EditMember).toLong
      total += n * (n - 1) / 2
      g += 1
    }
    total
  }

  // ---- graph_rounds: communities joined into paths ----

  /** Node index space per component; ids are a bijective scramble of
    * (component, local index) so id order carries no structure. */
  private val CompBits = 10

  @inline def nodeId(c: Long, local: Int): Long =
    (((c << CompBits) | local) * 0x9E3779B97F4A7C15L) & ((1L << 48) - 1)

  /** One connected component: 2..4 communities of 4..12 nodes laid on
    * a path, each community a chain plus random chords (p = 0.35), with
    * one bridge edge between consecutive communities. Returns
    * (node ids, pairs as (a_id, b_id) with a_id < b_id). */
  def graphComponent(seed: Long, c: Long): (Array[Long], Array[(Long, Long)]) = {
    val r = rng(seed, 4, c)
    val k = 2 + r.nextInt(3)
    val sizes = Array.fill(k)(4 + r.nextInt(9))
    val starts = sizes.scanLeft(0)(_ + _)
    val nodes = Array.tabulate(starts(k))(i => nodeId(c, i))
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def edge(i: Int, j: Int): Unit = {
      val (x, y) = (nodes(i), nodes(j))
      pairs += (if (x < y) (x, y) else (y, x))
    }
    var q = 0
    while (q < k) {
      val s0 = starts(q)
      var i = 0
      while (i < sizes(q)) {
        var j = i + 1
        while (j < sizes(q)) {
          if (j == i + 1 || r.nextDouble() < 0.35) edge(s0 + i, s0 + j)
          j += 1
        }
        i += 1
      }
      if (q > 0) edge(starts(q - 1) + r.nextInt(sizes(q - 1)), s0 + r.nextInt(sizes(q)))
      q += 1
    }
    (nodes, pairs.toArray)
  }
}
