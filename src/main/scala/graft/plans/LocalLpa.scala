package graft.plans

/** Synchronous label propagation over ONE partition's pair rows, solved
  * in memory with no exchange — the solve of
  * [[graft.queries.Dedup.lpaFromPairs]], run over partitions that each
  * hold whole components.
  *
  * Each pair `(a, b)` makes `b` a neighbor of `a` and `a` a neighbor of
  * `b`, so duplicate pairs count once per copy and a self-loop `(a, a)`
  * makes `a` its own neighbor twice — the multiplicities of the
  * symmetrized edge list. Every node starts labeled with its own id;
  * each round every node takes the most frequent label among its
  * neighbors' previous labels, ties broken to the smallest label.
  *
  * A node's label after R rounds depends only on its component, so the
  * answer is exact whenever no component's pairs are split over two
  * partitions. State: the id table and a CSR adjacency — O(nodes) plus
  * 2 ints per pair endpoint, about the partition's nodes plus 2 x its
  * pairs — so the largest component must fit one task.
  */
object LocalLpa {

  /** The distinct endpoint ids of a partition's pairs. */
  def nodes(pairs: Iterator[(Long, Long)]): Iterator[Long] = {
    val t = new LongIdTable
    pairs.foreach { case (a, b) => t.node(a); t.node(b) }
    Iterator.range(0, t.size).map(t.id)
  }

  /** `(id, label)` for every endpoint of `pairs` after exactly `rounds`
    * synchronous rounds (see the object doc). */
  def labels(rounds: Int)(pairs: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val t = new LongIdTable
    var ends = new Array[Int](2048) // pair i's endpoints at 2i, 2i + 1
    var m = 0
    pairs.foreach { case (a, b) =>
      if (2 * m == ends.length) {
        require(ends.length < (1 << 30),
          s"LocalLpa: over $m pairs in one task; the largest component must fit one")
        ends = java.util.Arrays.copyOf(ends, ends.length * 2)
      }
      ends(2 * m) = t.node(a); ends(2 * m + 1) = t.node(b)
      m += 1
    }
    val n = t.size
    // CSR: node v's neighbors are adj(off(v) until off(v + 1))
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < 2 * m) { off(ends(i) + 1) += 1; i += 1 }
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    val adj = new Array[Int](2 * m)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) {
      val a = ends(2 * i); val b = ends(2 * i + 1)
      adj(fill(a)) = b; fill(a) += 1
      adj(fill(b)) = a; fill(b) += 1
      i += 1
    }
    ends = null
    var maxDeg = 0
    v = 0
    while (v < n) { maxDeg = math.max(maxDeg, off(v + 1) - off(v)); v += 1 }
    var lab = Array.tabulate(n)(t.id)
    var next = new Array[Long](n)
    val buf = new Array[Long](maxDeg)
    for (_ <- 1 to rounds) {
      v = 0
      while (v < n) {
        val d = off(v + 1) - off(v)
        var k = 0
        while (k < d) { buf(k) = lab(adj(off(v) + k)); k += 1 }
        java.util.Arrays.sort(buf, 0, d)
        // runs of equal labels in ascending order: a strictly longer run
        // wins, so a tie keeps the smaller label
        var best = buf(0); var bestN = 0
        k = 0
        while (k < d) {
          var e = k + 1
          while (e < d && buf(e) == buf(k)) e += 1
          if (e - k > bestN) { best = buf(k); bestN = e - k }
          k = e
        }
        next(v) = best
        v += 1
      }
      val prev = lab; lab = next; next = prev
    }
    Iterator.range(0, n).map(v => (t.id(v), lab(v)))
  }
}
