package graft.plans

/** Connected components of ONE partition's pair rows, solved in memory
  * with no exchange — the local pass of
  * [[graft.queries.Dedup.ccFromPairs]], run over the caller's own pair
  * partitions.
  *
  * Every pair of the partition is unioned with the smaller id always the
  * root, so each root is its set's minimum. The partition's components
  * then leave as stars: for every non-root node `v` with root `r`, the
  * edges `(v, r)` and `(r, v)`. Each star edge lies inside one component
  * and every input pair's endpoints share one star, so the union of all
  * partitions' stars has exactly the input's components. When no
  * component spans two partitions those stars are disjoint and
  * min-centred, the labels they give are final, and the round loop
  * runs no round; otherwise it only stitches the components that span
  * partitions.
  *
  * State is O(distinct ids in the partition), at most
  * min(2 * pairs in the partition, |docs|) nodes when every pair
  * endpoint is a doc id.
  */
object LocalUnionFind {

  /** The star edges of `edges`' components (see the object doc). Each
    * non-root node appears once as `(v, r)` and once as `(r, v)`; an
    * empty partition yields nothing.
    */
  def stars(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val uf = new LocalUnionFind
    edges.foreach { case (a, b) => uf.union(a, b) }
    uf.stars
  }
}

/** Union-find over a [[LongIdTable]]'s node indices — no boxed map, and
  * O(distinct ids) state.
  */
private final class LocalUnionFind {
  private val nodes = new LongIdTable
  private var parent = new Array[Int](1024)

  /** The node index of `id`, its own root when new. */
  private def node(id: Long): Int = {
    val known = nodes.size
    val n = nodes.node(id)
    if (n == known) {
      if (n == parent.length) parent = java.util.Arrays.copyOf(parent, n * 2)
      parent(n) = n
    }
    n
  }

  /** Root of `n0`, halving the path on the way up. */
  private def find(n0: Int): Int = {
    var n = n0
    while (parent(n) != n) {
      parent(n) = parent(parent(n))
      n = parent(n)
    }
    n
  }

  def union(a: Long, b: Long): Unit = {
    val ra = find(node(a))
    val rb = find(node(b))
    // the smaller id is always the root: each root is its set's minimum
    if (ra != rb) {
      if (nodes.id(ra) < nodes.id(rb)) parent(rb) = ra else parent(ra) = rb
    }
  }

  def stars: Iterator[(Long, Long)] =
    Iterator.range(0, nodes.size).flatMap { n =>
      val r = find(n)
      if (r == n) Iterator.empty
      else Iterator((nodes.id(n), nodes.id(r)), (nodes.id(r), nodes.id(n)))
    }
}

/** Open-addressing (id -> node index) table over primitive arrays: node
  * indices are dense, in insertion order, so callers keep per-node state
  * in plain arrays beside it. Linear probing; doubles at 60% load.
  */
private[plans] final class LongIdTable {
  private var cap = 2048
  private var mask = cap - 1
  private var table = new Array[Int](cap) // 0 = empty, node n stored as n+1
  private var ids = new Array[Long](cap / 2)
  private var count = 0

  /** Number of distinct ids seen. */
  def size: Int = count

  /** The id of node index `n`. */
  def id(n: Int): Long = ids(n)

  @inline private def hash(id: Long): Int = {
    val h = id * 0x9E3779B97F4A7C15L // Fibonacci mix: sequential ids spread
    (h ^ (h >>> 32)).toInt
  }

  /** The node index of `id`, appended as index `size` when new. */
  def node(id: Long): Int = {
    var idx = hash(id) & mask
    while (true) {
      val slot = table(idx)
      if (slot == 0) return insert(idx, id)
      if (ids(slot - 1) == id) return slot - 1
      idx = (idx + 1) & mask
    }
    -1 // unreachable
  }

  private def insert(idx: Int, id: Long): Int = {
    if (count == ids.length) ids = java.util.Arrays.copyOf(ids, count * 2)
    val n = count
    ids(n) = id
    table(idx) = n + 1
    count += 1
    if (count * 5 > cap * 3) grow()
    n
  }

  private def grow(): Unit = {
    cap *= 2; mask = cap - 1
    table = new Array[Int](cap)
    var n = 0
    while (n < count) {
      var idx = hash(ids(n)) & mask
      while (table(idx) != 0) idx = (idx + 1) & mask
      table(idx) = n + 1
      n += 1
    }
  }
}
