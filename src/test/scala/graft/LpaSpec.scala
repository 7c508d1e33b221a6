package graft

import graft.queries.Dedup
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic synchronous label propagation: hand-traced rounds on
  * a bridged two-triangle graph, a brute-force equivalence property on
  * random graphs (solved in place when every component sits in one
  * partition, and after the exchange by component root when the pairs
  * are spread), and the community-vs-component split LPA exists for.
  */
class LpaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], rounds: Int = Dedup.LPA_ROUNDS)
      : Map[Long, Long] = runOn(edges.toDF("a_id", "b_id"), rounds)

  private def runOn(pairs: DataFrame, rounds: Int = Dedup.LPA_ROUNDS)
      : Map[Long, Long] = {
    val rows = Dedup.lpaFromPairs(pairs, rounds).as[(Long, Long)].collect()
    assert(rows.map(_._1).toSeq === rows.map(_._1).toSeq.sorted.distinct,
      "rows not one per node in doc_id order")
    rows.toMap
  }

  /** One partition per slice of pairs, in order. */
  private def sliced(slices: Seq[Seq[(Long, Long)]]): DataFrame =
    spark.sparkContext.parallelize(slices, slices.size max 1)
      .flatMap(identity).toDF("a_id", "b_id")

  /** `edges` with each connected component's pairs in one partition. */
  private def wholeComponents(edges: Seq[(Long, Long)]): DataFrame = {
    val root = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = root.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); root(x) = r; r }
    }
    edges.foreach { case (a, b) => root(find(a)) = find(b) }
    sliced(edges.groupBy { case (a, _) => find(a) }.values.toSeq)
  }

  /** Reference implementation: synchronous rounds, most frequent
    * neighbor label, ties to the smallest label. */
  private def brute(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (n, es) => n -> es.map(_._2) }
    var lab = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (n, nbrs) =>
        val freq = nbrs.groupBy(lab).map { case (l, xs) => l -> xs.size }
        val mx = freq.values.max
        n -> freq.collect { case (l, c) if c == mx => l }.min
      }
    }
    lab
  }

  test("two triangles joined by a bridge keep distinct communities") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val got = run(edges)
    // hand-traced 4 synchronous rounds: the bridge endpoints are
    // outvoted by their triangle's internal majority every round
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    assert(got === brute(edges, Dedup.LPA_ROUNDS))
    // CC would glue all six nodes into ONE component via the bridge;
    // LPA keeps two labels — the signal this operator exists for
    assert(got.values.toSet.size === 2)
  }

  test("matches the brute-force reference on random graphs") {
    val rng = new scala.util.Random(42)
    for (seed <- 1 to 5) {
      // duplicate pairs, both orientations and self-loops kept: each
      // copy counts as one more neighbor, a self-loop as two
      val edges = Seq.fill(25)((rng.nextLong(10), rng.nextLong(10))) ++
        Seq.fill(10)((10L + rng.nextLong(30), 10L + rng.nextLong(30)))
      val want = brute(edges, Dedup.LPA_ROUNDS)
      assert(runOn(wholeComponents(edges)) === want,
        s"whole components, seed=$seed edges=$edges")
      assert(runOn(edges.toDF("a_id", "b_id").repartition(16)) === want,
        s"repartition(16), seed=$seed edges=$edges")
    }
  }

  test("duplicate pairs and self-loops count with their multiplicity") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 3L), (2L, 3L))
    val got = run(edges)
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(got === brute(edges, Dedup.LPA_ROUNDS))
  }

  test("a star split over two partitions is solved as one component") {
    // no node pair conflicts inside either partition's union-find, yet
    // node 1's neighbors are in both: solving each partition alone
    // would label node 1 twice
    val edges = Seq((1L, 2L), (1L, 3L))
    val got = runOn(sliced(Seq(Seq((1L, 2L)), Seq((1L, 3L)))))
    assert(got === brute(edges, Dedup.LPA_ROUNDS))
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("pairs with a null endpoint are ignored") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (None, Some(5L)), (Some(5L), Some(6L)), (Some(1L), Some(2L)),
      (Some(2L), Some(3L))).toDF("a_id", "b_id")
    assert(runOn(pairs) ===
      brute(Seq((5L, 6L), (1L, 2L), (2L, 3L)), Dedup.LPA_ROUNDS))
    val alone = Seq[(Option[Long], Option[Long])]((Some(7L), None))
      .toDF("a_id", "b_id")
    assert(runOn(alone).isEmpty)
  }

  test("labels are node ids from the node's own component") {
    val comp1 = Seq((1L, 2L), (2L, 3L))
    val comp2 = Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val got = run(comp1 ++ comp2)
    val c1 = Set(1L, 2L, 3L)
    val c2 = Set(10L, 11L, 12L)
    got.foreach { case (n, l) =>
      if (c1(n)) assert(c1(l), s"node $n labeled across components: $l")
      else assert(c2(l), s"node $n labeled across components: $l")
    }
  }
}
