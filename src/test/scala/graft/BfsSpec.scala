package graft

import graft.queries.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** Bounded multi-source BFS: hand-pinned distances on a path + branch
  * graph, depth truncation, multi-source min semantics, and a
  * brute-force equivalence property on random graphs.
  */
class BfsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def run(edges: Seq[(Long, Long)], seeds: Int, rounds: Int)
      : Map[Long, Long] = {
    import spark.implicits._
    Dedup.bfsFromPairs(edges.toDF("a_id", "b_id"), seeds, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def brute(edges: Seq[(Long, Long)], seeds: Int, rounds: Int)
      : Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (n, es) => n -> es.map(_._2).toSet }
    val seedSet = adj.keys.toSeq.sorted.take(seeds)
    var dist = seedSet.map(_ -> 0L).toMap
    for (r <- 1 to rounds) {
      val next = dist.toSeq.flatMap { case (n, d) =>
        adj(n).map(_ -> (d + 1)) }
      dist = (dist.toSeq ++ next).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    dist
  }

  test("path graph from one seed: distances 0..R, deeper nodes unreported") {
    // 1-2-3-4-5-6-7, seed = {1}; depth 4 reaches node 5 only
    val path = (1L to 6L).map(n => (n, n + 1))
    assert(run(path, seeds = 1, rounds = 4) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("two seeds: every node takes the nearer seed") {
    // 1-2-3-4-5-6-7-8-9-10, seeds = {1, 2}... rank-derived smallest two
    val path = (1L to 9L).map(n => (n, n + 1))
    val got = run(path, seeds = 2, rounds = 4)
    // node 6 is 4 hops from seed 2; node 7+ out of budget
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L,
      5L -> 3L, 6L -> 4L))
  }

  test("matches brute force on random graphs") {
    val rng = new scala.util.Random(7)
    for (seed <- 1 to 5) {
      val edges = Seq.fill(25)((rng.nextLong(12), rng.nextLong(12)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => if (a < b) (a, b) else (b, a) }
        .distinct
      if (edges.nonEmpty)
        assert(run(edges, 3, 4) === brute(edges, 3, 4),
          s"seed=$seed edges=$edges")
    }
  }
}
