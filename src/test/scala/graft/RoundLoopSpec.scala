package graft

import graft.queries.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Block-manager lifetimes of the loops that materialize every round,
  * and their empty-graph semantics.
  */
class RoundLoopSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Persistent RDDs a call leaves behind vs. the checkpoints its
    * returned frame reads. Suites run sequentially in the forked test
    * JVM, so the delta around the call is exactly what it pinned.
    */
  private def pinned(mk: => DataFrame): (Set[Int], Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = mk
    val delta = sc.getPersistentRDDs.keySet.toSet -- before
    val own = df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
    (delta, own.toSet)
  }

  private def assertOnlyResultPinned(mk: => DataFrame): Unit = {
    val (delta, own) = pinned(mk)
    assert(own.size == 1, s"expected one checkpoint under the result, got $own")
    assert(delta == own, s"left pinned beyond the result's checkpoint: ${delta -- own}")
  }

  private def graph = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    Seq.fill(60)((rng.nextLong(30), rng.nextLong(30)))
      .filter { case (a, b) => a < b }.distinct.toDF("a_id", "b_id")
  }

  test("lifetime: ccFromPairs pins only its returned labels") {
    import spark.implicits._
    val docs = (0L until 30L).toDF("doc_id")
    assertOnlyResultPinned(Dedup.ccFromPairs(docs, graph, ordered = false))
  }

  test("lifetime: corenessFromPairs pins only its returned estimates") {
    assertOnlyResultPinned(Dedup.corenessFromPairs(graph))
  }

  test("lifetime: kmeansAssignFrom pins only its returned assignment") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(8)(rng.nextFloat()))).toDF("vec_id", "embedding")
    assertOnlyResultPinned(Similarity.kmeansAssignFrom(emb, k = 3))
  }

  test("empty graph: ccFromPairs labels every doc with itself") {
    import spark.implicits._
    val docs = Seq(3L, 1L, 2L).toDF("doc_id")
    val got = Dedup.ccFromPairs(docs, Seq.empty[(Long, Long)].toDF("a_id", "b_id"))
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("empty graph: corenessFromPairs returns zero rows") {
    import spark.implicits._
    assert(Dedup.corenessFromPairs(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id")).collect().isEmpty)
  }
}
