package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("wc corpus: same seed gives identical bytes, another seed differs") {
    val a = Gen.wcCorpus(7)
    assert(java.util.Arrays.equals(a, Gen.wcCorpus(7)))
    assert(!java.util.Arrays.equals(a, Gen.wcCorpus(8)))
  }

  test("wc corpus is workload-A shaped: 12M tokens over exactly 100k words") {
    val bytes = Gen.wcCorpus(3)
    val words = new java.util.HashSet[String]()
    var tokens = 0
    var start = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ' || bytes(i) == '\n') {
        words.add(new String(bytes, start, i - start, "US-ASCII"))
        tokens += 1
        start = i + 1
      }
      i += 1
    }
    assert(tokens == Gen.WcTokens)
    assert(words.size == Gen.WcVocab)
    assert(bytes.length > 75000000 && bytes.length < 90000000)
  }

  test("documents: same seed gives identical groups, another seed differs") {
    val a = (0L until 200L).flatMap(g => Gen.mhGroup(5, g).toSeq)
    assert(a == (0L until 200L).flatMap(g => Gen.mhGroup(5, g).toSeq))
    assert(a != (0L until 200L).flatMap(g => Gen.mhGroup(6, g).toSeq))
  }

  test("documents: planted families share text or differ by one token") {
    val groups = (0L until 500L).map(g => Gen.mhGroup(11, g))
    assert(groups.exists(_.length > 1))
    groups.foreach { docs =>
      val base = docs.head._2.split(' ')
      docs.tail.foreach { case (id, text) =>
        val t = text.split(' ')
        val diff = base.indices.count(i => base(i) != t(i))
        if (id % (1 << Gen.MemberBits) < Gen.EditMember) assert(diff == 0)
        else assert(diff == 1)
      }
    }
  }

  test("graph: same seed gives identical components, another seed differs") {
    def g(seed: Long) = (0L until 50L).map { c =>
      val (n, p) = Gen.graphComponent(seed, c); (n.toSeq, p.toSeq)
    }
    assert(g(9) == g(9))
    assert(g(9) != g(10))
  }

  test("graph: each component is connected, with ordered distinct pairs") {
    (0L until 50L).foreach { c =>
      val (nodes, pairs) = Gen.graphComponent(4, c)
      assert(pairs.forall { case (a, b) => a < b })
      assert(pairs.distinct.length == pairs.length)
      val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
      val seen = scala.collection.mutable.Set(nodes.head)
      var frontier = List(nodes.head)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Array.empty[Long])).filter(seen.add(_))
      }
      assert(seen.size == nodes.length)
    }
  }
}
