package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must run at sf0.001 and produce rows; spot
  * value checks for a few. The cross-engine value gate is the driver's
  * DuckDB compare (tools/check.py mirrors it locally).
  */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("registry holds exactly the pinned query count") {
    // Pin the registry size so silent shrinkage (a registry edit, a
    // testdata-encoding drift that drops queries from the gate) fails
    // loudly. Update the pin ONLY when deliberately adding queries.
    val expected = 262
    val rows = SparkEntry.modules.flatMap(_.rows)
    assert(rows.size == expected,
      s"query registry has ${rows.size} rows, expected $expected; " +
        s"names: ${rows.map(_.name).sorted.mkString(", ")}")
  }

  test("a name given by two rows fails SparkEntry's views, naming it") {
    val twice = new QueryModule {
      def rows: Seq[Query] = Seq("SELECT 1", "SELECT 2")
        .map(Query("dup_q", (s, d) => Tables.documents(s, d), _))
    }
    val e = intercept[IllegalArgumentException](
      SparkEntry.byName(Seq(graft.queries.Core, twice)))
    assert(e.getMessage.contains("dup_q"), e.getMessage)
  }

  test("every query runs and returns rows at sf0.001") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, TestSpark.sf0001).count()
      if (n == 0) Some(name) else None
    }
    assert(empty.isEmpty, s"queries with 0 rows: $empty")
  }

  test("every registry query is documented in README's coverage map") {
    // r14 verdict #7: the registry spans 9 modules; README's
    // category table is the human-facing coverage map, and this pin
    // keeps it from drifting — a new registry entry that is not
    // mentioned (backticked) anywhere in README fails here.
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    // Match single-line backtick spans only (no backtick OR newline in
    // the class): the old class included backtick+space, so one greedy
    // match could span from one span's opening backtick to a later
    // span's close, marking intervening NON-backticked words as
    // documented — weakening exactly the drift pin this test is for.
    // Newlines are excluded because README's ``` code fences otherwise
    // shift the backtick pairing and swallow whole sections as one
    // "span" (inline code never spans lines anyway).
    val documented = "`([^`\n]+)`".r.findAllMatchIn(readme)
      .flatMap(_.group(1).split("[, ]+")).toSet
    val missing = SparkEntry.queries.keySet -- documented
    assert(missing.isEmpty,
      s"registry queries missing from README's coverage map: " +
        missing.toSeq.sorted.mkString(", "))
  }

  test("bench sweep coverage is closed: timed ∪ excluded == registry") {
    // Every registry query is either in Bench.headline (timed per
    // round) or in Bench.excluded with a one-line reason — a new query
    // that is neither fails here, so sweep coverage can't silently
    // shrink as the registry grows.
    val (timed, excl) = Bench.checkSweepCoverage()
    assert(timed + excl == SparkEntry.queries.size)
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1_agg: 6 groups, counts sum to filtered lineitem count") {
    val rows = SparkEntry.queries("q1_agg")(spark, TestSpark.sf0001).collect()
    assert(rows.length == 6)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total > 5000 && total <= 6500)
  }

  test("minhash signatures are partition-count invariant") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sf0001)
    def sigs(parts: Int) =
      graft.operators.DedupOps.minhashSignatures(
        docs.repartition(parts), "doc_id", col("text"), 3, 16)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1) == sigs(8))
  }

  test("q_window_rank: rk bounded by 3 and per-customer unique") {
    val rows = SparkEntry.queries("q_window_rank")(spark, TestSpark.sf0001).collect()
    assert(rows.forall(_.getAs[Int]("rk") <= 3))
    val perCust = rows.groupBy(_.getAs[Long]("o_custkey"))
    assert(perCust.values.forall(g => g.map(_.getAs[Int]("rk")).distinct.length == g.length))
  }
}
