package graft

import java.nio.charset.StandardCharsets

import graft.functions.Tokens
import graft.operators.WordCount
import graft.plans.ByteSliceCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The fused word count's own table: TokenCounts partials merged by the
  * same counter must equal the regex oracle whatever the token lengths,
  * table growth or spread of a word over partitions.
  */
class TokenCountsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def oracle(rows: Seq[String]): Map[String, Long] =
    rows.flatMap("[A-Za-z0-9]+".r.findAllIn(_)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap

  /** `rows` in `parts` partitions of a frame whose size is unknown to
    * the optimizer, so sortedCounts takes its distributed path. */
  private def unknownSize(rows: Seq[String], parts: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), parts),
      StructType(StructField("value", StringType) :: Nil))

  private def counted(df: DataFrame): Seq[(String, Long)] =
    df.collect().toSeq.map(r => r.getString(0) -> r.getLong(1))

  /** The word count over `df`, checked against the oracle and for
    * bytewise order. */
  private def assertCounts(df: DataFrame, rows: Seq[String]): Unit = {
    val expected = oracle(rows)
    val got = counted(WordCount.counts(df, col("value")))
    assert(got.toMap == expected)
    assert(got.size == expected.size, "a word was emitted twice")
    val keys = got.map(_._1)
    assert(keys == keys.sorted, "not in bytewise order")
  }

  /** Random tokens of every length 1..40, separated by spaces, `_`,
    * punctuation and chars >= 0x80, with many repeats. */
  private def randomRows(seed: Int, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val alnum = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')
    val seps = Seq(" ", "_", ".", "\t", "é", "ÿ", " ", "—")
    // a small vocabulary per length, so tokens repeat within and
    // across partitions
    val vocab = (1 to 40).map(len =>
      Seq.fill(6)(Seq.fill(len)(alnum(rnd.nextInt(alnum.size))).mkString))
    Seq.fill(n) {
      val sb = new StringBuilder
      for (_ <- 0 until 1 + rnd.nextInt(30)) {
        sb.append(vocab(rnd.nextInt(40))(rnd.nextInt(6)))
        sb.append(seps(rnd.nextInt(seps.size)))
      }
      sb.toString
    }
  }

  test("property: random tokens of length 1..40 over several partitions equal the oracle") {
    for (seed <- 1 to 3) {
      val rows = randomRows(seed, 400)
      assertCounts(unknownSize(rows, 7), rows)
      import spark.implicits._
      assertCounts(rows.toDF("value").repartition(5), rows)
    }
  }

  test("one partition with more than 100k distinct tokens grows the table") {
    // 120k distinct words (inline and arena lengths) in ONE partition,
    // each twice, plus one other partition sharing some of them
    val words = (0 until 120000).map(i => if (i % 7 == 0) s"longword$i" + "x" * 12 else s"w$i")
    val rows = Seq(words.mkString(" "), words.reverse.mkString(" "),
      words.take(500).mkString("_"))
    assertCounts(unknownSize(rows, 2), rows)
  }

  test("one word over many partitions is summed by the merge") {
    val rows = (0 until 64).map(i => s"shared x$i shared Shared_${"s" * 30}")
    val got = counted(WordCount.counts(unknownSize(rows, 16), col("value"))).toMap
    assert(got("shared") == 128L && got("Shared") == 64L && got("s" * 30) == 64L)
    assert(got == oracle(rows))
  }

  test("column pruning above the merge keeps what the merge reads") {
    val rows = Seq("a b a", "b c", "a a", "d")
    for (df <- Seq(unknownSize(rows, 3), { import spark.implicits._; rows.toDF("value") })) {
      val wc = WordCount.counts(df, col("value"))
      assert(wc.count() == 4L)
      assert(wc.select("word").collect().map(_.getString(0)).toSeq == Seq("a", "b", "c", "d"))
      assert(wc.select("cnt").collect().map(_.getLong(0)).sum == 8L)
    }
  }

  test("counter: keys of any bytes (NULs, high bytes, empty) stay distinct") {
    val rnd = new scala.util.Random(11)
    val keys = (0 to 40).flatMap(len => Seq.fill(5) {
      val b = new Array[Byte](len)
      rnd.nextBytes(b)
      if (len > 0 && rnd.nextBoolean()) b(len - 1) = 0 // trailing NULs
      b.toSeq
    }) ++ Seq(Seq[Byte](0), Seq[Byte](0, 0), Seq[Byte]('a', 0), Seq[Byte]('a'))
    val c = new ByteSliceCounter(16)
    // every key at a different offset of a padded buffer, i times
    for ((k, i) <- keys.zipWithIndex; _ <- 0 to i % 3) {
      val buf = Array.fill[Byte](i % 5)(7) ++ k ++ Array.fill[Byte](i % 3)(9)
      c.add(buf, i % 5, k.length, 2L)
    }
    val expected = keys.zipWithIndex.groupBy(_._1)
      .view.mapValues(_.map { case (_, i) => 2L * (i % 3 + 1) }.sum).toMap
    val got = c.rows.map(r => r.getUTF8String(0).getBytes.toSeq -> r.getLong(1)).toSeq
    assert(got.size == expected.size && c.entryCount == expected.size)
    assert(got.toMap == expected)
  }

  test("counter: a count past Long.MaxValue raises, as ANSI sum does") {
    val c = new ByteSliceCounter(16)
    val w = "word".getBytes(StandardCharsets.US_ASCII)
    c.add(w, 0, w.length, Long.MaxValue)
    intercept[ArithmeticException](c.add(w, 0, w.length, 1L))
  }

  test("table-driven isWordByte equals the range definition on all 256 bytes") {
    for (i <- 0 until 256) {
      val b = i.toByte
      val ranges = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')
      assert(Tokens.isWordByte(b) == ranges, s"byte $i")
    }
  }

  test("metrics: tokens counted and rows out in the final adaptive plan") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import graft.plans.{TokenCountsExec, TokenCountsMergeExec}
    val rows = Seq("a b a", "b c", "a a", "d")
    val df = WordCount.counts(unknownSize(rows, 3), col("value"))
    val qe = df.queryExecution
    qe.toRdd.foreach(_ => ())
    // the final plan, query stages included
    val stages = new AdaptiveSparkPlanHelper {}
    val tc = stages.collect(qe.executedPlan) { case t: TokenCountsExec => t }
    val merge = stages.collect(qe.executedPlan) { case m: TokenCountsMergeExec => m }
    assert(tc.size == 1 && merge.size == 1, qe.executedPlan)
    assert(tc.head.metrics("numTokens").value == 8L)
    assert(tc.head.metrics("numOutputRows").value == 6L) // per-partition partials
    assert(merge.head.metrics("numOutputRows").value == 4L)
    val explained = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(explained.contains("number of tokens counted: 8"), explained)
  }
}
