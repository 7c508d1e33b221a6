package graft

import graft.functions.Text
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property tests: Text.tokens must agree with a 3-line Scala oracle
  * (SURVEY §5.2.3b) for arbitrary inputs, including high bytes.
  */
class TokenizerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** In-memory oracle: the reference tokenizer in idiomatic Scala. */
  private def oracle(s: String): Seq[String] =
    "[A-Za-z0-9]+".r.findAllIn(s).toSeq

  private def sparkTokens(inputs: Seq[String]): Seq[Seq[String]] = {
    import spark.implicits._
    inputs.toDF("value")
      .select(Text.tokens(col("value")).as("t"))
      .as[Seq[String]].collect().toSeq
  }

  test("tokens match oracle on crafted edge cases") {
    val cases = Seq(
      "", " ", "a", "a b", "_a_b_", "42abc C3PO", "café",
      "tab\tsep\nnl", "ALL1caps2", "a" * 1000, "ÿxé",
      "1 22 333", "..,,;;", "x", "Mixed_Case-Words.Here")
    assert(sparkTokens(cases) == cases.map(oracle))
  }

  /** `n` random strings of alphanumerics, separators (`_` included)
    * and chars >= 0x80 — the inputs every property below checks. */
  private def randomStrings(n: Int): Seq[String] = {
    val charGen = Gen.frequency(
      (5, Gen.alphaNumChar),
      (2, Gen.oneOf(' ', '\t', '\n', '_', '.', ',', '-')),
      (1, Gen.choose(0x80.toChar, 0x2FFF.toChar)))
    Gen.listOfN(n, Gen.listOf(charGen).map(_.mkString)).sample.get
  }

  /** Per-row outputs of generator `gen` over `samples` as id -> rows,
    * rows with no output absent; `row` reads one output row. */
  private def generated[T](samples: Seq[String],
      gen: org.apache.spark.sql.Column, names: Seq[String])(
      row: org.apache.spark.sql.Row => T): Map[Long, Seq[T]] = {
    import spark.implicits._
    samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
      .select(col("id"), gen.as(names))
      .collect().toSeq.map(r => r.getLong(0) -> row(r))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
  }

  /** Oracle-side non-empty id -> value map. */
  private def expected[T](samples: Seq[String])(f: String => Seq[T]): Map[Long, Seq[T]] =
    samples.zipWithIndex.map { case (s, i) => i.toLong -> f(s) }
      .filter(_._2.nonEmpty).toMap

  /** Adjacent `n`-token windows of the oracle tokens, space-joined. */
  private def oracleGrams(s: String, n: Int): Seq[String] = {
    val t = oracle(s)
    if (t.size < n) Nil else t.sliding(n).map(_.mkString(" ")).toSeq
  }

  test("property: tokens match oracle on random strings incl. high chars") {
    // Batch: collect 50 random strings, compare in one Spark job.
    val samples = randomStrings(50)
    assert(sparkTokens(samples) == samples.map(oracle))
  }

  test("property: TokenizeExplode generator matches regex oracle") {
    val samples = randomStrings(40)
    val got = generated(samples,
      graft.functions.TokenizeExplode.tokenize(spark, col("s")), Seq("w"))(
      _.getString(1))
    assert(got == expected(samples)(oracle))
  }

  test("property: graft_ngrams n = 1..3 match a sliding join of oracle tokens") {
    val samples = randomStrings(40)
    for (n <- 1 to 3) {
      val got = generated(samples,
        graft.functions.NgramExplode.ngrams(spark, col("s"), n), Seq("g"))(
        _.getString(1))
      assert(got == expected(samples)(oracleGrams(_, n)), s"n = $n")
    }
  }

  test("property: graft_shingle_hashes match out-of-band md5 6-byte halves") {
    val samples = randomStrings(40)
    def halves(shingle: String): (Long, Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(shingle.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 12), 16),
       java.lang.Long.parseLong(hex.substring(12, 24), 16))
    }
    for (n <- Seq(1, 3)) {
      val got = generated(samples,
        graft.functions.ShingleHashes.shingleHashes(spark, col("s"), n),
        Seq("h1", "h2"))(r => (r.getLong(1), r.getLong(2)))
      assert(got == expected(samples)(oracleGrams(_, n).map(halves)), s"n = $n")
    }
  }

  test("property: graft_winnow matches the base-31 mod 1e9+7 fold and window minima") {
    val samples = randomStrings(40) :+ (1 to 30).map(i => s"w${i % 7}").mkString(" ")
    val mod = 1000000007L
    def fold(gram: String): Long =
      gram.getBytes("UTF-8").foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % mod)
    for ((k, w) <- Seq((1, 1), (2, 3), (3, 4))) {
      val got = generated(samples,
        graft.functions.WinnowExplode.fingerprints(spark, col("s"), k, w),
        Seq("fp"))(_.getLong(1))
      val want = expected(samples) { s =>
        val hs = oracleGrams(s, k).map(fold)
        if (hs.size < w) Nil else hs.sliding(w).map(_.min).toSeq.distinct
      }
      assert(got == want, s"k = $k, w = $w")
    }
  }

  test("Tokens cursor: empty, separator-only, token at end, 1-byte token") {
    import graft.functions.Tokens
    def spansOf(s: String): Seq[(Int, Int)] = {
      val b = s.getBytes("UTF-8")
      Iterator.iterate(Tokens.next(b, 0, b.length))(t =>
          Tokens.next(b, Tokens.end(t), b.length))
        .takeWhile(_ >= 0).map(t => (Tokens.start(t), Tokens.end(t))).toSeq
    }
    assert(Tokens.next(Array.emptyByteArray, 0, 0) == -1L)
    assert(spansOf("") == Nil)
    assert(spansOf(" _\t.é,") == Nil)
    assert(spansOf("ab_cd") == Seq((0, 2), (3, 5)))
    assert(spansOf("..xyz") == Seq((2, 5)))
    assert(spansOf("x") == Seq((0, 1)))
    assert(spansOf("é7") == Seq((2, 3)))
    val b = "a bb_ccc".getBytes("UTF-8")
    val sp = Tokens.spans(b)
    assert(sp.size == 3 && sp.start(2) == 5 && sp.end(2) == 8)
    assert(Tokens.joined(b, sp, 0, 3).toString == "a bb ccc")
    assert(Tokens.joined(b, sp, 1, 2).toString == "bb")
  }

  test("property: sum of counts equals token count; keys ascending") {
    val docs = Seq("a b a c b a", "x y", "", "a A 1 10 9")
    import spark.implicits._
    val counts = graft.operators.WordCount.counts(docs.toDF("value"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(counts.map(_._2).sum == docs.map(oracle(_).size).sum)
    val keys = counts.map(_._1)
    assert(keys == keys.sorted)
  }

  test("ngrams and charShingles") {
    import spark.implicits._
    val df = Seq("a b c d").toDF("t").select(
      Text.ngrams(Text.tokens(col("t")), 2).as("bi"),
      Text.charShingles(lit("abcd"), 3).as("sh"))
    val r = df.as[(Seq[String], Seq[String])].collect().head
    assert(r._1 == Seq("a b", "b c", "c d"))
    assert(r._2 == Seq("abc", "bcd"))
    val short = Seq("a").toDF("t").select(
      Text.ngrams(Text.tokens(col("t")), 2).as("bi"),
      Text.charShingles(lit("ab"), 3).as("sh"))
      .as[(Seq[String], Seq[String])].collect().head
    assert(short._1.isEmpty && short._2.isEmpty)
  }

  test("ChunkExplode: window/stride/tail rule") {
    import spark.implicits._
    val text = (1 to 10).map(i => s"t$i").mkString(" ")
    val rows = Seq(text).toDF("t")
      .select(graft.functions.ChunkExplode.chunks(spark, col("t"), 8, 4)
        .as(Seq("idx", "chunk", "n")))
      .as[(Int, String, Int)].collect().toSeq
    // 10 tokens, width 8, stride 4: windows at 0 (8 toks) and 4 (6 toks);
    // no third window (it would be contained in the second)
    assert(rows === Seq(
      (0, (1 to 8).map("t" + _).mkString(" "), 8),
      (1, (5 to 10).map("t" + _).mkString(" "), 6)))
    // short doc: single whole-doc chunk
    val one = Seq("a b c").toDF("t")
      .select(graft.functions.ChunkExplode.chunks(spark, col("t"), 8, 4)
        .as(Seq("idx", "chunk", "n")))
      .as[(Int, String, Int)].collect().toSeq
    assert(one === Seq((0, "a b c", 3)))
  }
}
