package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.operators.WordCount
import org.scalatest.funsuite.AnyFunSuite

/** The reference reads raw bytes and realigns thread ranges at token
  * boundaries, so a file with NO newlines parallelizes fine
  * (main.c:96-108, 202-229). ChunkedTextSource must reproduce that:
  * exact counts on any byte layout, invariant in the split count.
  */
class ChunkedTextSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeTemp(name: String, content: Array[Byte]): String = {
    val dir = Files.createDirectories(Paths.get("target/tmp/chunked"))
    val p = dir.resolve(name)
    Files.write(p, content)
    p.toString
  }

  private def countsMap(path: String, parts: Int): Map[String, Long] =
    WordCount.fromFile(spark, path, parts).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("multi-MB file with no newlines: exact counts, split-count invariant") {
    // ~3 MB, one single line: 300k tokens from a 1,000-word vocabulary
    val sb = new StringBuilder
    var i = 0
    while (i < 300000) { sb.append("w").append(i % 1000).append(' '); i += 1 }
    val path = writeTemp("nolines.txt", sb.toString.getBytes(StandardCharsets.UTF_8))
    val expected = (0 until 1000).map(k => s"w$k" -> 300L).toMap
    assert(countsMap(path, 1) === expected)
    // several split widths, incl. far more than bytes/chunk default
    for (parts <- Seq(3, 7, 32)) {
      assert(countsMap(path, parts) === expected, s"parts=$parts diverged")
    }
  }

  test("boundary realignment: tokens and multibyte chars straddling any split") {
    // adversarial layout: long tokens, UTF-8 multibyte separators, mixed
    // runs — chunk width 16 bytes forces boundaries inside everything
    val text = "αβγ supercalifragilisticexpialidocious δε x " * 500 +
      "tail_end 42"
    val path = writeTemp("adversarial.txt", text.getBytes(StandardCharsets.UTF_8))
    val single = countsMap(path, 1)
    // underscore is a separator: tail_end splits into tail + end
    assert(single("supercalifragilisticexpialidocious") === 500L)
    assert(single("x") === 500L)
    assert(single("tail") === 1L && single("end") === 1L && single("42") === 1L)
    val fine = WordCount.counts(
      spark.read.format("graft.sources.ChunkedTextSource")
        .option("chunkBytes", "16").load(path),
      org.apache.spark.sql.functions.col("value"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fine === single)
  }

  test("property: random byte layouts count identically at any chunk width") {
    // fuzz the realignment: arbitrary bytes (token runs, separators,
    // multibyte fragments, NULs) must count the same whether the file
    // is one chunk or split every 13 bytes
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 5) {
      val n = 2000 + rnd.nextInt(3000)
      val bytes = new Array[Byte](n)
      rnd.nextBytes(bytes)
      val path = writeTemp(s"fuzz_$round.bin", bytes)
      def at(width: String) = WordCount.counts(
        spark.read.format("graft.sources.ChunkedTextSource")
          .option("chunkBytes", width).load(path),
        org.apache.spark.sql.functions.col("value"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val whole = at((n + 1).toString)
      val fine = at("13")
      assert(fine === whole, s"round $round diverged (n=$n)")
    }
  }

  test("split plan: max(minChunks, ceil(len / chunkBytes)) contiguous chunks of equal width") {
    import graft.sources.ChunkedText
    for ((len, minChunks, chunkBytes) <- Seq((85135610L, 1, 16L << 20),
        (85135610L, 8, 16L << 20), (100L, 3, 7L), (100L, 1, 100L), (101L, 1, 100L),
        ((1L << 33) + 5, 3, 1L << 30), (40L, 40, 16L << 20))) {
      val sp = ChunkedText.splits(Seq(len), minChunks, chunkBytes)
      val n = math.max(minChunks.toLong, (len + chunkBytes - 1) / chunkBytes)
      val case_ = s"len=$len minChunks=$minChunks chunkBytes=$chunkBytes"
      assert(sp.size == n, case_)
      assert(sp.head._2 == 0L && sp.last._3 == len, case_)
      assert(sp.zip(sp.tail).forall { case (a, b) => a._3 == b._2 }, case_)
      val widths = sp.map(c => c._3 - c._2)
      assert(widths.max - widths.min <= 1 && widths.max <= chunkBytes, s"$case_: $widths")
    }
    // never finer than a byte; an empty file is one empty chunk
    assert(ChunkedText.splits(Seq(5L), 32, 16L << 20).map(c => c._3 - c._2) == Seq.fill(5)(1L))
    assert(ChunkedText.splits(Seq(0L), 4, 16L << 20) == Seq((0, 0L, 0L)))
    // several files share the chunks by length, each at least one
    val multi = ChunkedText.splits(Seq(300L, 100L, 1L), 4, 1000L)
    assert(multi.map(_._1) == Seq(0, 0, 0, 1, 2), multi)
    // the source plans exactly these splits
    val path = writeTemp("splits.txt", ("abc " * 2500).getBytes(StandardCharsets.UTF_8))
    val df = spark.read.format("graft.sources.ChunkedTextSource")
      .option("chunkBytes", "3000").load(path)
    assert(df.rdd.getNumPartitions == 4)
  }

  test("newline files read identically to spark.read.text") {
    val text = (1 to 5000).map(i => s"alpha beta w$i").mkString("\n")
    val path = writeTemp("lines.txt", text.getBytes(StandardCharsets.UTF_8))
    val viaText = WordCount.counts(spark.read.text(path),
      org.apache.spark.sql.functions.col("value"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(countsMap(path, 4) === viaText)
  }
}
