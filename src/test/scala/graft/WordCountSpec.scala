package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.operators.{WordCount, WordCountCli}
import org.scalatest.funsuite.AnyFunSuite

/** Reference-parity goldens (FIXTURES.md §1-2, captured from the compiled
  * reference) + partition-count invariance (SURVEY §1.4 determinism).
  */
class WordCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def countFile(path: String, parts: Int = 2): Seq[String] =
    WordCount.formatted(WordCount.fromFile(spark, path, parts)).collect().toSeq

  private def tmp(content: Array[Byte]): Path = {
    val p = Files.createTempFile("graft_wc", ".txt")
    Files.write(p, content)
    p.toFile.deleteOnExit()
    p
  }

  private def tmps(content: String): Path =
    tmp(content.getBytes(StandardCharsets.UTF_8))

  // FIXTURES.md §1: the reference's bundled inputs, byte for byte (46 B, 24 B)
  private lazy val input1 =
    tmps("word1 word2 w3 4\nword5 w6 dsfg\nword1 word1 w3\n").toString
  private lazy val input2 = tmps("foo bar qux\nbar bar baz\n").toString

  test("golden: reference test_input1") {
    assert(countFile(input1) ==
      Seq("4=1", "dsfg=1", "w3=2", "w6=1", "word1=3", "word2=1", "word5=1"))
  }

  test("golden: reference test_input2") {
    assert(countFile(input2) ==
      Seq("bar=3", "baz=1", "foo=1", "qux=1"))
  }

  test("golden: case sensitivity, separators, digit tokens") {
    val p = tmps("Hello hello HELLO world_x world x 42 42abc C3PO\ttab,comma.dot\nnewline")
    assert(countFile(p.toString) == Seq(
      "42=1", "42abc=1", "C3PO=1", "HELLO=1", "Hello=1", "comma=1", "dot=1",
      "hello=1", "newline=1", "tab=1", "world=2", "x=2"))
  }

  test("golden: bytewise sort order (10 < 2 < 9, upper < lower)") {
    val p = tmps("Zebra apple Apple BANANA 9 10 2\n")
    assert(countFile(p.toString) == Seq(
      "10=1", "2=1", "9=1", "Apple=1", "BANANA=1", "Zebra=1", "apple=1"))
  }

  test("golden: every byte >= 0x80 is a separator (UTF-8 stripped)") {
    val p = tmps("café naïve 中文")
    assert(countFile(p.toString) == Seq("caf=1", "na=1", "ve=1"))
  }

  test("divergence: trailing single-char word IS counted (ref bug §1.6.4)") {
    val p = tmps("a b c")
    assert(countFile(p.toString) == Seq("a=1", "b=1", "c=1"))
  }

  test("separator-only input: zero rows, success") {
    val p = tmps(" \t\n.,;")
    assert(countFile(p.toString).isEmpty)
  }

  test("partition-count invariance (reference thread invariance)") {
    val p = tmps(("word1 word2 w3 4\n" * 20) + "longwordspanningmany " * 10)
    val expected = countFile(p.toString, 1)
    for (n <- Seq(2, 4, 8, 16)) assert(countFile(p.toString, n) == expected, s"parts=$n")
  }

  test("cli: wrong argc / bad n / missing file / empty file -> rc 1") {
    assert(WordCountCli.run(Array(), () => spark) == 1)
    assert(WordCountCli.run(Array("x"), () => spark) == 1)
    assert(WordCountCli.run(Array(input1, "0"), () => spark) == 1)
    assert(WordCountCli.run(Array(input1, "abc"), () => spark) == 1)
    assert(WordCountCli.run(Array("/no/such/file", "2"), () => spark) == 1)
    val e = tmp(Array[Byte]())
    assert(WordCountCli.run(Array(e.toString, "2"), () => spark) == 1)
  }

  test("cli: strtol semantics (trailing garbage accepted)") {
    assert(WordCountCli.strtol("4abc") == 4L)
    assert(WordCountCli.strtol("  12 ") == 12L)
    assert(WordCountCli.strtol("abc") == 0L)
    assert(WordCountCli.strtol("-3") == -3L)
  }

  test("cli: happy path returns 0, clamps partitions to file size") {
    assert(WordCountCli.run(Array(input1, "100"), () => spark) == 0)
  }

  test("cli: clamp prints the reference's notice line (main.c:120-124)") {
    val fileLen = new java.io.File(input1).length()
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out)) {
      WordCountCli.run(Array(input1, "100"), () => spark)
    }
    assert(rc == 0)
    val first = out.toString.linesIterator.next()
    assert(first == "input text file size > num_threads specified, " +
      s"reducing num_threads to match...num_threads = $fileLen")
  }

  test("cli: --write-out streams the result to files, no driver collect") {
    val dir = "target/tmp/cli_out"
    val rc = WordCountCli.run(
      Array(input1, "4", "--write-out", dir), () => spark)
    assert(rc == 0)
    val lines = spark.read.text(dir).collect().map(_.getString(0)).sorted
    assert(lines.toSeq == Seq("4=1", "dsfg=1", "w3=2", "w6=1",
      "word1=3", "word2=1", "word5=1"))
  }
}
