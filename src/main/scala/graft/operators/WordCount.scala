package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's one query (SURVEY.md §0), generalized to any text
  * source/column:
  *
  * {{{
  * SELECT word, COUNT(*) AS cnt
  * FROM   tokenize(:input)       -- maximal [A-Za-z0-9]+ runs
  * GROUP  BY word
  * ORDER  BY word ASC            -- bytewise; ASCII tokens => binary orderBy
  * }}}
  *
  * Physical shape (pinned in PlanShapeSpec):
  * Scan -> TokenCounts -> Exchange(hash word) -> TokenCountsMerge
  *   -> Exchange(SinglePartition) -> Sort,
  * with no HashAggregate: each task's TokenCounts table is the combiner,
  * and the merge sums the partials with the same table. The reference's
  * shared concurrent hash map (its `src/chash.c:100-153`) becomes the
  * hash exchange between the two; its thread-range boundary
  * realignment (main.c:202-229) is [[graft.sources.ChunkedTextSource]]'s
  * split rule. Scales by partition count with no shared state.
  */
object WordCount {

  /** word,cnt counts of a string column of `df`, ordered bytewise by word.
    *
    * Runs the fused [[graft.plans.TokenCounts]] physical operator — the
    * reference's scan+FSM+partial-count worker as one SparkPlan — then
    * the reference-parity tail: one distributed merge of the partials
    * (TokenCountsMerge, no aggregate) and a single-partition sort of the
    * merged vocabulary ([[graft.plans.TokenCounts.sortedCounts]] — no
    * RangePartitioning sampling pass; rationale + scale contract there;
    * tiny inputs skip the hash exchange). The merge holds each merge
    * task's share of the vocabulary in memory, with no spill (see
    * [[graft.plans.TokenCountsMergeExec]]). (An `explode(split(regex))`
    * formulation was ~10x slower: per-row regex + String[] allocation +
    * a per-token Generate hop; see TokenizeExplode for the intermediate
    * generator form, kept for general tokenization.) Semantics
    * identical (token contract SURVEY §1.4).
    */
  def counts(df: DataFrame, textCol: Column): DataFrame =
    graft.plans.TokenCounts.sortedCounts(df, textCol)

  /** [[counts]] with an explicit parallelism floor: `minParts` (the
    * CLI's num_threads knob) survives the tiny-input cost-based
    * coalescing in [[graft.plans.TokenCounts.sortedCounts]].
    */
  def counts(df: DataFrame, textCol: Column, minParts: Int): DataFrame =
    graft.plans.TokenCounts.sortedCounts(df, textCol, minParts)

  /** Reference parity: counts for a text file at `path`.
    *
    * Reads through [[graft.sources.ChunkedTextSource]] — byte-range
    * splits realigned at token boundaries, the reference's exact split
    * model (main.c:96-108, 202-229) — so ANY byte layout parallelizes,
    * including a file with no newlines at all (spark.read.text would
    * have to hold such a file as one unsplittable row).
    *
    * `minPartitions` maps the reference's `num_threads` CLI knob onto
    * split planning; output is partition-count invariant (SURVEY §1.4
    * determinism).
    */
  def fromFile(spark: SparkSession, path: String, minPartitions: Int = 0): DataFrame = {
    val reader = spark.read.format("graft.sources.ChunkedTextSource")
    val lines =
      (if (minPartitions > 0) reader.option("minChunks", minPartitions.toString)
       else reader).load(path)
    counts(lines, col("value"), minPartitions)
  }

  /** Reference output format: one `word=cnt` line per row (main.c:172-174). */
  def formatted(counts: DataFrame): Dataset[String] = {
    val spark = counts.sparkSession
    counts.select(concat(col("word"), lit("="), col("cnt")).as("line"))
      .as[String](org.apache.spark.sql.Encoders.STRING)
  }
}

/** CLI with the reference's argument/error surface (SURVEY §1.5):
  * `run <filename> <num_threads>`; all diagnostics to stdout; exit 1 on
  * misuse/unreadable/empty input; empty RESULT (separator-only file) is
  * success with no output lines. Divergence (deliberate, SURVEY §1.6):
  * a word at the file's last byte is counted, not dropped.
  */
object WordCountCli {

  /** C `strtol(s, 10)` semantics: optional sign, leading digits, trailing
    * garbage ignored; no digits -> 0 (main.c:60-66 then rejects <= 0).
    */
  def strtol(s: String): Long = {
    val t = s.trim
    val m = "^([+-]?\\d+)".r.findFirstIn(t)
    m.map(_.toLong).getOrElse(0L)
  }

  /** Returns process exit code; prints to stdout like the reference.
    *
    * Beyond the reference's two positional args, `--write-out <dir>`
    * streams the sorted result to text files instead of collecting the
    * whole vocabulary to the driver — the engine-surface sink for
    * corpora whose vocabulary exceeds driver memory.
    */
  def run(args: Array[String], spark: () => SparkSession): Int = {
    val (pos, writeOut) = args.indexOf("--write-out") match {
      case -1 => (args, None)
      case i if i == args.length - 1 =>
        println("Usage: wordcount <filename> <num_partitions> [--write-out <dir>]")
        return 1
      case i => (args.patch(i, Nil, 2), Some(args(i + 1)))
    }
    if (pos.length != 2) {
      println("Usage: wordcount <filename> <num_partitions>")
      return 1
    }
    val n = strtol(pos(1))
    if (n <= 0) {
      println(s"Error: num_partitions must be a positive integer, got '${pos(1)}'")
      return 1
    }
    val f = new java.io.File(pos(0))
    if (!f.isFile || !f.canRead) {
      println(s"Error: cannot open file '${pos(0)}'")
      return 1
    }
    if (f.length() == 0) {
      println(s"Error: file '${pos(0)}' does not contain any valid text data")
      return 1
    }
    // Reference clamps num_threads to file size with a notice
    // (main.c:120-124, byte-exact: first printf has no newline);
    // partitions beyond one byte each are equally meaningless.
    if (n > f.length()) {
      println("input text file size > num_threads specified, reducing " +
        s"num_threads to match...num_threads = ${f.length()}")
    }
    val parts = math.min(n, f.length()).toInt
    val s = spark()
    val result = WordCount.formatted(WordCount.fromFile(s, pos(0), parts))
    writeOut match {
      case Some(dir) => result.write.mode("overwrite").text(dir)
      case None      => result.collect().foreach(println)
    }
    0
  }

  def main(args: Array[String]): Unit =
    sys.exit(run(args, () => graft.Engine.session()))
}
