package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenization contract of the reference engine, as composable Columns.
  *
  * Reference semantics (SURVEY.md §1.4, /root/reference/src/main.c:187-189,
  * 217-266): a token is a maximal run of ASCII `[A-Za-z0-9]`; every other
  * byte (incl. `_` and all bytes >= 0x80) is a separator; case-sensitive;
  * no normalization. `split` on the complement class + empty-filter is
  * exactly the C FSM for every input (argument in SURVEY §1.4). The
  * byte-level form of the rule that the engine's own operators run
  * lives in `functions/Tokens.scala`; these Columns are its
  * oracle-mirrored SQL form.
  *
  * All pure `org.apache.spark.sql.functions` — whole-stage-codegen'd,
  * no UDFs in the hot path.
  */
object Text {

  /** Separator pattern: complement of the reference's word-char class. */
  val TokenPattern = "[^A-Za-z0-9]+"

  /** DuckDB's twin of [[tokens]] over the SQL expression `e`, for the
    * oracles: the same split, empties removed. */
  def sqlTokens(e: String): String =
    s"list_filter(string_split_regex($e, '$TokenPattern'), t -> t <> '')"

  /** `array<string>` of tokens of `c`, empties removed. */
  def tokens(c: Column): Column =
    filter(split(c, TokenPattern), t => length(t) > 0)

  /** Token count of `c` as long. */
  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** Lowercased tokens — for case-insensitive text analysis ops. */
  def tokensLower(c: Column): Column = tokens(lower(c))

  /** Adjacent word n-grams (join by single space) from a token array. */
  def ngrams(tokenArr: Column, n: Int): Column = {
    // sequence(0, size-n) indexes each n-gram start; slice is 1-based.
    val starts = sequence(lit(0), size(tokenArr) - n)
    when(size(tokenArr) >= n,
      transform(starts, i => array_join(slice(tokenArr, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Character k-shingles of a string column. */
  def charShingles(c: Column, k: Int): Column = {
    val starts = sequence(lit(1), length(c) - (k - 1))
    when(length(c) >= k, transform(starts, i => c.substr(i, lit(k))))
      .otherwise(array().cast("array<string>"))
  }
}
