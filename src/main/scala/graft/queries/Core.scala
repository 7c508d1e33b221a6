package graft.queries

import graft.{Query, QueryModule, Tables}
import graft.functions.Text
import graft.operators.WordCount
import org.apache.spark.sql.functions._

/** The reference's own query surface (SURVEY.md §0, §2.1), generalized
  * from "one text file" to the `documents` table's `text` column:
  * tokenize -> count -> bytewise order. Tokenization contract is
  * reference-exact (graft.functions.Text, SURVEY §1.4).
  */
object Core extends QueryModule {

  override def rows: Seq[Query] = Seq(
    // The reference query itself over documents.text.
    Query("wordcount", (s, d) =>
      WordCount.counts(Tables.documents(s, d), col("text")),
      s"""
      SELECT word, count(1) AS cnt
      FROM (SELECT unnest(${Text.sqlTokens("text")}) AS word FROM documents)
      GROUP BY word
      ORDER BY word"""),

    // Top-k variant (reference lacks limits; SURVEY §2.2 "extended").
    Query("wordcount_topk", (s, d) =>
      Tables.documents(s, d)
        .select(graft.functions.TokenizeExplode.tokenize(s, col("text")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20),
      s"""
      SELECT word, count(1) AS cnt
      FROM (SELECT unnest(${Text.sqlTokens("text")}) AS word FROM documents)
      GROUP BY word
      ORDER BY cnt DESC, word
      LIMIT 20"""),

    // Grouped by document language (multi-key aggregation).
    Query("wordcount_by_lang", (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), graft.functions.TokenizeExplode.tokenize(s, col("text")).as("word"))
        .groupBy("lang", "word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "word"),
      s"""
      SELECT lang, word, count(1) AS cnt
      FROM (SELECT lang, unnest(${Text.sqlTokens("text")}) AS word FROM documents)
      GROUP BY lang, word
      ORDER BY lang, word"""),

    // Skew-safe two-phase aggregation (salting): when one key dominates
    // (think "the" at 100 TB), pre-aggregate on (key, salt) so no single
    // reducer owns a hot key, then merge. Same result as `wordcount` —
    // which is exactly what the shared oracle asserts.
    Query("wordcount_salted", (s, d) =>
      Tables.documents(s, d)
        .select(graft.functions.TokenizeExplode.tokenize(s, col("text")).as("word"),
          spark_partition_id().as("salt"))
        .groupBy("word", "salt")
        .agg(count(lit(1)).as("c1"))
        .groupBy("word")
        .agg(sum("c1").as("cnt"))
        .orderBy("word"),
      s"""
      SELECT word, count(1) AS cnt
      FROM (SELECT unnest(${Text.sqlTokens("text")}) AS word FROM documents)
      GROUP BY word
      ORDER BY word""")
  )
}
