package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: `run` builds its result from a session and
  * an sf dir, and `oracle` is equivalent DuckDB SQL over the same parquet
  * tables, with the same column aliases (the compare, `tools/check.py`,
  * sorts columns by name).
  *
  * Determinism contract: every query ends in a total ORDER BY (all ties
  * broken by a unique key) and every floating aggregate is rounded, so
  * the row/hash compare is stable across engines and runs.
  */
final case class Query(name: String, run: (SparkSession, String) => DataFrame,
    oracle: String)

/** A named group of queries, built on each access. */
trait QueryModule {
  def rows: Seq[Query]
}
