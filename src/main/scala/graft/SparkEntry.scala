package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every QueryModule's rows. Each query has a Spark
  * implementation and a DuckDB oracle over the same parquet tables;
  * column names/aliases match on both sides.
  */
object SparkEntry {

  /** All registered query modules, in registration order. */
  def modules: Seq[QueryModule] = Seq(
    graft.queries.Core,
    graft.queries.Relational,
    graft.queries.TextAnalysis,
    graft.queries.Dedup,
    graft.queries.Similarity,
    graft.queries.Multimodal,
    graft.queries.EventsTime,
    graft.queries.Io,
    graft.queries.Sql)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every module's rows by name; a name given twice fails here. */
  private[graft] def byName(modules: Seq[QueryModule]): Map[String, Query] = {
    val rows = modules.flatMap(_.rows)
    val twice = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(twice.isEmpty, s"query names registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    rows.map(r => r.name -> r).toMap
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    byName(modules).map { case (n, r) => n -> r.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    byName(modules).map { case (n, r) => n -> r.oracle }
}
