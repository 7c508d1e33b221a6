package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table support: pre-shuffle fact tables on their join key at
  * write time so repeated joins/aggregations on that key run with NO
  * exchange at read time — at 100 TB, eliminating the lineitem/orders
  * shuffle per query is the single biggest join optimization available
  * when the workload is known in advance.
  *
  * Uses session catalog tables (`saveAsTable` is the only API surface
  * Spark offers for bucketing). Readers then join `spark.table(a)` to
  * `spark.table(b)`; with matching bucket specs Catalyst plans a
  * SortMergeJoin whose children are scans — no Exchange (verified in
  * BucketingSpec).
  */
object Bucketing {

  /** Write `df` as a bucketed table (overwriting). The table is external,
    * its files at `<Scratch.jvm>/<table>`: they go with this JVM's root,
    * and the catalog entry with the session. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, sortBy: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .option("path", new java.io.File(graft.Scratch.jvm, table).getAbsolutePath)
      .bucketBy(buckets, key)
    sortBy.fold(w)(s => w.sortBy(s)).saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket key. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      leftKey: String, rightKey: String): DataFrame =
    spark.table(left).join(spark.table(right),
      spark.table(left)(leftKey) === spark.table(right)(rightKey))
}
