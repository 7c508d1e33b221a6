package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Always plain `spark.read.parquet` — schema-on-read, and filters /
  * projections composed on top reach the scan via Catalyst pushdown
  * (verified via `.explain`: PushedFilters + ReadSchema pruning).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** [[Scratch.sig]] of table `name`'s files under `dir`, then `params`:
    * the key of an artifact derived from that table. */
  def sig(dir: String, name: String, params: Any*): String =
    Scratch.sig(new java.io.File(dir, s"$name.parquet") +: params: _*)

  /** `frame`, derived from table `name` under `dir`, written once as the
    * parquet copy `copy` in the shared [[Scratch]] root (a file stream
    * reads a directory of its own), keyed on the table's files and
    * `frame`'s schema. */
  def copyOf(frame: DataFrame, dir: String, name: String, copy: String): String =
    Scratch.once(s"${copy}_${new java.io.File(dir).getName}",
      sig(dir, name, frame.schema.catalogString))(frame.write.parquet(_))

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** Normalize a `ts` column to session-TZ `TimestampType` regardless of
    * how the parquet writer encoded it. The testdata generator has shipped
    * three flavors so far:
    *
    *   - parquet `TIMESTAMP(NANOS)`: Spark's reader rejects it outright;
    *     with `spark.sql.legacy.parquet.nanosAsLong=true` it arrives as a
    *     raw `LongType` of epoch nanos — truncate to micros, same
    *     truncation DuckDB applies casting TIMESTAMP_NS to TIMESTAMP.
    *   - parquet `TIMESTAMP(isAdjustedToUTC=false, us)`: Spark reads
    *     `TimestampNTZType`; cast to `TimestampType`. The session TZ is
    *     pinned to UTC (Engine.builder), so the wall-clock field values
    *     re-interpret as identical epoch micros — exactly what DuckDB's
    *     `epoch_us` yields on its (TZ-less) TIMESTAMP.
    *   - parquet `TIMESTAMP(isAdjustedToUTC=true, us)` / INT96: already
    *     `TimestampType` — pass through.
    *
    * Works on batch and streaming DataFrames alike (pure projection).
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
  }

  // nanosAsLong is pinned in Engine.builder (a loader must not mutate
  // session conf); normalizeTs remains the single schema-drift defense.
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(apply(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
