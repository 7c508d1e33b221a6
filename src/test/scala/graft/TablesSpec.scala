package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.normalizeTs` must yield identical `TimestampType` epoch
  * values for every `ts` encoding the testdata generator has shipped:
  *
  *   1. parquet TIMESTAMP(NANOS) — unreadable by Spark directly; with
  *      `spark.sql.legacy.parquet.nanosAsLong=true` it surfaces as a
  *      raw LongType of epoch nanos (simulated here by writing a Long
  *      column: the reader hands `normalizeTs` the same LongType input).
  *   2. parquet TIMESTAMP(isAdjustedToUTC=false, us) — read as
  *      TimestampNTZType (written here via `timestamp_ntz` cast).
  *   3. parquet TIMESTAMP(isAdjustedToUTC=true, us) — read as
  *      TimestampType (written here from TimestampType with
  *      outputTimestampType=TIMESTAMP_MICROS).
  *
  * The generator has changed encoding twice across rounds; this pins the
  * loader against a third drift.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val root = java.nio.file.Files.createTempDirectory("graft_tables_spec")

  override def afterAll(): Unit = FileUtils.deleteDirectory(root.toFile)

  // sub-millisecond micros on purpose: truncation bugs show up here
  private val epochMicros = Seq(
    1704067200000000L, // 2024-01-01 00:00:00.000000
    1704067200123456L, // 2024-01-01 00:00:00.123456
    1704070800999999L) // 2024-01-01 01:00:00.999999

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(root, s"graft_tables_$tag").toString

  private def readNormalized(path: String): DataFrame =
    Tables.normalizeTs(spark.read.parquet(path))

  private def micros(df: DataFrame): Seq[Long] =
    df.select(unix_micros(col("ts")).as("us"))
      .collect().map(_.getLong(0)).toSeq.sorted

  test("normalizeTs: all three parquet ts encodings agree") {
    import spark.implicits._
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    // flavor 1: raw Long nanos (what nanosAsLong yields for TIMESTAMP(NANOS))
    val longPath = tmpDir("long")
    epochMicros.map(_ * 1000L).toDF("ts")
      .write.mode("overwrite").parquet(longPath)

    // flavor 2: TIMESTAMP_NTZ micros
    val ntzPath = tmpDir("ntz")
    epochMicros.toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(ntzPath)

    // flavor 3: UTC-adjusted TIMESTAMP micros
    val utcPath = tmpDir("utc")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    epochMicros.toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(utcPath)

    val dfs = Seq(longPath, ntzPath, utcPath).map(readNormalized)
    dfs.foreach(df => assert(df.schema("ts").dataType == TimestampType,
      s"expected TimestampType, got ${df.schema("ts").dataType}"))
    dfs.foreach(df => assert(micros(df) == epochMicros.sorted))

    // Engine disables NTZ inference (the NTZ file above read back as
    // TimestampType already); exercise normalizeTs's NTZ branch too, as
    // it's the only defense in sessions without Engine's conf.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try {
      val ntzRaw = spark.read.parquet(ntzPath)
      assert(ntzRaw.schema("ts").dataType == TimestampNTZType)
      val norm = Tables.normalizeTs(ntzRaw)
      assert(norm.schema("ts").dataType == TimestampType)
      assert(micros(norm) == epochMicros.sorted)
    } finally
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  }

  test("live testdata schemas match the pinned expectations") {
    // The generator has drifted before (ts encoding, twice). Pin every
    // column's post-normalization Spark type so the NEXT drift fails
    // here, naming the table and column, instead of surfacing as a
    // silent value corruption or a mid-gate analysis error.
    val expected = Map(
      "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType))
    expected.foreach { case (table, cols) =>
      val df =
        if (table == "events") Tables.events(spark, TestSpark.sf0001)
        else Tables(spark, TestSpark.sf0001, table)
      cols.foreach { case (name, tpe) =>
        val actual = df.schema(name).dataType
        // containsNull/valueContainsNull flags are generator-incidental
        val matches = (actual, tpe) match {
          case (ArrayType(a, _), ArrayType(b, _)) => a == b
          case (a, b) => a == b
        }
        assert(matches, s"$table.$name: expected $tpe, testdata now reads as " +
          s"$actual — normalize in Tables or update consumers deliberately")
      }
    }
    // Pin the embedding DIMENSION too: pqIndex slices the vector into
    // Similarity.PQ_SUB fixed-width subspaces and the oracle SQL inlines
    // the same arithmetic — a generator drift in dim would surface as
    // null-padded subvectors (silent score corruption), not an error.
    import org.apache.spark.sql.functions.{size => asize, countDistinct}
    val dims = Tables(spark, TestSpark.sf0001, "embeddings")
      .select(asize(col("embedding")).as("d"))
      .agg(countDistinct(col("d")).cast("long").as("nd"),
        org.apache.spark.sql.functions.min("d").as("d0"))
      .collect().head
    assert(dims.getLong(0) == 1L && dims.getInt(1) == 64,
      s"embeddings dim drifted: distinct sizes=${dims.getLong(0)}, " +
        s"min=${dims.getInt(1)} — PQ subspace split and the hyperplane " +
        "pool assume 64")
  }

  test("graft_cosine agrees across float and double array inputs") {
    import spark.implicits._
    val f = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)))
      .toDF("a", "b")
      .select(graft.functions.Vectors.cosine(spark, col("a"), col("b")).as("c"))
      .collect().head.getDouble(0)
    val d = Seq((Array(1.0, 2.0, 3.0), Array(3.0, 2.0, 1.0)))
      .toDF("a", "b")
      .select(graft.functions.Vectors.cosine(spark, col("a"), col("b")).as("c"))
      .collect().head.getDouble(0)
    assert(math.abs(f - d) < 1e-9)
    assert(math.abs(f - 10.0 / 14.0) < 1e-7)
    // non-array input fails analysis loudly, not silently at runtime
    val err = intercept[Exception] {
      Seq((1L, 2L)).toDF("a", "b")
        .select(graft.functions.Vectors.cosine(spark, col("a"), col("b")))
        .collect()
    }
    assert(err.getMessage.contains("graft_cosine") ||
      err.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("Tables.events yields TimestampType on the live testdata") {
    val ev = Tables.events(spark, TestSpark.sf0001)
    assert(ev.schema("ts").dataType == TimestampType)
    // and event-time primitives analyze + run on it
    assert(ev.select(unix_micros(col("ts"))).limit(1).count() == 1L)
  }
}
