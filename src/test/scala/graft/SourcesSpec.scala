package graft

import java.nio.file.Files

import graft.sources.Sources
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip every supported format and confirm values + schema
  * survive, including partitioned parquet layout.
  */
class SourcesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val root = Files.createTempDirectory("graft_sources_spec")

  override def afterAll(): Unit = FileUtils.deleteDirectory(root.toFile)

  private def scratch(name: String): String =
    s"${Files.createTempDirectory(root, s"graft_src_$name")}/out"

  private def sample = Tables.customer(spark, TestSpark.sf0001)
    .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"))

  test("parquet round-trip, partitioned by nation") {
    val p = scratch("parquet")
    Sources.writeParquet(sample, p, partitionBy = Seq("c_nationkey"))
    val back = Sources.readParquet(spark, p)
    assert(back.count() == sample.count())
    // partition pruning: scanning one nation reads one directory
    val one = back.filter(col("c_nationkey") === 3)
    assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(one.count() ==
      sample.filter(col("c_nationkey") === 3).count())
  }

  test("csv round-trip with explicit schema") {
    val p = scratch("csv")
    Sources.writeCsv(sample, p)
    val back = Sources.readCsv(spark, p, sample.schema)
    assert(back.schema == sample.schema)
    assert(back.agg(sum("c_custkey")).head.getLong(0) ==
      sample.agg(sum("c_custkey")).head.getLong(0))
  }

  test("jsonl round-trip with explicit schema") {
    val p = scratch("json")
    Sources.writeJsonl(sample, p)
    val back = Sources.readJsonl(spark, p, sample.schema)
    assert(back.count() == sample.count())
    assert(back.agg(sum("c_custkey")).head.getLong(0) ==
      sample.agg(sum("c_custkey")).head.getLong(0))
  }

  test("orc round-trip with pushdown") {
    val p = scratch("orc")
    Sources.writeOrc(sample, p)
    val back = Sources.readOrc(spark, p).filter(col("c_acctbal") > 0)
    assert(back.queryExecution.executedPlan.toString.contains("PushedFilters"))
    assert(back.count() == sample.filter(col("c_acctbal") > 0).count())
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    import spark.implicits._
    val p = scratch("dynpart")
    val day1 = Seq((1L, "d1"), (2L, "d1"), (3L, "d2")).toDF("id", "day")
    day1.write.partitionBy("day").mode("overwrite").parquet(p)
    // backfill d2 only: with dynamic mode, d1 must survive
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq((30L, "d2"), (31L, "d2")).toDF("id", "day")
        .write.partitionBy("day").mode("overwrite").parquet(p)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val back = spark.read.parquet(p).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("day"))).toSet
    assert(back == Set((1L, "d1"), (2L, "d1"), (30L, "d2"), (31L, "d2")))
  }

  test("cached dimension is served from InMemoryRelation") {
    val dim = Tables.nation(spark, TestSpark.sf0001)
    dim.createOrReplaceTempView("nation_cached")
    spark.catalog.cacheTable("nation_cached")
    try {
      val q = spark.table("nation_cached").filter(col("n_regionkey") === 1)
      q.count() // materialize the cache
      assert(q.queryExecution.executedPlan.toString.contains("InMemoryRelation"),
        q.queryExecution.executedPlan.toString)
    } finally spark.catalog.uncacheTable("nation_cached")
  }

  test("text round-trip (word=count sink format)") {
    val p = scratch("text")
    val counts = graft.operators.WordCount.counts(
      Tables.documents(spark, TestSpark.sf0001), col("text"))
    Sources.writeText(graft.operators.WordCount.formatted(counts).toDF(), p)
    val back = Sources.readText(spark, p)
    assert(back.count() == counts.count())
    assert(back.head.getString(0).matches("[A-Za-z0-9]+=\\d+"))
  }

  test("compactParquet merges small files to the target count, same rows") {
    val dir = scratch("compact")
    // 64 tiny files
    Tables.lineitem(spark, TestSpark.sf0001)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .repartition(64).write.mode("overwrite").parquet(dir)
    val before = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(before == 64)
    val rows = spark.read.parquet(dir).count()
    val qtySum = spark.read.parquet(dir).agg(sum("l_quantity")).head.getDouble(0)
    // target sized so everything fits one file
    val nOut = Sources.compactParquet(spark, dir, targetBytes = 1L << 30)
    assert(nOut == 1)
    assert(spark.read.parquet(dir).count() == rows)
    assert(spark.read.parquet(dir).agg(sum("l_quantity")).head.getDouble(0) == qtySum)
    // sorted variant splits into >1 range files when target is small
    val nSorted = Sources.compactParquet(spark, dir,
      targetBytes = 8L << 10, sortBy = Seq("l_orderkey"))
    assert(nSorted > 1)
    assert(spark.read.parquet(dir).count() == rows)
  }
}
