package graft

import java.nio.file.Files

import graft.streaming.Streaming
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Streaming.drain: its memory sink never outlives the call, whether the
  * query fails, the progress check fails, or both succeed, and the frame
  * it returns stays readable without the sink.
  */
class DrainSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val dir = Files.createTempDirectory("graft_drain_in").toFile

  override def beforeAll(): Unit =
    spark.range(10).toDF("id").write.mode("overwrite").parquet(dir.getPath)

  override def afterAll(): Unit = FileUtils.deleteDirectory(dir)

  /** A file stream over ids 0..9; each drain reads it from the start. */
  private def source(): DataFrame =
    spark.readStream.schema("id LONG").parquet(dir.getPath)

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** `run` throws, and leaves no query running and no new temp view. */
  private def failsClean(run: => DataFrame): Throwable = {
    val before = tempViews()
    val e = intercept[Exception](run)
    assert(spark.streams.active.isEmpty, "a failed drain left its query running")
    assert(tempViews() === before, "a failed drain left its sink view")
    e
  }

  test("a stream that fails mid-drain rethrows and drops its sink") {
    val failing = source().select(
      when(col("id") === 7, raise_error(lit("drain probe: row 7")))
        .otherwise(col("id")).as("id"))
    val e = failsClean(Streaming.drain(failing)(identity))
    val causes = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("drain probe: row 7")),
      s"the query's failure was not rethrown: $e")
  }

  test("a progress check that throws keeps its message and drops the sink") {
    val e = failsClean(Streaming.drain(source(),
      check = _ => throw new IllegalStateException("check refused"))(identity))
    assert(e.isInstanceOf[IllegalStateException])
    assert(e.getMessage === "check refused")
  }

  test("the drained frame is readable after the sink view is dropped") {
    val before = tempViews()
    var dataBatches = -1
    val out = Streaming.drain(source(),
      check = p => dataBatches = p.count(_.numInputRows > 0))(
      _.filter(col("id") % 2 === 0).orderBy("id"))
    assert(dataBatches === 1)
    assert(spark.streams.active.isEmpty)
    assert(tempViews() === before)
    assert(out.collect().map(_.getLong(0)).toSeq === Seq(0L, 2L, 4L, 6L, 8L))
  }
}
