package graft

import graft.operators.Bucketing
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located join: same bucket count on the join key on both
  * sides must produce an exchange-free join, and results must equal the
  * plain shuffled join.
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def dropTable(t: String): Unit = spark.sql(s"DROP TABLE IF EXISTS $t")

  test("bucketed join plans without Exchange and matches shuffled join") {
    dropTable("graft_li_b")
    dropTable("graft_ord_b")
    val li = Tables.lineitem(spark, TestSpark.sf0001)
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_orderkey"), col("o_totalprice"))
    Bucketing.writeBucketed(li, "graft_li_b", "l_orderkey", 8, Some("l_orderkey"))
    Bucketing.writeBucketed(ord, "graft_ord_b", "o_orderkey", 8, Some("o_orderkey"))

    val joined = Bucketing.bucketedJoin(spark, "graft_li_b", "graft_ord_b",
      "l_orderkey", "o_orderkey")
    // disable broadcast so the bucket layout (not a broadcast) is what
    // eliminates the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      val n = joined.count()
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
      assert(n == expected)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
