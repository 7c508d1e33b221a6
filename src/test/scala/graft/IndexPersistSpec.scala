package graft

import org.scalatest.funsuite.AnyFunSuite

/** The build-once/probe-many ANN index lifecycle (sim_index_persist /
  * sim_pq_persist): (1) serving from the LOADED parquet artifact is
  * bit-equal to the inline-trained build — the determinism that lets
  * one oracle gate both paths; (2) once the artifact exists,
  * constructing the serve plan launches ZERO Spark jobs — no hidden
  * retrain, no plan-time count, no schema-inference footer read (the
  * txt_bm25 discipline).
  */
class IndexPersistSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("persisted IVF serve is bit-equal to the inline build") {
    val loaded = SparkEntry.queries("sim_index_persist")(
      spark, TestSpark.sf0001).collect().toSeq
    val inline = SparkEntry.queries("sim_ivf_topk")(
      spark, TestSpark.sf0001).collect().toSeq
    assert(loaded.nonEmpty)
    assert(loaded == inline,
      "loaded-index IVF result differs from the inline build")
  }

  test("persisted PQ serve is bit-equal to the inline build") {
    val loaded = SparkEntry.queries("sim_pq_persist")(
      spark, TestSpark.sf0001).collect().toSeq
    val inline = SparkEntry.queries("sim_pq_topk")(
      spark, TestSpark.sf0001).collect().toSeq
    assert(loaded.nonEmpty)
    assert(loaded == inline,
      "loaded-index PQ result differs from the inline build")
  }

  test("appended index serve is bit-equal to the inline frozen build") {
    import org.apache.spark.sql.functions._
    // the engine unions the persisted v1 (base-slice) assignment with
    // the v2 delta assigned against FROZEN v1 centroids; the inline
    // twin assigns the FULL corpus against base-derived centroids in
    // one pass — identical iff the append really froze the centroids
    val loaded = SparkEntry.queries("sim_index_append")(
      spark, TestSpark.sf0001).collect().toSeq
    val e = graft.Tables.embeddings(spark, TestSpark.sf0001)
    val isDelta = pmod(col("vec_id"), lit(10L)) === 7
    val (cent, _) = graft.queries.Similarity.ivfIndexFrames(
      spark, e.filter(!isDelta))
    val inline = graft.queries.Similarity.ivfServe(spark, cent,
      graft.queries.Similarity.ivfAssign(spark, e, cent),
      e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_v")))
      .collect().toSeq
    assert(loaded.nonEmpty)
    assert(loaded == inline,
      "appended-index IVF result differs from the inline frozen build")
  }

  test("compacted index serve is bit-equal to the inline filtered build " +
      "and never surfaces a tombstoned id") {
    import org.apache.spark.sql.functions._
    val loaded = SparkEntry.queries("sim_index_compact")(
      spark, TestSpark.sf0001).collect().toSeq
    val e = graft.Tables.embeddings(spark, TestSpark.sf0001)
    val (cent, asg) = graft.queries.Similarity.ivfIndexFrames(spark, e)
    val inline = graft.queries.Similarity.ivfServe(spark, cent,
      asg.filter(pmod(col("vec_id"), lit(10L)) =!= 3),
      e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_v")))
      .collect().toSeq
    assert(loaded.nonEmpty)
    assert(loaded == inline,
      "compacted-index result differs from the inline filtered build")
    val dead = loaded.filter(_.getAs[Long]("vec_id") % 10 == 3)
    assert(dead.isEmpty,
      s"tombstoned ids surfaced in compacted results: $dead")
  }

  test("serve plans launch ZERO training jobs once the artifact exists") {
    // ensure the artifacts exist (Scratch.once keys them per JVM + source
    // sig, so these calls build at most once even across the suite)
    SparkEntry.queries("sim_index_persist")(spark, TestSpark.sf0001)
    SparkEntry.queries("sim_pq_persist")(spark, TestSpark.sf0001)
    SparkEntry.queries("sim_index_append")(spark, TestSpark.sf0001)
    SparkEntry.queries("sim_index_compact")(spark, TestSpark.sf0001)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        sites.add(js.stageInfos.map(_.name).mkString("|")); ()
      }
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val ivf = SparkEntry.queries("sim_index_persist")(spark, TestSpark.sf0001)
      val pq = SparkEntry.queries("sim_pq_persist")(spark, TestSpark.sf0001)
      val app = SparkEntry.queries("sim_index_append")(spark, TestSpark.sf0001)
      val cpt = SparkEntry.queries("sim_index_compact")(spark, TestSpark.sf0001)
      ivf.schema; pq.schema; app.schema; cpt.schema // analysis: plan-only
      org.apache.spark.sql.GraftShims.waitListenerBusEmpty(spark)
      // The ONLY jobs allowed at plan time are the source-table footer
      // reads (`spark.read.parquet` on embeddings, Tables.scala — one
      // single-stage inference job per open, paid by every query in the
      // registry alike). The INDEX artifacts are read with explicit
      // schemas, and training is a chain of agg/checkpoint stages, so
      // any other stage name here means the index is being rebuilt.
      val offending = sites.toArray(Array.empty[String])
        .filterNot(_.startsWith("parquet at Tables.scala"))
      assert(offending.isEmpty,
        s"serve-path construction ran non-source jobs at " +
          s"[${offending.mkString("; ")}] — training or artifact schema " +
          "inference has leaked into the serve plan")
      assert(ivf.count() > 0 && pq.count() > 0 && app.count() > 0 &&
        cpt.count() > 0)
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
