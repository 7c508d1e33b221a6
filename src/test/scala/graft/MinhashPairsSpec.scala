package graft

import graft.operators.DedupOps
import graft.queries.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The born-once MinHash pair path (Dedup.candidateMatchesFromBase)
  * against the band self-join formulation it replaced, kept here as the
  * reference: band self-join, pair dedup, signature re-attach, match
  * count. On a seeded corpus of planted exact and one-edit families the
  * two must agree row for row, at bucket caps small enough to fire the
  * hot-bucket guard and at the default.
  */
class MinhashPairsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val K = 16
  private val Bands = 4

  /** 70 families over a 400-word vocabulary: a 30-word base doc plus
    * 0-6 members, each an exact copy or the base with one word
    * replaced. Doc ids are shuffled so id order is not family order.
    */
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val texts = (0 until 70).flatMap { f =>
      val base = Vector.fill(30)(s"v${rnd.nextInt(400)}")
      base +: (1 to rnd.nextInt(7)).map { m =>
        if (rnd.nextBoolean()) base
        else base.updated(rnd.nextInt(30), s"e${f}x$m")
      }
    }.map(_.mkString(" "))
    val ids = rnd.shuffle(texts.indices.toVector).map(i => i * 3L + 1)
    ids.zip(texts)
  }

  private def docs: DataFrame = {
    import spark.implicits._
    corpus.toDF("doc_id", "text")
  }

  private def bandKey(b: Int): Column = xxhash64(lit(b), concat_ws("|",
    (0 until K / Bands).map(r => col(s"_m${b * K / Bands + r}").cast("string")): _*))

  /** Reference candidates (a_id, b_id, m) over a flat signature frame. */
  private def refCandidates(base: DataFrame, cap: Int): DataFrame = {
    val banded = base.select(col("doc_id"),
      explode(array((0 until Bands).map(bandKey): _*)).as("bh"))
    val hot = banded.groupBy("bh").agg(count(lit(1)).as("n"))
      .filter(col("n") > cap).select("bh")
    val cool = banded.join(hot, Seq("bh"), "left_anti")
    val pairs = cool.select(col("bh"), col("doc_id").as("a_id"))
      .join(cool.select(col("bh"), col("doc_id").as("b_id")), Seq("bh"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
    def sig(side: String) = base.select(col("doc_id").as(s"${side}_id") +:
      (0 until K).map(i => col(s"_m$i").as(s"${side}_m$i")): _*)
    val m = (0 until K)
      .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sig("a"), Seq("a_id")).join(sig("b"), Seq("b_id"))
      .select(col("a_id"), col("b_id"), m.cast("long").as("m"))
  }

  private def refPairs(base: DataFrame, cap: Int, est: String) =
    rows(refCandidates(base, cap)
      .select(col("a_id"), col("b_id"), (col("m").cast("double") / K.toDouble).as(est))
      .filter(col(est) >= 0.5)
      .orderBy("a_id", "b_id"))

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  private def assertSameRows(got: Seq[(Long, Long, Double)],
      want: Seq[(Long, Long, Double)], what: String): Unit =
    if (got != want) fail(s"$what: ${got.size} rows vs reference ${want.size}; " +
      s"only in engine: ${got.diff(want).take(5)}; " +
      s"only in reference: ${want.diff(got).take(5)}")

  private def shingleSigs(d: DataFrame) =
    DedupOps.minhashSignaturesFlat(d, "doc_id", col("text"), 3, K)

  test("minhash pairs equal the self-join reference at caps 2, 3, 4, default") {
    val d = docs
    val base = shingleSigs(d)
    val full = refPairs(base, Dedup.MINHASH_MAX_BUCKET, "est_jaccard")
    // the corpus must exercise the guard, or the small caps prove nothing
    assert(refPairs(base, 2, "est_jaccard").size < full.size)
    for (cap <- Seq(2, 3, 4, Dedup.MINHASH_MAX_BUCKET)) {
      val got = rows(Dedup.minhashPairsFrom(d, maxBucket = cap))
      val want = if (cap == Dedup.MINHASH_MAX_BUCKET) full
        else refPairs(base, cap, "est_jaccard")
      assertSameRows(got, want, s"cap $cap")
    }
  }

  test("wminhash pairs equal the band self-join reference") {
    val d = docs
    val got = rows(Dedup.wminhashPairsFrom(d))
    val want = refPairs(Dedup.wminhashSignaturesFlat(d),
      Dedup.MINHASH_MAX_BUCKET, "est_wjaccard")
    assert(want.nonEmpty)
    assertSameRows(got, want, "wminhash")
  }

  test("each candidate born once: lshRecall n_cand equals the reference") {
    val d = docs
    val base = shingleSigs(d)
    for (cap <- Seq(3, Dedup.MINHASH_MAX_BUCKET)) {
      val nCand = Dedup.lshRecallFrom(d, cap).collect()(0).getLong(1)
      assert(nCand == refCandidates(base, cap).count(), s"cap $cap")
    }
  }

  /** Signature generators in the FINAL adaptive plan, query stages
    * included; a reused exchange is a leaf, so it counts nothing. */
  private def shingleGenerators(p: SparkPlan): Int = {
    val here = p match {
      case g: GenerateExec if g.generator.prettyName == "graft_shingle_hashes" => 1
      case _ => 0
    }
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    here + below.map(shingleGenerators).sum
  }

  private def executedGenerators(input: DataFrame): Int = {
    val pairs = Dedup.minhashPairsFrom(input, ordered = false)
    pairs.collect()
    shingleGenerators(pairs.queryExecution.executedPlan)
  }

  test("signatures run at most twice over a cached input and once over parquet") {
    // AQE reuses no exchange above a cached InMemoryTableScan, so every
    // consumer of the signature frame recomputes it over a cached input
    val cached = docs.cache()
    try {
      cached.count()
      val n = executedGenerators(cached)
      assert(n >= 1 && n <= 2, s"$n signature passes over a cached input")
    } finally cached.unpersist(blocking = true)
    val dir = java.nio.file.Files.createTempDirectory("minhash_pairs_spec")
    try {
      val path = dir.resolve("docs").toString
      docs.write.parquet(path)
      val n = executedGenerators(spark.read.parquet(path))
      assert(n == 1, s"$n signature passes over parquet")
    } finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }
}
