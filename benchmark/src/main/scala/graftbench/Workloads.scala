package graftbench

import java.io.File

import graft.operators.{DedupOps, WordCount}
import graft.plans.TokenCounts
import graft.queries.Dedup
import org.apache.spark.sql.{BenchShims, DataFrame, Encoders, Observation, SpanRDD, SparkSession, TaskSpan}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** What one iteration's output check found. */
case class Check(ok: Boolean, detail: String)

/** Everything the listener and the span store saw during one timed
  * iteration (records outside the iteration's interval are dropped). */
case class IterView(iter: Span, spans: Seq[Span], tasks: Seq[TaskRec],
    stages: Seq[StageRec], jobs: Seq[JobRec], plan: Option[SparkPlan]) {
  def child(name: String): Option[Span] = spans.find(s => s.parent == iter.id && s.name == name)
  def within(s: Span, start: Long, end: Long): Boolean = {
    val mid = start / 2 + end / 2
    mid >= s.start && mid <= s.end
  }
  def jobsIn(s: Span): Seq[JobRec] = jobs.filter(j => within(s, j.start, j.end))
  /** Shuffle bytes read per stage, from its tasks. */
  def stageShuffleRead: Map[Int, Long] =
    tasks.groupBy(_.stageId).map { case (id, ts) => id -> ts.map(_.shuffleRead).sum }
}

/** A benchmark workload: seeded inputs, one closed-loop query iteration
  * with its output check, and the per-layer numbers of a traced run. */
trait Workload {
  def name: String
  /** Input size the throughput metric is stated at, in MB (10^6 bytes). */
  def inputMb: Double
  /** Generates and materializes the inputs; returns a digest of them. */
  def prepare(): String
  /** The setup run: computes the reference answer the iterations are
    * checked against. */
  def reference(): Check
  /** One iteration. The returned span covers the timed region only;
    * the check runs after it. */
  def iterate(store: SpanStore): (Span, Check)
  /** Named sub-times of an iteration, in seconds (reported per layer). */
  def parts(v: IterView): Map[String, Double] = Map.empty
  /** Workload-specific per-layer numbers of one traced iteration. */
  def traced(v: IterView): Map[String, Double] = Map.empty
  /** Per-layer probes run once the traced iterations are done. */
  def probes(store: SpanStore): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Workloads {
  val Names = Seq("wc_ref", "minhash_pairs", "graph_rounds")

  def apply(name: String, spark: SparkSession, seed: Long, dataDir: File): Workload =
    name match {
      case "wc_ref" => new WcRef(spark, seed, dataDir)
      case "minhash_pairs" => new MinhashPairs(spark, seed)
      case "graph_rounds" => new GraphRounds(spark, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds(nanos: Long): Double = nanos / 1e9

  /** Median wall time of `reps` runs of `body`, each in its own span. */
  def probe(store: SpanStore, name: String, reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map(_ => seconds(store.time(0, name)(_ => body)._2.dur)))

  /** Order-independent (count, hash sum) over two long columns. */
  def pairHash(a: String, b: String): Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n"),
    sum(xxhash64(col(a), col(b)).bitwiseAND(lit(0xFFFFFFFFL))).as("h"))

  def crcHex(bytes: Array[Byte]): String = {
    val c = new java.util.zip.CRC32C()
    c.update(bytes)
    java.lang.Long.toHexString(c.getValue)
  }

  /** Every node of a physical plan, through adaptive wrappers and
    * finished query stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case _ => p.children.flatMap(planNodes)
  })
}

import Workloads._

/** The reference query on a workload-A-shaped corpus, collected like
  * the CLI does. */
final class WcRef(spark: SparkSession, seed: Long, dataDir: File) extends Workload {
  val name = "wc_ref"
  private val path = new File(dataDir, "wc_corpus.txt")
  private var expected: Array[String] = _

  def inputMb: Double = path.length / 1e6

  def prepare(): String = {
    val bytes = Gen.wcCorpus(seed)
    dataDir.mkdirs()
    val out = new java.io.FileOutputStream(path)
    try out.write(bytes) finally out.close()
    crcHex(bytes)
  }

  /** Independent count: plain Spark split / explode / groupBy over the
    * corpus lines (the generator separates tokens by single spaces and
    * newlines), sorted bytewise on the driver. */
  def reference(): Check = {
    val counted = spark.read.text(path.getPath)
      .select(explode(split(col("value"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").count()
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    expected = counted.sortWith((x, y) => Bytes.less(x._1, y._1))
      .map { case (w, c) => s"$w=$c" }
    val words = expected.length
    Check(words == Gen.WcVocab, s"reference has $words words, generator planted ${Gen.WcVocab}")
  }

  def iterate(store: SpanStore): (Span, Check) = {
    val (out, it) = store.time(0, "iteration") { s =>
      val (df, _) = store.time(s.id, "operators.wordcount.plan")(_ =>
        WordCount.formatted(WordCount.fromFile(spark, path.getPath)))
      store.time(s.id, "driver.collect")(_ => df.collect())._1
    }
    val words = out.map(l => l.substring(0, l.lastIndexOf('=')))
    val ordered = words.indices.drop(1).forall(i => Bytes.less(words(i - 1), words(i)))
    val same = java.util.Arrays.equals(out.asInstanceOf[Array[AnyRef]],
      expected.asInstanceOf[Array[AnyRef]])
    (it, Check(same && ordered, s"rows=${out.length} equal=$same ordered=$ordered"))
  }

  override def traced(v: IterView): Map[String, Double] = {
    val read = v.stageShuffleRead
    val merge = v.stages.filter(s => read.getOrElse(s.stageId, 0L) > 0)
    val collect = v.child("driver.collect")
    Map(
      "operators.wordcount.merge_sort_s" ->
        seconds(Stats.covered(v.iter.start, v.iter.end, merge.map(s => (s.submit, s.complete)))),
      "driver.collect_s" -> collect.map(c =>
        seconds(Stats.selfTime(c.start, c.end, v.jobsIn(c).map(j => (j.start, j.end))))).getOrElse(0.0))
  }

  /** sources.scan_s: the ChunkedTextSource scan into a noop sink.
    * plans.token_counts_s: TokenCounts.partialCounts' self time, summed
    * over tasks — each task's span from the moment its partition is
    * requested to its last row, minus the calls into the scan below it. */
  override def probes(store: SpanStore): Map[String, Double] = {
    def scan = spark.read.format("graft.sources.ChunkedTextSource").load(path.getPath)
    val scanS = probe(store, "sources.scan", 3)(noop(scan))
    val sc = spark.sparkContext
    val runs = (1 to 3).map { _ =>
      val acc = sc.collectionAccumulator[TaskSpan]("spans")
      val timedScan = BenchShims.mapInternal(scan)(rdd =>
        new SpanRDD[InternalRow](rdd, "sources.scan", acc))
      val counts = TokenCounts.partialCounts(timedScan, col("value"))
      new SpanRDD[InternalRow](BenchShims.internalRdd(counts), "plans.token_counts", acc)
        .foreach(_ => ())
      import scala.jdk.CollectionConverters._
      val (outer, child) = acc.value.asScala.toSeq.partition(_.name == "plans.token_counts")
      val scanBusy = child.map(t => t.partition -> t.busy).toMap
      val self = outer.map(t => (t.end - t.start) - scanBusy.getOrElse(t.partition, 0L)).sum
      outer.foreach(t => store.add(0, "task " + t.name, t.start, t.end))
      (seconds(self), outer.map(_.rows).sum.toDouble)
    }
    Map("sources.scan_s" -> scanS,
      "plans.token_counts_s" -> Stats.median(runs.map(_._1)),
      "plans.token_counts.rows_out" -> Stats.median(runs.map(_._2)))
  }

  override def close(): Unit = path.delete()
}

/** Unsigned bytewise string order (the reference's output order). */
object Bytes {
  def less(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8")
    val y = b.getBytes("UTF-8")
    java.util.Arrays.compareUnsigned(x, y) < 0
  }
}

/** MinHash + LSH near-duplicate pairs over seeded documents. */
final class MinhashPairs(spark: SparkSession, seed: Long) extends Workload {
  val name = "minhash_pairs"
  /** Groups of documents; about 1.4 documents per group. */
  val Groups = 12000L
  private var docs: DataFrame = _
  private var textBytes = 0L
  private var expectedExact = -1L
  private var refN = -1L
  private var refH = -1L

  def inputMb: Double = textBytes / 1e6

  def prepare(): String = {
    if (docs != null) docs.unpersist(blocking = true)
    val s = seed
    val parts = spark.sparkContext.defaultParallelism * 4
    docs = spark.range(0, Groups, 1, parts).as(Encoders.scalaLong)
      .flatMap(g => Gen.mhGroup(s, g).toSeq)(
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .toDF("doc_id", "text")
      .cache()
    val r = docs.agg(count(lit(1)), sum(length(col("text"))),
      sum(xxhash64(col("doc_id"), col("text")).bitwiseAND(lit(0xFFFFFFFFL)))).first()
    textBytes = r.getLong(1)
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  /** Pairs of a group's exact-copy members (members below EditMember). */
  private def plantedExact = {
    val bits = Gen.MemberBits
    val mask = (1L << bits) - 1
    shiftright(col("a_id"), bits) === shiftright(col("b_id"), bits) &&
      col("a_id").bitwiseAND(lit(mask)) < Gen.EditMember &&
      col("b_id").bitwiseAND(lit(mask)) < Gen.EditMember
  }

  private def run(store: SpanStore, parent: Long): Observation = {
    val obs = Observation("minhash_pairs")
    store.time(parent, "queries.dedup.minhash_pairs") { _ =>
      val h = pairHash("a_id", "b_id")
      noop(Dedup.minhashPairsFrom(docs, ordered = false).observe(obs, h.head,
        h.tail :+ sum(when(plantedExact, 1L).otherwise(0L)).as("exact"): _*))
    }
    obs
  }

  private def result(obs: Observation): (Long, Long, Long) = {
    val m = obs.get
    def l(k: String) = Option(m(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
    (l("n"), l("h"), l("exact"))
  }

  def reference(): Check = {
    expectedExact = Gen.mhExactPairs(seed, Groups)
    val (n, h, exact) = result(run(new SpanStore, 0))
    refN = n; refH = h
    Check(exact == expectedExact, s"setup run: $n pairs, $exact of $expectedExact planted exact pairs")
  }

  def iterate(store: SpanStore): (Span, Check) = {
    val (obs, it) = store.time(0, "iteration")(s => run(store, s.id))
    val (n, h, exact) = result(obs)
    (it, Check(exact == expectedExact && n == refN && h == refH,
      s"pairs=$n (setup $refN) hash=${h == refH} exact=$exact/$expectedExact"))
  }

  /** queries.dedup.pairs_self_s: the pair query's span minus the stages
    * that read no shuffle (the signature stages scanning the docs).
    * band_join_rows / unique_pairs: the largest and smallest row counts
    * of plan operators that output (a_id, b_id) before scoring — the
    * raw band self-join and the deduplicated candidates. */
  override def traced(v: IterView): Map[String, Double] = {
    val read = v.stageShuffleRead
    val leaf = v.stages.filter(s => read.getOrElse(s.stageId, 0L) == 0L)
    val pairsSpan = v.child("queries.dedup.minhash_pairs").get
    val pairRows = v.plan.toSeq.flatMap(planNodes).filter { p =>
      val names = p.output.map(_.name).toSet
      names("a_id") && names("b_id") && !names("est_jaccard")
    }.flatMap(_.metrics.get("numOutputRows").map(_.value)).filter(_ > 0)
    val band = if (pairRows.isEmpty) 0L else pairRows.max
    val unique = if (pairRows.isEmpty) 0L else pairRows.min
    Map(
      "queries.dedup.pairs_self_s" -> seconds(Stats.selfTime(pairsSpan.start, pairsSpan.end,
        leaf.map(s => (s.submit, s.complete)))),
      "queries.dedup.band_join_rows" -> band.toDouble,
      "queries.dedup.unique_pairs" -> unique.toDouble,
      "queries.dedup.candidate_waste" -> (if (unique > 0) band.toDouble / unique else 0.0))
  }

  override def probes(store: SpanStore): Map[String, Double] = Map(
    "operators.dedup_ops.signatures_s" -> probe(store, "operators.dedup_ops.signatures", 3)(
      noop(DedupOps.minhashSignaturesFlat(docs, "doc_id", col("text"), 3, 16))))
}

/** Connected components, then label propagation, over a pair set of
  * communities joined into paths. */
final class GraphRounds(spark: SparkSession, seed: Long) extends Workload {
  val name = "graph_rounds"
  val Components = 400L
  private var pairs: DataFrame = _
  private var nodes: DataFrame = _
  private var pairCount = 0L
  private var nodeCount = 0L
  private var refN = -1L
  private var refH = -1L

  def inputMb: Double = pairCount * 16 / 1e6

  def prepare(): String = {
    Seq(pairs, nodes).filter(_ != null).foreach(_.unpersist(blocking = true))
    val s = seed
    val parts = spark.sparkContext.defaultParallelism * 4
    val comps = spark.range(0, Components, 1, parts).as(Encoders.scalaLong)
    pairs = comps.flatMap(c => Gen.graphComponent(s, c)._2.toSeq)(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("a_id", "b_id").cache()
    nodes = comps.flatMap(c => Gen.graphComponent(s, c)._1.toSeq)(Encoders.scalaLong)
      .toDF("doc_id").cache()
    val p = pairs.agg(pairHash("a_id", "b_id").head, pairHash("a_id", "b_id").tail: _*).first()
    nodeCount = nodes.count()
    pairCount = p.getLong(0)
    s"$pairCount:${p.getLong(1)}:$nodeCount"
  }

  private def run(store: SpanStore, parent: Long): (DataFrame, Observation) = {
    val (cc, _) = store.time(parent, "queries.dedup.cc")(_ =>
      Dedup.ccFromPairs(nodes, pairs, ordered = false))
    val obs = Observation("lpa")
    store.time(parent, "queries.dedup.lpa")(_ =>
{
      val h = pairHash("doc_id", "community")
      noop(Dedup.lpaFromPairs(pairs).observe(obs, h.head, h.tail: _*))
    })
    (cc, obs)
  }

  private def check(cc: DataFrame, obs: Observation): (Check, Long, Long) = {
    val r = cc.agg(countDistinct(col("cluster")), count(lit(1))).first()
    val (comps, labeled) = (r.getLong(0), r.getLong(1))
    val m = obs.get
    val (n, h) = (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
    val ok = comps == Components && labeled == nodeCount
    (Check(ok, s"components=$comps/$Components labeled=$labeled/$nodeCount lpa=$n"), n, h)
  }

  def reference(): Check = {
    val (cc, obs) = run(new SpanStore, 0)
    val (c, n, h) = check(cc, obs)
    refN = n; refH = h
    c
  }

  def iterate(store: SpanStore): (Span, Check) = {
    val ((cc, obs), it) = store.time(0, "iteration")(s => run(store, s.id))
    val (c, n, h) = check(cc, obs)
    (it, Check(c.ok && n == refN && h == refH, s"${c.detail} lpa_hash=${h == refH}"))
  }

  override def parts(v: IterView): Map[String, Double] = Map(
    "cc_s" -> seconds(v.child("queries.dedup.cc").get.dur),
    "lpa_s" -> seconds(v.child("queries.dedup.lpa").get.dur))

  /** cc rounds: the jobs of the call site the CC loop repeats once per
    * round (its per-round checkpoint). Jobs that adaptive execution
    * submits for single query stages carry no call site of their own
    * and are left out. */
  override def traced(v: IterView): Map[String, Double] = {
    val sites = v.jobsIn(v.child("queries.dedup.cc").get).map(_.name)
      .filterNot(_.contains("withThreadLocalCaptured"))
    Map("queries.dedup.cc_rounds" ->
      (if (sites.isEmpty) 0.0 else sites.groupBy(identity).values.map(_.size).max.toDouble))
  }
}
