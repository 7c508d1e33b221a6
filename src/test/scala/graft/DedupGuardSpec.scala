package graft

import graft.queries.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale guards on the dedup pair generators: corpora engineered to
  * break naive blocking must stay bounded.
  */
class DedupGuardSpec extends AnyFunSuite {
  import DedupGuardSpec.component
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("prefix-block cap drops a boilerplate-prefix block instead of going quadratic") {
    // 2,000 docs that all open with the same three tokens: unguarded
    // first-3-token blocking would emit ~2M candidate pairs from this
    // one block. The MAX_BLOCK cap must drop the block entirely.
    val boiler = (0 until 2000)
      .map(i => (i.toLong, s"terms of service apply uniquely to document number $i"))
      .toDF("doc_id", "text")
    assert(Dedup.jaccardPairsFrom(boiler).count() === 0L)
    assert(Dedup.levenshteinPairsFrom(boiler).count() === 0L)
  }

  test("LSH hot-bucket guard skips an exact-duplicate family, keeps near-dups") {
    // 30 byte-identical docs share every band -> one bucket of 30 in
    // each of the 4 bands; unguarded, that family alone emits
    // 4 * C(30,2) candidate rows before dedup — quadratic in family
    // size (the 100 TB blow-up). At maxBucket = 8 every family bucket
    // is skipped, while the genuine near-dup pair (bucket of 2)
    // survives with its estimate intact.
    val family = (0 until 30)
      .map(i => (100L + i, "the exact same boilerplate text every time"))
    val nearDup = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"))
    val docs = (family ++ nearDup).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairsFrom(docs, ordered = true, maxBucket = 8)
      .collect()
    assert(pairs.forall(r => r.getLong(0) < 100L && r.getLong(1) < 100L),
      "family pairs must be skipped by the hot-bucket guard")
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L)))
    // default cap (10000): the family is far under it and pairs freely
    val unguarded = Dedup.minhashPairsFrom(docs, ordered = false).count()
    assert(unguarded == 30L * 29 / 2 + 1) // all family pairs + the near-dup
  }

  test("token-free docs never enter similarity pairing") {
    // empty text, separators-only, and non-ASCII-only docs all tokenize
    // to ZERO tokens: their shared empty-string prefix key would pool
    // them into one block and the Jaccard denominator |A u B| = 0 (or
    // ta + tb - smin = 0) aborts the ANSI divide — the crash a single
    // degenerate doc in a regenerated corpus would inflict on the gate
    val docs = Seq(
      (1L, ""), (2L, "   "), (3L, "___***___"), (4L, "€漢字🙂"),
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon eta")).toDF("doc_id", "text")
    val jac = Dedup.jaccardPairsFrom(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(jac.toSeq == Seq((10L, 11L)))
    val wj = Dedup.weightedJaccardPairsFrom(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(wj.toSeq == Seq((10L, 11L)))
  }

  test("prefix-block cap keeps small blocks intact") {
    // Two near-identical docs sharing a distinct prefix: a block of 2 is
    // far under the cap, and the pair must survive with jac >= 0.5.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "totally different text about unrelated things entirely")
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairsFrom(docs).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getLong(0) === 1L && pairs.head.getLong(1) === 2L)
    val lev = Dedup.levenshteinPairsFrom(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(lev.toSeq === Seq((1L, 2L)))
  }

  test("contamination flags benchmark-overlapping docs only") {
    val benchText = "the quick brown fox jumps over the lazy dog near the river bank"
    val docs = Seq(
      (1L, benchText), // the benchmark doc itself: full overlap
      (2L, benchText + " with a small unique suffix appended here"), // partial
      (3L, "completely unrelated content speaking of other matters entirely today")
    ).toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" === 1L)
    val out = Dedup.contaminationFrom(docs, bench)
      .select("doc_id", "mille").as[(Long, Long)].collect().toMap
    assert(out(1L) === 1000L) // self-overlap is total
    assert(out.contains(2L) && out(2L) > 500L && out(2L) < 1000L)
    assert(!out.contains(3L))
  }

  test("empty and singleton corpora flow through every dedup pipeline") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val one = Seq((7L, "just one document with a handful of words inside")).toDF("doc_id", "text")
    assert(Dedup.minhashPairsFrom(empty).count() === 0L)
    assert(Dedup.minhashPairsFrom(one).count() === 0L)
    assert(Dedup.clustersFrom(empty).count() === 0L)
    // a singleton clusters to itself
    assert(Dedup.clustersFrom(one).as[(Long, Long)].collect().toSeq === Seq((7L, 7L)))
    assert(Dedup.jaccardPairsFrom(empty).count() === 0L)
    assert(Dedup.levenshteinPairsFrom(one).count() === 0L)
    assert(Dedup.contaminationFrom(empty, one).count() === 0L)
    // benchmark empty -> nothing can be contaminated
    assert(Dedup.contaminationFrom(one, empty).count() === 0L)
    assert(Dedup.simhashFrom(spark, one).count() === 1L)
    // round-5 ops: same contract
    assert(Dedup.ppjoinPairsFrom(empty).count() === 0L)
    assert(Dedup.ppjoinPairsFrom(one).count() === 0L)
    assert(Dedup.spanDedupFrom(empty).count() === 0L)
    assert(Dedup.spanDedupFrom(one).count() === 1L)
    assert(Dedup.incrementalPairsFrom(empty, one).count() === 0L)
    assert(Dedup.incrementalPairsFrom(one, empty).count() === 0L)
    assert(graft.queries.Similarity.sparseCosinePairsFrom(empty).count() === 0L)
    assert(graft.queries.Similarity.sparseCosinePairsFrom(one).count() === 0L)
  }

  test("dedup cascade on an all-unique corpus: empty near-dup stage flows through") {
    // every text distinct AND dissimilar -> the exact collapse is the
    // identity (n_copies all 1) and MinHash finds no candidate pairs;
    // the empty pair frame must survive both copy-count re-attach joins
    val unique = (0L until 40L).map(i =>
      (i, s"document nr$i speaks only about topic$i and nothing else " +
        s"item${i}a item${i}b item${i}c item${i}d item${i}e"))
      .toDF("doc_id", "text")
    assert(Dedup.cascadeFrom(unique).count() === 0L)
    // and a corpus of pure exact copies collapses BEFORE the near-dup
    // stage: 4 distinct texts x 10 copies -> canonicals only, so any
    // pair the cascade reports carries both sides' copy counts
    val copies = (0L until 40L).map(i =>
      (i, s"shared text body variant nr${i % 4} with the same tail of words"))
      .toDF("doc_id", "text")
    val out = Dedup.cascadeFrom(copies)
      .select($"a_id", $"b_id", $"a_copies", $"b_copies")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.forall { case (a, b, ac, bc) =>
      a < 4 && b < 4 && ac === 10L && bc === 10L })
  }

  test("graft_pairs skips null array elements instead of crashing") {
    graft.functions.PairExplode.register(spark)
    val rows = spark.sql(
      """SELECT p.* FROM (SELECT array(
           named_struct('id', 1L, 'v', 'a'),
           CAST(NULL AS struct<id: bigint, v: string>),
           named_struct('id', 2L, 'v', 'b'),
           named_struct('id', 3L, 'v', 'c')) AS ms)
         LATERAL VIEW graft_pairs(ms) p AS a, b""")
      .select($"a.id", $"b.id").as[(Long, Long)].collect().toSeq
    assert(rows === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("sorted-intersect-count equals array_intersect size on random arrays") {
    val rnd = new scala.util.Random(7)
    def randArr(n: Int): Seq[String] =
      Seq.fill(n)(s"w${rnd.nextInt(40)}").distinct.sorted
    val cases = Seq.fill(60)((randArr(rnd.nextInt(30)), randArr(rnd.nextInt(30)))) ++
      Seq((Seq.empty[String], Seq("a")), (Seq.empty[String], Seq.empty[String]),
        (Seq("a", "b"), Seq("c", "d")))
    val df = cases.toDF("a", "b")
      .select(
        graft.functions.ArraySets
          .sortedIntersectCount(spark, $"a", $"b").as("fast"),
        size(array_intersect($"a", $"b")).cast("long").as("ref"))
    assert(df.filter($"fast" =!= $"ref").count() === 0L)
    // long arrays take the integer compare path
    val lc = Seq((Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L))).toDF("a", "b")
      .select(graft.functions.ArraySets
        .sortedIntersectCount(spark, $"a", $"b").as("c"))
      .collect().head.getLong(0)
    assert(lc === 2L)
  }

  test("graft_sqdist equals driver-side integer L2 and skips null elements") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextLong() % 1000000L),
        Array.fill(64)(rnd.nextLong() % 1000000L))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select($"id", graft.functions.Vectors
        .sqDistLong(spark, $"a", $"b").as("d"))
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (id, a, b) =>
      var want = 0L
      (0 until 64).foreach { i => val d = a(i) - b(i); want += d * d }
      assert(got(id) === want, s"id=$id")
    }
    // null elements are skipped, not garbage-read (SQL-reachable path)
    graft.functions.Vectors.sqDistLong(spark, lit(0), lit(0)) // register
    val withNulls = spark.sql(
      """SELECT graft_sqdist(array(1L, NULL, 5L), array(4L, 7L, NULL)) AS d,
                graft_sqdist(CAST(NULL AS array<bigint>), array(1L)) AS n""")
      .collect().head
    assert(withNulls.getLong(0) === 9L)
    assert(withNulls.isNullAt(1))
  }

  // Brute-force transitive closure: every id mapped to its component's
  // minimum id.
  private def unionFind(ids: Seq[Long],
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    ids.map(i => i -> find(i)).toMap
  }

  // Shapes that are not already min-centred stars: long paths (the
  // loop's halving does the work wherever the path spans partitions),
  // stars on the highest id, bridged cliques, isolated nodes, and a
  // seeded random graph.
  private def checkCcShapes(): Unit = {
    def check(ids: Seq[Long], edges: Seq[(Long, Long)]): Unit = {
      val docs = ids.toDF("doc_id")
      val pairs = edges.toDF("a_id", "b_id")
      val got = Dedup.ccFromPairs(docs, pairs, ordered = false)
        .as[(Long, Long)].collect().toMap
      assert(got === unionFind(ids, edges))
    }
    // path: diameter 129 — one partition solves it locally; spread
    // over several it needs the halving loop
    check(0L until 130L, (0L until 129L).map(i => (i, i + 1L)))
    // star centered on the HIGHEST id: every leaf must still win the min
    check(0L until 20L, (0L until 19L).map(i => (19L, i)))
    // two cliques joined by one bridge edge + isolated nodes
    val cliqueA = for (a <- 0L until 8L; b <- (a + 1) until 8L) yield (a, b)
    val cliqueB = for (a <- 20L until 28L; b <- (a + 1) until 28L) yield (a, b)
    check((0L until 8L) ++ (20L until 28L) ++ Seq(90L, 91L),
      cliqueA ++ cliqueB ++ Seq((7L, 20L)))
    // seeded random graph: 60 nodes, 45 edges -> several odd components
    val rnd = new scala.util.Random(42)
    val ids = (0L until 60L).toSeq
    val rndEdges = Seq.fill(45)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    check(ids, rndEdges)
  }

  test("ccFromPairs matches union-find on adversarial graph shapes") {
    checkCcShapes()
  }

  test("ccFromPairs stitches components that span shuffle partitions") {
    // The local union-find pass runs over the caller's pair partitions:
    // a local relation's rows are sliced over the default parallelism,
    // so the long path and the random graph span pair partitions and the
    // stitching round loop (frontier + pointer halving) joins their
    // stars. Without coalescing, the star aggregate and the loop's
    // exchanges also spread over every shuffle partition.
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try checkCcShapes()
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("ccFromPairs stitches a path whose edges are spread over 16 partitions") {
    // repartition(16) scatters the path's 129 edges round-robin, so each
    // partition's local pass sees a few disconnected edges and the
    // stitching loop does the work
    val ids = 0L until 130L
    val edges = (0L until 129L).map(i => (i, i + 1L))
    val got = Dedup.ccFromPairs(ids.toDF("doc_id"),
        edges.toDF("a_id", "b_id").repartition(16), ordered = false)
      .as[(Long, Long)].collect().toMap
    assert(got === unionFind(ids, edges))
  }

  test("ccFromPairs ignores pairs with a null endpoint") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)))
      .toDF("a_id", "b_id")
    val got = Dedup.ccFromPairs(Seq(1L, 2L, 3L).toDF("doc_id"), pairs)
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  /** `body`'s result and the number of jobs started while it ran. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(counter)
    val out = try {
      val out = body
      org.apache.spark.sql.GraftShims.waitListenerBusEmpty(spark)
      out
    } finally spark.sparkContext.removeSparkListener(counter)
    (out, jobs.get)
  }

  test("ccFromPairs runs no stitching round when each component sits in one partition") {
    // 4 partitions, each generating 5 whole components, so the local
    // pass solves everything and the conflict count on the initial
    // labels is 0. A stitching round costs a frontier join, a min
    // aggregate, a lookup join and a checkpoint: several jobs on top of
    // the stars checkpoint, the star aggregate and the initial
    // checkpoint.
    val pairs = spark.range(0, 20, 1, 4).as[Long]
      .flatMap(component).toDF("a_id", "b_id")
    val edges = (0L until 20L).flatMap(component)
    val ids = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val (labels, jobs) = jobsIn(
      Dedup.ccFromPairs(ids.toDF("doc_id"), pairs, ordered = false))
    assert(labels.as[(Long, Long)].collect().toMap === unionFind(ids, edges))
    // Measured: 4 jobs with no round, 9 with one forced round.
    assert(jobs <= 6, s"ccFromPairs ran $jobs jobs")
  }

  test("lpaFromPairs solves in place, with no CC, when each component sits in one partition") {
    // the same 4 partitions of 5 whole components each as above: no node
    // appears in two partitions, so the check finds none and the rounds
    // run over the pinned partitions; spread over 16 partitions, the same
    // pairs go through the CC and the exchange by component root
    val pairs = spark.range(0, 20, 1, 4).as[Long]
      .flatMap(component).toDF("a_id", "b_id")
    def labels(p: org.apache.spark.sql.DataFrame): (Map[Long, Long], Int) =
      jobsIn(Dedup.lpaFromPairs(p).as[(Long, Long)].collect().toMap)
    val (local, localJobs) = labels(pairs)
    val (spread, spreadJobs) = labels(pairs.repartition(16))
    assert(local === spread)
    assert(local.size === 20 * 12)
    // Measured, call and collect together: 7 jobs on the partition-local
    // path (pin, check, sorted collect), 28 with the CC and the exchange;
    // the CC's no-round minimum alone is 4 more.
    assert(localJobs <= 9, s"lpaFromPairs ran $localJobs jobs")
    assert(spreadJobs > localJobs)
  }

  test("local union-find pass: stars rooted at each set's minimum") {
    def stars(edges: (Long, Long)*): Seq[(Long, Long)] =
      graft.plans.LocalUnionFind.stars(edges.iterator).toSeq
    // every non-root node once as (v, r) with r its set's min, and the
    // reverse edge once
    def assertStars(edges: Seq[(Long, Long)]): Unit = {
      val got = stars(edges: _*)
      val ids = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val want = unionFind(ids, edges).toSeq.filter { case (v, r) => v != r }
      assert(got.filter { case (a, b) => a > b }.sorted === want.sorted)
      assert(got.filter { case (a, b) => a < b }.map(_.swap).sorted ===
        want.sorted)
    }
    assert(stars().isEmpty) // empty partition
    assert(stars((7L, 3L)) === Seq((7L, 3L), (3L, 7L)))
    assertStars(Seq((5L, 9L), (9L, 5L), (5L, 9L), (9L, 2L), (9L, 2L)))
    // star centred on the highest id
    assertStars((0L until 19L).map(i => (19L, i)))
    // long path fed high end first, past the table's initial capacity
    assertStars((3000L until 0L by -1L).map(i => (i, i - 1L)))
  }

  test("cluster labels equal transitive closure on a chain within the round cap") {
    // a-b, b-c near-dup chain: c must inherit a's label through two hops.
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (11L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (12L, "the quick brown fox jumps over the lazy dog again and again"),
      (99L, "completely unrelated content with no overlap whatsoever at all here")
    ).toDF("doc_id", "text")
    val labels = Dedup.clustersFrom(docs).as[(Long, Long)].collect().toMap
    assert(labels(10L) === 10L)
    assert(labels(99L) === 99L)
    // all three near-dups collapse to the min id
    assert(labels(11L) === 10L && labels(12L) === 10L)
  }

  test("cluster-keyed split never separates a near-dup family") {
    // the pipe_cluster_split leakage invariant, asserted directly on
    // live testdata: every cluster maps to exactly ONE split
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val cc = Dedup.clustersFrom(docs, ordered = false)
    val mille = conv(substring(md5(concat(lit("csplit|"),
      col("cluster").cast("string")).cast("binary")), 1, 12), 16, 10)
      .cast("long") % 1000
    val labeled = docs.join(cc, "doc_id")
      .select(col("cluster"),
        when(mille < 980, "train").when(mille < 990, "val")
          .otherwise("test").as("split"))
    val maxSplitsPerCluster = labeled.groupBy("cluster")
      .agg(countDistinct(col("split")).as("k"))
      .agg(max("k")).collect()(0).getLong(0)
    assert(maxSplitsPerCluster === 1L,
      "a near-dup cluster straddles splits — leakage guard broken")
    // and the guard is not vacuous: at least one multi-doc cluster
    val maxSize = labeled.groupBy("cluster")
      .agg(count(lit(1)).as("n")).agg(max("n")).collect()(0).getLong(0)
    assert(maxSize >= 2L, "testdata has no near-dup family; guard untested")
  }
}

object DedupGuardSpec {
  /** 12-node path plus two chords, ids `c * 100 + 0..11`. Kept out of
    * the spec class so the task closures that call it stay serializable.
    */
  private def component(c: Long): Seq[(Long, Long)] = {
    val base = c * 100
    (0L until 11L).map(i => (base + i + 1, base + i)) ++
      Seq((base + 11, base), (base + 3, base + 9))
  }
}
