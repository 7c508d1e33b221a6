package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Regression guard on PHYSICAL PLAN properties — the scale behaviors
  * (pushdown, pruning, broadcast direction, custom operators, shuffle
  * count) that row-level value checks can't see. A refactor that keeps
  * results identical but, say, un-broadcasts a dimension or drops a
  * partition filter fails here, not at 100 TB.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q2_filter pushes predicates and prunes columns at the scan") {
    val p = plan("q2_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity"), p)
    // projection pruning: untouched wide columns never leave the scan
    assert(!p.contains("l_partkey"), "unused column not pruned:\n" + p)
  }

  test("io_partitioned_prune prunes partition directories") {
    val p = plan("io_partitioned_prune")
    assert(p.contains("PartitionFilters:"), p)
    assert(p.contains("o_orderpriority"), p)
  }

  test("q_dpp plants a dynamic partition pruning subquery on the fact scan") {
    val p = plan("q_dpp")
    assert(p.contains("dynamicpruning"),
      "fact scan not dynamically pruned by the dim-side filter:\n" + p)
    assert(p.contains("PartitionFilters:"), p)
  }

  test("q5_multijoin broadcasts every dimension") {
    val p = plan("q5_multijoin")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBroadcast >= 4, s"expected >=4 broadcast joins, got $nBroadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "fact-side shuffle join crept into the star join:\n" + p)
  }

  test("wordcount runs the fused TokenCounts operator with minimal shuffles") {
    val p = plan("wordcount")
    assert(p.contains("TokenCounts"), p)
    // reference-parity shape: merge agg runs ONCE, then the aggregated
    // vocabulary moves to one partition for the sort — no
    // RangePartitioning exchange (whose boundary sampling would
    // re-execute the whole aggregate as a second job). At the test SF
    // the input is under the tiny-input threshold, so the cost-based
    // DOP path collapses to ONE SinglePartition exchange (agg + sort
    // fused into the final stage); large inputs add the hash-merge
    // exchange back — either way, never more than 2 and never a range.
    val nExchange = "Exchange \\(\\d+\\)".r.findAllIn(p).size
    assert(nExchange <= 2, s"expected <=2 exchanges, got $nExchange:\n$p")
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"sampled range sort crept back in:\n$p")
    assert(p.contains("SinglePartition"), s"expected single-partition sort tail:\n$p")
  }

  test("wordcount merges partials in TokenCountsMerge: no HashAggregate, one hash exchange") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, SinglePartition}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import spark.implicits._
    val rows = (1 to 50).map(i => s"w$i a b")
    // an RDD-backed frame has unknown size: sortedCounts' distributed path
    val unknown = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 4),
      StructType(StructField("value", StringType) :: Nil))
    val tiny = rows.toDF("value")
    /** The exchanges of `input`'s word count, from its final adaptive
      * plan once run (EnsureRequirements' exchanges are planted inside
      * AQE, so the pre-adaptive plan does not hold them). */
    def exchanges(name: String, input: DataFrame): Seq[Partitioning] = {
      val wc = graft.operators.WordCount.counts(input, col("value"))
      wc.collect()
      val p = wc.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("isFinalPlan=true") && p.contains("TokenCountsMerge"), s"$name:\n$p")
      assert(!p.contains("HashAggregate") && !p.contains("partial_sum"),
        s"$name path aggregates partials twice:\n$p")
      new AdaptiveSparkPlanHelper {}.collect(wc.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }
    }
    val dist = exchanges("distributed", unknown)
    assert(dist.size == 2 && dist.count(_ == SinglePartition) == 1, dist)
    assert(dist.count {
      case HashPartitioning(Seq(w: Attribute), _) => w.name == "word"
      case _ => false
    } == 1, dist)
    assert(exchanges("tiny", tiny) == Seq(SinglePartition))
  }

  test("q_topk plans as TakeOrderedAndProject, not global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  // pre-adaptive physical plan (executedPlan is an AdaptiveSparkPlanExec
  // LEAF that collect() does not descend into)
  private def physical(name: String): org.apache.spark.sql.execution.SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }

  private val pairIds = Set("a_id", "b_id")
  private val docIds = pairIds + "doc_id"

  private def keyNames(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
    keys.flatMap(_.references.map(_.name)).toSet

  test("minhash pairs: fixed-width buckets, graft_pairs, no pair-keyed agg or join") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = plan("dedup_minhash_pairs")
    // the explicit fixed-width repartition must survive optimization —
    // it is what stops AQE coalescing the quadratic pair fan-out narrow
    assert(p.contains("REPARTITION_BY_NUM"),
      "explicit bucket partitioning was optimized away:\n" + p)
    assert(p.contains("graft_pairs"),
      "pairs no longer generated inside the bucket lists:\n" + p)
    // each pair is born once with its signatures at hand: no dedup
    // aggregate and no re-attach join keyed on the pair ids
    val exec = physical("dedup_minhash_pairs")
    val pairAggs = exec.collect {
      case a: BaseAggregateExec
          if (keyNames(a.groupingExpressions) & pairIds).nonEmpty => a
    }
    assert(pairAggs.isEmpty, "pair-keyed aggregate back in the plan:\n" + exec)
    val pairJoins = exec.collect {
      case j: BaseJoinExec
          if (keyNames(j.leftKeys ++ j.rightKeys) & pairIds).nonEmpty => j
    }
    assert(pairJoins.isEmpty, "pair-keyed join back in the plan:\n" + exec)
  }

  test("minhash pairs past broadcast reach: no doc-keyed join, hot-set broadcast kept") {
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    // Force the size gate shut (cap = 0 bytes) and disable Spark's own
    // stats-based broadcast pick — the shape a 100 TB corpus gets.
    val conf = spark.conf
    val prevCap = conf.getOption("spark.graft.dedup.broadcastCorpusBytes")
    val prevAuto = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.graft.dedup.broadcastCorpusBytes", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val exec = physical("dedup_minhash_pairs")
      // no join keyed on a doc id at all: nothing re-attaches
      // signatures, so nothing degrades to a doc-keyed shuffle join
      val docJoins = exec.collect {
        case j: BaseJoinExec
            if (keyNames(j.leftKeys ++ j.rightKeys) & docIds).nonEmpty => j
      }
      assert(docJoins.isEmpty, "doc-keyed join in the pair plan:\n" + exec)
      // the hot-bucket set attaches as ONE one-row broadcast — REQUIRED
      // present, so the guard cannot vanish silently
      val hotSet = exec.collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(hotSet.size == 1,
        s"expected exactly one hot-set broadcast, got ${hotSet.size}:\n" + exec)
      assert(hotSet.head.children.exists(_.toString.contains("collect_set")),
        "the one broadcast is not the hot-set collect:\n" + exec)
    } finally {
      prevCap.fold(conf.unset("spark.graft.dedup.broadcastCorpusBytes"))(
        conf.set("spark.graft.dedup.broadcastCorpusBytes", _))
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }

  test("topk_per_key uses the heap operator, no SortExec before it") {
    val p = plan("q_topk_per_key")
    assert(p.contains("TopKPerKey"), p)
  }

  test("bloom decontamination: bitset broadcast as one row, probe before exact join") {
    val p = plan("dedup_bloom_contam")
    // the bitset attaches via a one-row cross broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("graft_bloom"), p)
    // the probe filter must sit BELOW the exact (hash) join in the
    // physical tree: only survivors reach the join — the point of the
    // pushdown. Checked structurally, not by explain-string offsets.
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    // executedPlan is an AdaptiveSparkPlanExec LEAF — collect() does not
    // descend into it; traverse the pre-adaptive plan instead
    val exec = SparkEntry.queries("dedup_bloom_contam")(spark, sf)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    // Catalyst fuses the probe into the one-row cross join's condition
    // (or leaves it as a Filter above it) — accept either, but it must
    // be BENEATH the exact hash join
    def hasProbe(plan: org.apache.spark.sql.execution.SparkPlan): Boolean =
      plan.collect {
        case j: BroadcastNestedLoopJoinExec
            if j.condition.exists(_.toString.contains("shiftright")) => j
        case f: FilterExec if f.condition.toString.contains("shiftright") => f
      }.nonEmpty
    val ok = exec.collect {
      case j: BroadcastHashJoinExec if j.children.exists(hasProbe) => j
    }.nonEmpty
    assert(ok, "no exact join with the bloom-probe beneath it:\n" + exec)
  }

  test("PQ scoring: ADC tables broadcast onto the code scan, no merge join") {
    val p = plan("sim_pq_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus-sized codes frame must never be the build side of a
    // sort-merge join during scoring
    assert(!p.contains("SortMergeJoin"),
      "codes path fell back to a shuffle join:\n" + p)
  }

  test("zorder box read prunes nothing logically but keeps both predicates pushed") {
    val p = plan("io_zorder_box")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("o_custkey"), p)
    assert(p.contains("o_orderdate"), p)
  }

  test("range search is map-shaped: probes broadcast, no shuffle join anywhere") {
    val p = plan("sim_range_search")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "probe side not broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus side shuffled for a map-only contract:\n" + p)
  }

  test("winnow runs the fused generator, not the HOF chain") {
    val p = plan("txt_winnow")
    assert(p.contains("graft_winnow"), p)
    assert(!p.contains("transform("), "interpreted HOFs back in the plan:\n" + p)
  }

  test("salted join shuffles on (key, salt), never broadcasts the exploded dim") {
    val p = plan("q_salted_join")
    assert(!p.contains("BroadcastHashJoin"),
      "broadcast makes the salt a no-op:\n" + p)
    assert(p.contains("_salt"), p)
  }

  test("lm score: count tables join back without a cartesian or merge-join fallback") {
    val p = plan("txt_lm_score")
    assert(!p.contains("CartesianProduct"), p)
    // unigram side is count-table-sized -> must broadcast under AQE/stats
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin"), p)
  }

  test("ppjoin and sparse cosine run the fused generator, never a cartesian") {
    for (q <- Seq("dedup_ppjoin_pairs", "sim_sparse_pairs")) {
      val p = plan(q)
      if (q != "dedup_ppjoin_pairs")
        assert(p.contains("graft_ngrams"),
          s"$q lost the fused n-gram generator:\n" + p)
      assert(!p.contains("transform("),
        s"$q: interpreted HOFs back in the plan:\n" + p)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q: pair generation must be an equi-join on the posting key:\n" + p)
    }
    // ppjoin materializes its posting table once (localCheckpoint), so
    // the final plan starts at the checkpoint scan — the generator
    // guard lives on the PRE-checkpoint posting subplan (the round-5
    // incident this pins: the interpreted transform/slice shingle form
    // is O(tokens^2)/doc, 15+ min vs seconds at x20)
    val docs = Tables.documents(spark, sf)
    val posts = graft.queries.Dedup.ppjoinPosts(docs, 3)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(posts.contains("graft_ngrams"),
      "ppjoin posting table lost the fused n-gram generator:\n" + posts)
    assert(!posts.contains("transform("),
      "ppjoin posting table: interpreted HOFs crept back:\n" + posts)
  }

  test("substring cut: fingerprint shuffle shape, rebuild stays row-local") {
    val p = plan("pipe_substr_cut")
    assert(p.contains("graft_window_hashes"),
      "cut op lost the fused rolling-fingerprint generator:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "cut lookup must be an equi-join on the fingerprint:\n" + p)
    // the per-doc rebuild (indexed-lambda filter over the token array)
    // is the ONE place interpreted HOFs are accepted: output-sized,
    // per-doc bounded, no shuffle of rebuilt text — pin that the plan
    // has no window-content exchange by checking the only exchanges are
    // on ids/fingerprints (span collect + final sort are doc_id-keyed)
    assert(!p.contains("Exchange hashpartitioning(win"),
      "window text became a shuffle key:\n" + p)
  }

  test("substring spans: fused window-hash generator, equi-join, no text shuffle") {
    val p = plan("dedup_substrings")
    assert(p.contains("graft_window_hashes"),
      "lost the fused rolling-fingerprint generator:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "duplicate join-back must be an equi-join on the fingerprint:\n" + p)
    // the shuffles carry (pos, h1, h2) / (doc_id, pos) — never window
    // TEXT; a slice/array_join of token windows reappearing in the plan
    // means the O(positions * L) content blowup crept back
    assert(!p.contains("array_join") && !p.contains("slice("),
      "window text materialization crept back into the plan:\n" + p)
  }

  test("span dedup: one window over the span key, no self-join back") {
    val p = plan("dedup_spans")
    assert(p.contains("graft_chunks"), p)
    assert(p.contains("Window"), p)
    // the first-occurrence rule must NOT be a join of spans to spans
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"),
      "window-min formulation replaced by a join-back:\n" + p)
  }

  test("incremental probe past broadcast reach degrades to shuffle joins") {
    val conf = spark.conf
    val prevCap = conf.getOption("spark.graft.dedup.broadcastCorpusBytes")
    val prevAuto = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.graft.dedup.broadcastCorpusBytes", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("dedup_incremental")
      assert(!p.contains("BroadcastHashJoin"),
        "size gate shut but a broadcast join still planned:\n" + p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally {
      prevCap.fold(conf.unset("spark.graft.dedup.broadcastCorpusBytes"))(
        conf.set("spark.graft.dedup.broadcastCorpusBytes", _))
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }

  test("asof nearest: two linear window passes, no interval cross-product") {
    val p = plan("ev_asof_nearest")
    // the union-tag formulation: running-window passes, never a range
    // condition exploding into a nested-loop/cartesian join
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("kmv setops: group synopses collapse to one-row algebra, no wide join") {
    val p = plan("q_kmv_setops")
    // the only cartesian allowed is the deliberate 1-row x 1-row
    // attach of the exact counts; a corpus-sized cartesian would plan
    // as a join with a scan on both sides below it (here each side is
    // a full aggregate -> single row)
    assert(p.contains("graft_kmv_sketch") || p.contains("kmv"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("triangle counting: orientation bounds the join, no cartesian") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the wedge stream must stay inside the codegen'd intersect, never
    // a materialized join input
    assert(p.contains("graft_sorted_intersect_longs"),
      "adjacency-intersection path missing:\n" + p)
  }

  test("edge jaccard: codegen'd intersect over adjacency arrays, no cartesian") {
    val p = plan("graph_edge_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("graft_sorted_intersect_count"),
      "codegen'd sorted-intersect count missing:\n" + p)
  }

  test("bm25: query terms and corpus stats attach by broadcast only") {
    val p = plan("txt_bm25")
    assert(!p.contains("CartesianProduct"), p)
    // the 1-row stats cross-attach must be broadcast, not shuffled
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("weighted sampling: top-k heap, never a global sort") {
    val p = plan("pipe_sample_weighted")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      "global sort planned for a k=10 selection:\n" + p)
  }

  test("ngram novelty: gram strings never cross an exchange") {
    val p = plan("txt_ngram_novelty")
    // both shuffles key on the fixed-width xxhash64 column
    assert(!p.contains("hashpartitioning(ngram"),
      "raw gram string used as a shuffle key:\n" + p)
  }

  test("cms: 1-row sketch attaches by broadcast; top keys are a heap") {
    val p = plan("q_cms_freq")
    assert(p.contains("graft_cms"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 selection planned as a global sort:\n" + p)
    // the sketch row must broadcast — a shuffled or cartesian attach
    // would move the scored side for a constant-size right side
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("lpa: never a window") {
    val p = plan("graph_lpa")
    assert(!p.contains("Window"), "label argmax planned as a window:\n" + p)
  }

  test("lpa: the plan's exchange count does not grow with the round count") {
    // the rounds run inside one task per partition of whole components,
    // so doubling them adds no exchange (a per-round join + aggregate
    // plan adds one or more per round)
    def exchanges(rounds: Int): Int = {
      val pairs = graft.queries.Dedup.minhashPairsFrom(
        Tables.documents(spark, sf), ordered = false).select("a_id", "b_id")
      val p = graft.queries.Dedup.lpaFromPairs(pairs, rounds)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      """(?m)^\(\d+\) Exchange""".r.findAllIn(p).size
    }
    val four = exchanges(4)
    assert(four >= 1, "no exchange at all: the doc_id sort is one")
    assert(exchanges(8) === four)
  }

  test("bfs: relaxation is equi-joins + min aggs, never a window") {
    val p = plan("graph_bfs")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("walks: per-node neighbor ranks, equi-join picks, no cross product") {
    val p = plan("graph_walks")
    // the rank window partitions by node — present, but the picks must
    // stay equi-joins on (node, rank), never a theta/cross join
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pmi: margins join after the support filter, top-50 is a heap") {
    val p = plan("txt_pmi")
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 selection planned as a global sort:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("copurchase: basket count attaches by broadcast, top-200 is a heap") {
    val p = plan("q_copurchase_pairs")
    // the 1-row n_baskets agg must attach as a broadcast nested-loop
    // (constant right side), never shuffle the pair stream against it
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-200 selection planned as a global sort:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("profile: one scan, multi-distinct via Expand, no re-scan per column") {
    val p = plan("pipe_profile")
    // Catalyst plans the 5-way multi-distinct as ONE scan + Expand;
    // a per-column UNION rewrite would show 5 scans of documents.
    // Count the numbered detail headers, not bare substrings (each
    // operator appears twice in formatted explain: tree + detail).
    val nScans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(nScans == 1, s"expected exactly 1 documents scan, got $nScans:\n$p")
    assert(p.contains("Expand"), p)
    // the wide text column's distinct rides its md5 digest: the
    // generate/stack pivot happens AFTER the aggregate, on one row
    assert(p.contains("Generate") || p.contains("stack"), p)
  }

  test("sql pipe syntax plans identically to its ANSI form") {
    // the pipe chain is parser surface only: FROM |> WHERE |> EXTEND |>
    // AGGREGATE |> WHERE |> SELECT |> ORDER BY must reach Catalyst as
    // the same logical plan the ANSI text produces — compared here as
    // the physical operator-name sequence of the formatted tree,
    // MODULO Project nodes: the pipe's |> SELECT rename stage leaves
    // one extra attribute-only Project (fused into the surrounding
    // WholeStageCodegen — zero runtime cost); every shuffle, agg,
    // filter and sort must match exactly
    def opNames(p: String): Seq[String] =
      p.linesIterator.takeWhile(_.trim.nonEmpty)
        .flatMap("""[A-Za-z]+[A-Za-z ]*\(\d+\)""".r.findFirstIn(_))
        .map(_.replaceAll("""\s*\(\d+\)""", "").trim)
        .filterNot(_ == "Project").toSeq
    val pipe = plan("q_sql_pipe")
    Tables.orders(spark, sf).createOrReplaceTempView("sql_orders")
    val ansi = spark.sql("""
        SELECT o_orderpriority AS prio, count(1) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents_total
        FROM sql_orders
        WHERE year(o_orderdate) = 1995
        GROUP BY o_orderpriority
        HAVING count(1) > 5
        ORDER BY prio""")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(opNames(pipe) == opNames(ansi),
      s"pipe plan diverged from ANSI plan:\n$pipe\n--- vs ---\n$ansi")
  }

  test("skyline: fact scan collapses to the per-part agg before any window") {
    val p = plan("q_skyline")
    // window input must be the aggregated per-part set, so the agg
    // appears below the window in the tree; the scan reads only the
    // three needed columns
    assert(p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("l_orderkey"),
      "unused lineitem columns not pruned from the skyline scan:\n" + p)
  }

  test("filtered ANN: label predicate is an equi-key of a broadcast join, not a post-filter") {
    val p = plan("sim_filtered_topk")
    assert(p.contains("BroadcastHashJoin"),
      "probe frame not broadcast:\n" + p)
    // pre-filter contract: the label equality participates in the join
    // (a BroadcastNestedLoopJoin would mean it degenerated to a
    // filtered cross product scoring every pair first)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "label filter fell out of the join keys:\n" + p)
    // formatted mode prints keys in the detail block ("Left keys [..]:
    // [label#..]"), not on the tree line
    assert(p.linesIterator.exists(l => l.contains("keys") && l.contains("label")),
      "label not among the broadcast join keys:\n" + p)
  }

  test("sorted-neighborhood: offset pairing is an equi-join, never a range nested loop") {
    val p = plan("dedup_sorted_neighborhood")
    // the W-window neighbor condition must reach the join as (blk, rn)
    // equi-keys via the offset explode — a BETWEEN formulation plans a
    // nested-loop that touches every same-block pair
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "neighbor pairing degenerated to a non-equi join:\n" + p)
    assert(p.contains("Generate"), "offset explode missing:\n" + p)
  }

  test("lsh recall: metric aggregates attach as broadcast 1-row frames") {
    val p = plan("dedup_lsh_recall")
    // n_est / n_hit are 1-row aggregates crossJoin-attached under
    // broadcast — a shuffled cross join here would be a plan bug
    assert(!p.contains("CartesianProduct"),
      "1-row attach planned as a cartesian product:\n" + p)
  }

  test("decimal aggregation stays one hash aggregate over the scan") {
    val p = plan("q_decimal_exact")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"),
      "decimal sum fell off the hash-agg path:\n" + p)
    assert(!p.contains("l_partkey"),
      "unused columns not pruned from the decimal scan:\n" + p)
  }
}
